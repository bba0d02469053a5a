package graft.operators

import graft.functions.GeoFunctions.lnq
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed Lloyd's k-means over an embedding column, built as the
  * training step for IVF-style ANN search ([[Ann.ivfTopK]] coarse
  * quantization — its scaladoc defers exactly this).
  *
  * Engine-exactness: coordinates quantize once to integer micro-units
  * (`floor(x·1e6 + 0.5)` as long), assignment minimizes the *integer*
  * squared L2 distance (ties → lowest cluster id), and the centroid
  * update is `floor(Σq / n)` — floor of a double quotient whose operands
  * are < 2⁵³, which is bit-identical in any IEEE engine because an
  * integer-valued rational p/n is never within 1/n of a *different*
  * integer. Every iteration is therefore reproducible bit-for-bit by the
  * SQL oracle (one unrolled CTE block per iteration) and across cluster
  * re-runs, which is what makes the trained centroids auditable.
  *
  * Scale shape (the same one MLlib's k-means uses): the quantized corpus
  * is materialized once via the `share` hook; each iteration is one
  * shuffle-free projection (the k distance subexpressions are codegen'd
  * higher-order functions over a broadcast-literal centroid array — no
  * join, no window) followed by one map-side-combinable groupBy over
  * (cluster, dim) whose k·dim result rows collect to the driver. Driver
  * state is k·dim longs per iteration — constant in corpus size, so the
  * loop holds at 100 TB as long as k·dim stays driver-sized (guarded).
  *
  * Empty clusters keep their previous centroid (count 0 that round) —
  * deterministic and oracle-expressible, vs. the common random-reseed.
  */
object KMeans {

  /** Fitted model: `centroids(c)(d)` in micro-units; `counts(c)` = size
    * of the final assignment (the one that produced these centroids).
    */
  final case class Model(centroids: Array[Array[Long]], counts: Array[Long]) {
    def k: Int = centroids.length
    def dim: Int = centroids.headOption.map(_.length).getOrElse(0)
  }

  /** Quantized long-form vector: `transform` runs in the scan stage. */
  private[operators] def quantize(vecCol: Column, scale: Double): Column =
    transform(vecCol, x => floor(x * scale + lit(0.5)).cast(LongType))

  /** argmin over k broadcast-literal centroids as ONE native codegen
    * kernel ([[graft.plans.ArgminQuantizedL2]]): a tight primitive k×dim
    * loop per row, no join, no shuffle. The previous composed form —
    * `least(struct(aggregate(zip_with(...)), id), ...)` — evaluated k
    * higher-order lambda chains per row as CodegenFallback (an
    * interpreted call per dimension per centroid per row — the dominant
    * CPU of every assignment/encode pass); the kernel replicates its
    * semantics exactly, including the tie→lowest-id struct ordering and
    * the null-distance-sorts-first corner (ArgminExpressionSpec pins
    * kernel ≡ composed form on randoms and every edge case).
    */
  private[operators] def nearestScored(cents: Array[Array[Long]], qCol: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.ArgminQuantizedL2(ColumnShim.expression(qCol), cents))
  }

  private[operators] def nearest(cents: Array[Array[Long]], qCol: Column): Column =
    nearestScored(cents, qCol).getField("c")

  /** Run `iters` Lloyd's iterations from the k lowest-id vectors (the
    * deterministic seeding [[Ann.ivfTopK]] already uses).
    *
    * @param emb   (idCol, vecCol: array<float|double>) — all vectors must
    *              share one dimensionality
    * @param share persistence hook for the quantized corpus, which every
    *              iteration re-reads (defaults to [[Share.materialize]];
    *              pass [[Share.none]] to keep pure lineage and recompute
    *              the scan each iteration)
    */
  def fit(emb: DataFrame, k: Int, iters: Int,
          idCol: String = "vec_id", vecCol: String = "embedding",
          quantScale: Double = 1e6,
          share: DataFrame => DataFrame = Share.materialize): Model = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")

    val q = share(emb.select(col(idCol).as("_id"), quantize(col(vecCol), quantScale).as("_q")))

    // seeds: the k lowest-id vectors, cluster id = rank in that order
    val seeds = q.orderBy(col("_id")).limit(k).collect()
    require(seeds.length == k, s"corpus has ${seeds.length} vectors, need >= k=$k")
    var cents: Array[Array[Long]] = seeds.map(_.getSeq[Long](1).toArray)
    val dim = cents.head.length
    require(cents.forall(_.length == dim), "ragged embedding dimensionality")
    require(k.toLong * dim <= 100000000L,
      s"k=$k, dim=$dim: driver holds k*dim longs per iteration; keep k*dim <= 1e8")
    var counts = Array.fill(k)(0L)

    for (_ <- 1 to iters) {
      val assigned = q.select(nearest(cents, col("_q")).as("_c"), col("_q"))
      val sums = assigned
        .select(col("_c"), posexplode(col("_q")).as(Seq("_pos", "_val")))
        .groupBy(col("_c"), col("_pos"))
        .agg(sum(col("_val")).as("_s"), count(lit(1)).as("_n"))
        .collect()
      val next = cents.map(_.clone())
      val nextCounts = Array.fill(k)(0L)
      sums.foreach { r =>
        val c = r.getLong(0).toInt
        val pos = r.getInt(1)
        val s = r.getLong(2)
        val n = r.getLong(3)
        // floor of the double quotient: exact (|s| < 2^53, see scaladoc)
        next(c)(pos) = math.floor(s.toDouble / n).toLong
        nextCounts(c) = n
      }
      cents = next
      counts = nextCounts
    }
    Model(cents, counts)
  }

  /** Long-form centroid frame for the fitted model: one row per
    * (cluster, dimension), `pos` 1-based to match SQL subscripts.
    * Empty clusters appear with n = 0 and their carried-over centroid.
    */
  def centroidsDf(emb: DataFrame, k: Int, iters: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  quantScale: Double = 1e6): DataFrame = {
    val spark = emb.sparkSession
    val m = fit(emb, k, iters, idCol, vecCol, quantScale)
    val rows = for {
      c <- m.centroids.indices
      d <- 0 until m.dim
    } yield Row(c.toLong, (d + 1).toLong, m.centroids(c)(d), m.counts(c))
    val schema = StructType(Seq(
      StructField("cluster_id", LongType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("cval", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** Assign each vector to its nearest fitted centroid (same integer
    * metric and tie rule as training). Pure projection — no shuffle.
    */
  def assign(emb: DataFrame, model: Model, vecCol: String = "embedding",
             quantScale: Double = 1e6): DataFrame =
    emb.withColumn("cluster_id", nearest(model.centroids, quantize(col(vecCol), quantScale)))

  /** Cluster purity against an external label column — the quick "did
    * unsupervised structure recover the known classes" check run after
    * any embedding-space clustering (topic balance audits, encoder
    * regression tests). Per cluster: size, the majority label (ties →
    * lowest label, via one lexicographic struct-min — no second window),
    * its count, and purity = n_majority / n. All counts exact longs;
    * the division is last.
    *
    * Scale shape: training is [[fit]]'s bounded-driver-state loop;
    * assignment is the shuffle-free codegen projection; the only data
    * motion is a map-side-combinable (cluster, label) count bounded by
    * k·|labels|, then a k-row reaggregation.
    */
  def clusterPurity(emb: DataFrame, k: Int, iters: Int,
                    labelCol: String = "label",
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    quantScale: Double = 1e6): DataFrame =
    clusterPurity(emb, fit(emb, k, iters, idCol, vecCol, quantScale),
      labelCol, vecCol, quantScale)

  /** [[clusterPurity]] against an already-trained model — the
    * production shape: clusters are trained once per corpus snapshot
    * and every eval row (purity, drift, outliers) reads the same model.
    */
  def clusterPurity(emb: DataFrame, model: Model, labelCol: String,
                    vecCol: String, quantScale: Double): DataFrame = {
    assign(emb, model, vecCol, quantScale)
      .groupBy(col("cluster_id"), col(labelCol).cast("long").as("_lbl"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("_n")).as("n"),
        min(struct((-col("_n")).as("_neg"), col("_lbl"))).as("_top"))
      .select(col("cluster_id"), col("n"),
        col("_top._lbl").as("majority_label"),
        (-col("_top._neg")).as("n_majority"))
      .withColumn("purity", col("n_majority").cast("double") / col("n").cast("double"))
  }

  /** Distance-to-centroid outliers: fit a model, assign every vector to
    * its nearest *final* centroid (same integer metric and tie rule as
    * training), and return the `topN` farthest vectors — the
    * embedding-space outlier candidates a curation pass reviews or drops
    * (mislabeled points, encoder glitches, off-distribution content).
    *
    * Engine-exactness: `dist_q` is the integer squared L2 distance in
    * quantized micro-units — the exact longs the training loop itself
    * ranks on — so the top-N set and its ordering (distance desc, id asc)
    * reproduce bit-for-bit in any engine running the same arithmetic.
    *
    * Scale shape: training is [[fit]]'s bounded-driver-state loop; the
    * assignment+distance pass is a shuffle-free codegen projection over
    * broadcast-literal centroids, and the top-N lands via orderBy+limit —
    * Spark plans TakeOrdered (per-partition heaps + driver merge of
    * topN·partitions rows), never a global sort. The final rank window
    * runs on the ≤ topN collected rows.
    */
  def outliers(emb: DataFrame, k: Int, iters: Int, topN: Int = 20,
               idCol: String = "vec_id", vecCol: String = "embedding",
               quantScale: Double = 1e6): DataFrame =
    outliers(emb, fit(emb, k, iters, idCol, vecCol, quantScale),
      topN, idCol, vecCol, quantScale)

  /** [[outliers]] against an already-trained model (see
    * [[clusterPurity]] for the train-once rationale).
    */
  def outliers(emb: DataFrame, model: Model, topN: Int,
               idCol: String, vecCol: String, quantScale: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = nearestScored(model.centroids, quantize(col(vecCol), quantScale))
    emb
      .select(col(idCol).as("vec_id"),
        s.getField("c").as("cluster_id"), s.getField("d").as("dist_q"))
      .orderBy(col("dist_q").desc, col("vec_id"))
      .limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("dist_q").desc, col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("cluster_id"), col("dist_q"))
  }

  /** Fitted centroids in the (cell id, float vector) shape
    * [[Ann.ivfTopK]] consumes, de-quantized back to the embedding scale.
    */
  def asIvfCentroids(model: Model, quantScale: Double = 1e6): (Array[Long], Array[Array[Float]]) =
    (model.centroids.indices.map(_.toLong).toArray,
      model.centroids.map(_.map(v => (v / quantScale).toFloat)))

  /** Embedding-distribution drift between two corpora — the
    * embedding-space twin of [[TextAnalysis.vocabDrift]], closing the
    * ingest-monitoring pair (words drift? meanings drift?): fit k-means
    * on a shared `train` corpus, assign both corpora to the shared
    * clusters (a pure projection — no shuffle beyond the per-cluster
    * count), and per cluster report the difference of smoothed
    * log-occupancies
    *   drift_q = [lnq(n_a+α) − lnq(N_a+α·k)] − [lnq(n_b+α) − lnq(N_b+α·k)]
    * under the [[TextAnalysis.lmScore]] quantized-ln contract (ln on
    * integers only, floored to 1e-6 units — every output is a long, so
    * an external engine reproduces it bit-for-bit). The table is dense
    * over all k clusters (a cluster abandoned by both corpora still
    * reports its smoothing-only drift of 0, and one abandoned by only
    * one corpus reports the full signal).
    *
    * Scale shape: training is [[fit]]'s bounded-driver-state loop; each
    * corpus contributes one codegen assignment scan + one k-row
    * map-side-combinable count; the join/arithmetic runs on k-row
    * frames. Sampling `a`/`b` upstream changes counts, not machinery.
    *
    * @return (cluster_id, n_a, n_b, drift_q) — one row per cluster
    */
  def clusterDrift(train: DataFrame, a: DataFrame, b: DataFrame, k: Int, iters: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   alpha: Long = 1L, quantScale: Double = 1e6): DataFrame =
    clusterDrift(a, b, fit(train, k, iters, idCol, vecCol, quantScale),
      vecCol, alpha, quantScale)

  /** [[clusterDrift]] against an already-trained shared model (see
    * [[clusterPurity]] for the train-once rationale); k is the model's
    * cluster count.
    */
  def clusterDrift(a: DataFrame, b: DataFrame, model: Model, vecCol: String,
                   alpha: Long, quantScale: Double): DataFrame = {
    require(alpha > 0, "clusterDrift: alpha must be positive")
    val k = model.centroids.length
    def counts(d: DataFrame, out: String) = assign(d, model, vecCol, quantScale)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as(out))

    val spine = a.sparkSession.range(k).select(col("id").as("cluster_id"))
    val joined = spine
      .join(counts(a, "_na"), Seq("cluster_id"), "left")
      .join(counts(b, "_nb"), Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        coalesce(col("_na"), lit(0L)).as("n_a"),
        coalesce(col("_nb"), lit(0L)).as("n_b"))
    val totals = joined.agg(sum(col("n_a")).as("_ta"), sum(col("n_b")).as("_tb"))
    joined.crossJoin(broadcast(totals))
      .withColumn("drift_q",
        (lnq(col("n_a") + lit(alpha)) - lnq(col("_ta") + lit(alpha * k))) -
          (lnq(col("n_b") + lit(alpha)) - lnq(col("_tb") + lit(alpha * k))))
      .select(col("cluster_id"), col("n_a"), col("n_b"), col("drift_q"))
  }
}
