package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GeoFunctions.lnq
import graft.functions.PortableHash

/** Linear quality/topic classifier over hashed bag-of-words features —
  * the fastText-style filtering model LLM data pipelines train against a
  * high-quality target corpus (GPT-3's WebText-vs-CommonCrawl filter,
  * LLaMA's Wikipedia-reference classifier, CCNet's language filters) and
  * then apply to every crawled document. Training is full-batch gradient
  * descent; scoring is one scan.
  *
  * Engine-exactness: everything is scaled-long integer arithmetic.
  * Features are integer word counts hashed into `dim` buckets with the
  * portable [[PortableHash.h60]] family (plus a constant bias feature at
  * bucket `dim`); weights live in 1/2¹⁶ units; the link is the hard
  * sigmoid `p = clamp(z/4 + 1/2, 0, 1)`, held in 1/2¹⁸ units as
  * `clamp(z + 2S, 0, 4S)` so the DISTRIBUTED path needs no division at
  * all (integer division is an engine trap: SQL `//`/`div` truncate
  * toward zero, Java shifts floor); the gradient `Σ e·x` is a sum of
  * longs (partitioning-invariant — no float accumulation order
  * anywhere); the only division is the driver-side step
  * `w ← w − floorDiv(G, stepDiv)`, which an oracle reproduces with the
  * explicit floor construction `(G − ((G % d) + d) % d) / d`. Every
  * iteration is therefore bit-for-bit reproducible by an unrolled SQL
  * oracle and across cluster re-runs — the same auditability contract
  * as [[KMeans.fit]].
  *
  * Scale shape (mirrors [[KMeans.fit]]): the feature table materializes
  * once via [[Share.materialize]], partitioned by document; each iteration is
  * one broadcast join against the (dim+1)-row weight table + one
  * groupBy(doc) margin shuffle + one doc-keyed join back + one
  * map-side-combinable groupBy(bucket) whose ≤ dim+1 result rows collect
  * to the driver. Driver state is dim+1 longs — constant in corpus size,
  * so the loop holds at 100 TB while `dim` stays driver-sized (guarded).
  * Scoring never shuffles more than one groupBy(doc).
  */
object Classifier {

  /** Fixed-point scale: weights and margins in 1/S units. */
  val S: Long = 1L << 16

  /** Probability scale: [[pQ]] values live in 1/(4S) = 1/2¹⁸ units, so
    * the hard sigmoid is pure add/clamp on the margin — division-free.
    */
  val PS: Long = 4L * S

  /** Hashed long-form features: one row per (doc, bucket) with the
    * integer word count, plus one bias row (bucket = dim, x = 1) per
    * document — so every document, including empty text, has a feature.
    * `yCol` rides along so training never rejoins labels.
    */
  private def features(docs: DataFrame, dim: Int, yCol: Column,
                       idCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(col(idCol).as("_id"), yCol.as("_y"),
        explode(split(col(textCol), " ")).as("_w"))
      .filter(length(col("_w")) > 0)
      .select(col("_id"), col("_y"),
        pmod(PortableHash.h60(col("_w")), lit(dim.toLong)).as("_b"))
      .groupBy(col("_id"), col("_y"), col("_b"))
      .agg(count(lit(1)).as("_x"))
    val bias = docs.select(col(idCol).as("_id"), yCol.as("_y"),
      lit(dim.toLong).as("_b"), lit(1L).as("_x"))
    counts.unionAll(bias)
  }

  /** Hard-sigmoid probability of a 1/S-unit margin, in 1/(4S) units:
    * `clamp(z + 2S, 0, 4S)` = 4S · clamp(z_real/4 + 1/2, 0, 1) — add
    * and clamp only, no division, identical in every integer engine.
    */
  private def pQ(z: Column): Column =
    greatest(least(z + lit(2L * S), lit(PS)), lit(0L))

  /** Train `iters` full-batch rounds from w = 0.
    *
    * Scale caveat: each round's weights enter the plan as one `typedLit`
    * array, which lives in the generated code, so the intended range is
    * dim ≲ 10³; far larger feature spaces want a broadcast weight table.
    *
    * @param docs    (idCol, textCol, labelCol) — labels must be 0/1 longs
    * @param dim     hashed feature buckets (weights = dim+1 with bias)
    * @param stepDiv integer inverse learning rate: the weight step is
    *                `floorDiv(G, stepDiv)` on the raw 1/(4S)-unit
    *                gradient G = Σ e·x; pick ≈ 4 × corpus size × a few,
    *                larger = smaller steps
    * @return weights in 1/S units, index = bucket, last = bias
    */
  def fit(docs: DataFrame, dim: Int = 64, iters: Int = 4, stepDiv: Long = 131072L,
          idCol: String = "doc_id", textCol: String = "text", labelCol: String = "label"): Array[Long] = {
    require(dim >= 1 && dim.toLong + 1 <= 100000000L,
      s"dim=$dim: driver holds dim+1 longs; keep dim <= 1e8")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(stepDiv >= 1, s"stepDiv must be >= 1, got $stepDiv")

    val x = Share.materialize(features(docs, dim, col(labelCol).cast(LongType), idCol, textCol))
    val w = Array.fill(dim + 1)(0L)

    // weights as a PLAN LITERAL looked up per row (dim+1 longs —
    // driver-sized by the require above) and the per-doc margin as a
    // doc-keyed window over the feature rows: one exchange and ONE pass
    // over x per iteration, where the previous shape paid a broadcast
    // weight-table build, a margin groupBy, a second broadcast build of
    // the per-doc errors, and a second x scan for the join-back
    // (~0.4-0.5 s/iteration of stage latency at gate scale, the r16
    // probe's finding; the arithmetic is unchanged long sums, so every
    // iteration stays bit-identical to the unrolled SQL oracle).
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("_id"))
    for (_ <- 1 to iters) {
      val wLit = typedLit(w.toIndexedSeq)
      // per-doc 1/S margin, then hard-sigmoid error e = p − y·4S in
      // 1/(4S) units, e ∈ [−4S, 4S] — add/clamp/multiply only.
      // element_at is 1-based and _b ∈ [0, dim] by construction, so the
      // lookup can never be out of bounds (ANSI-safe)
      val e = x
        .withColumn("_z",
          sum(col("_x") * element_at(wLit, (col("_b") + 1).cast("int"))).over(byDoc))
        .withColumn("_e", (pQ(col("_z")) - col("_y") * lit(PS)).as("_e"))
      // bucket gradients Σ e·x — exact long sums, ≤ dim+1 rows collect
      val grad = e
        .groupBy(col("_b"))
        .agg(sum(col("_x") * col("_e")).as("_g"))
        .collect()
      grad.foreach { r =>
        val b = r.getLong(0).toInt
        w(b) -= Math.floorDiv(r.getLong(1), stepDiv)
      }
    }
    w
  }

  /** Score documents with trained weights: the 1/S margin `z`, the
    * hard-sigmoid probability `p_q` (1/(4S) units), and the 0/1
    * decision at p ≥ 1/2. One scan + one groupBy(doc): the weights ride
    * in the plan, so corpus-scale scoring is embarrassingly parallel —
    * this is the "apply the quality filter to all of CommonCrawl" step.
    * Same `typedLit` caveat as [[fit]]: intended for dim ≲ 10³.
    */
  def score(docs: DataFrame, weights: Array[Long], dim: Int = 64,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(weights.length == dim + 1,
      s"weights length ${weights.length} != dim+1 = ${dim + 1}")
    // weight lookup as a plan literal (see fit) — same long sums, no
    // broadcast table build per scoring query
    val wLit = typedLit(weights.toIndexedSeq)
    features(docs, dim, lit(0L), idCol, textCol)
      .groupBy(col("_id"))
      .agg(sum(col("_x") * element_at(wLit, (col("_b") + 1).cast("int"))).as("z"))
      .select(col("_id").as(idCol), col("z"), pQ(col("z")).as("p_q"),
        (pQ(col("z")) >= lit(PS / 2)).cast(LongType).as("pred"))
  }

  /** Reliability (calibration) table for the trained filter — the eval
    * row behind every "keep p ≥ τ" threshold choice: bucket the corpus by
    * predicted probability and compare the observed positive rate per
    * bucket against the mean prediction. A filter whose observed curve
    * sags under its predicted one is over-confident; thresholds set from
    * its raw scores keep junk.
    *
    * Engine-exactness: bucket = (p_q·buckets) div (4S+1) on exact longs
    * (range [0, buckets−1] with both endpoints in-band); n/n_pos/sum_p_q
    * are exact-long sums; observed/predicted are single divisions.
    *
    * Scale shape: training is [[fit]]'s bounded loop; scoring is the
    * broadcast-join scan; the label join keys on the id and the final
    * aggregation carries ≤ `buckets` rows.
    */
  def calibration(docs: DataFrame, dim: Int = 64, iters: Int = 4, stepDiv: Long = 131072L,
                  buckets: Int = 8, idCol: String = "doc_id", textCol: String = "text",
                  labelCol: String = "label"): DataFrame =
    calibrationFromScored(
      trainAndScore(docs, dim, iters, stepDiv, idCol, textCol, labelCol),
      docs, buckets, idCol, labelCol)

  /** [[calibration]] over an already-scored corpus — the production
    * shape: a filter is trained once per corpus snapshot and every eval
    * row (this, [[aucFromScored]], [[scoreDriftFromScored]]) reads the
    * same scored frame instead of re-running the training loop.
    */
  def calibrationFromScored(scored: DataFrame, docs: DataFrame, buckets: Int = 8,
                            idCol: String = "doc_id", labelCol: String = "label"): DataFrame = {
    require(buckets >= 2 && buckets <= 10000, s"buckets must be in [2, 10000], got $buckets")
    scored
      .join(docs.select(col(idCol), col(labelCol)), Seq(idCol))
      .withColumn("bucket", expr(s"(p_q * $buckets) div ${PS + 1}"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col(labelCol)).as("n_pos"), sum(col("p_q")).as("sum_p_q"))
      .withColumn("observed", col("n_pos").cast("double") / col("n").cast("double"))
      .withColumn("predicted",
        col("sum_p_q").cast("double") / (col("n").cast("double") * lit(PS.toDouble)))
      .select(col("bucket"), col("n"), col("n_pos"), col("sum_p_q"),
        col("observed"), col("predicted"))
  }

  /** ROC AUC of the trained classifier via the Mann–Whitney U rank
    * statistic — the threshold-free companion to [[calibration]]
    * (calibration asks "are the probabilities honest", AUC asks "does the
    * ranking separate the classes at all").
    *
    * Computed from per-score class counts, never per-pair: group the
    * corpus by the quantized score `p_q` (domain-bounded — at most PS+1 =
    * 2¹⁸+1 distinct values regardless of corpus size), then
    * `U·2 = Σ_s c_pos(s) · (2·cum_neg(<s) + c_neg(s))` — concordant pairs
    * plus ties-count-half, doubled so the sum stays integer. The one
    * unpartitioned window runs over the bounded by-score table, not the
    * corpus; products accumulate in DECIMAL(38,0) so 100 TB-scale
    * n_pos·n_neg cannot overflow.
    *
    * AUC = U2 / (2·n_pos·n_neg) — a single double division of exact
    * integers at the end.
    */
  def aucEval(docs: DataFrame, dim: Int = 64, iters: Int = 4, stepDiv: Long = 131072L,
              idCol: String = "doc_id", textCol: String = "text", labelCol: String = "label"): DataFrame =
    aucFromScored(trainAndScore(docs, dim, iters, stepDiv, idCol, textCol, labelCol),
      docs, idCol, labelCol)

  /** [[aucEval]] over an already-scored corpus (see
    * [[calibrationFromScored]] for the train-once rationale).
    */
  def aucFromScored(scored: DataFrame, docs: DataFrame,
                    idCol: String = "doc_id", labelCol: String = "label"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val byScore = scored
      .join(docs.select(col(idCol), col(labelCol)), Seq(idCol))
      .groupBy(col("p_q"))
      .agg(sum(col(labelCol)).cast("long").as("c_pos"),
        (count(lit(1)) - sum(col(labelCol))).cast("long").as("c_neg"))
    val w = Window.orderBy(col("p_q")).rowsBetween(Window.unboundedPreceding, -1)
    byScore
      .withColumn("cum_neg", coalesce(sum(col("c_neg")).over(w), lit(0L)))
      .agg(
        sum(col("c_pos")).cast("long").as("n_pos"),
        sum(col("c_neg")).cast("long").as("n_neg"),
        sum(col("c_pos").cast(dec) *
          (lit(2L).cast(dec) * col("cum_neg").cast(dec) + col("c_neg").cast(dec))).as("u2"))
      .withColumn("auc", col("u2").cast("double") /
        (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
  }

  /** Population Stability Index between the score distributions of two
    * halves of the corpus (even vs odd ids by default) — THE standard
    * model-monitoring drift metric (PSI < 0.1 stable, > 0.25 action):
    * `PSI = Σ_b (p_A(b) − p_B(b)) · ln(p_A(b)/p_B(b))`.
    *
    * Engine-exactness: per score bucket, the signed mass difference
    * `c_a·n_b − c_b·n_a` and the quantized log-ratio `lnq(c_a·n_b) −
    * lnq(c_b·n_a)` are exact longs; their product sums in DECIMAL(38,0)
    * and divides ONCE by `n_a·n_b·10⁶` at the end. Buckets empty on
    * either side are excluded from the sum (the standard epsilon-free
    * convention) and reported in `n_buckets_skipped` so a
    * degenerate-comparison PSI can't masquerade as stable.
    */
  def scoreDrift(docs: DataFrame, dim: Int = 64, iters: Int = 4, stepDiv: Long = 131072L,
                 buckets: Int = 8, idCol: String = "doc_id", textCol: String = "text",
                 labelCol: String = "label"): DataFrame =
    scoreDriftFromScored(
      trainAndScore(docs, dim, iters, stepDiv, idCol, textCol, labelCol),
      buckets, idCol)

  /** [[scoreDrift]] over an already-scored corpus (see
    * [[calibrationFromScored]] for the train-once rationale).
    */
  def scoreDriftFromScored(scored: DataFrame, buckets: Int = 8,
                           idCol: String = "doc_id"): DataFrame = {
    require(buckets >= 2 && buckets <= 10000, s"buckets must be in [2, 10000], got $buckets")
    val dec = "decimal(38,0)"
    // bucket table is ≤ `buckets` rows but sits on the whole scored
    // lineage — materialize once so the totals cross join doesn't re-run
    // the scoring chain
    val byBucket = Share.materialize(scored
      .withColumn("_bucket", expr(s"(p_q * $buckets) div ${PS + 1}"))
      .withColumn("_side", pmod(col(idCol), lit(2L)))
      .groupBy(col("_bucket"))
      .agg(sum(when(col("_side") === 0L, 1L).otherwise(0L)).cast("long").as("c_a"),
        sum(when(col("_side") === 1L, 1L).otherwise(0L)).cast("long").as("c_b")))
    val withTotals = byBucket
      .crossJoin(broadcast(byBucket.agg(
        sum(col("c_a")).cast("long").as("n_a"), sum(col("c_b")).cast("long").as("n_b"))))
      .withColumn("_used", col("c_a") > 0L && col("c_b") > 0L)
      .withColumn("_diff", col("c_a") * col("n_b") - col("c_b") * col("n_a"))
      // guarded: lnq(0) is a NaN-floor cast, never evaluated off-branch
      .withColumn("_lnr", when(col("_used"),
        lnq(col("c_a") * col("n_b")) - lnq(col("c_b") * col("n_a"))).otherwise(lit(0L)))
    withTotals.agg(
      first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
      sum(col("_used").cast("long")).cast("long").as("n_buckets_used"),
      sum((!col("_used")).cast("long")).cast("long").as("n_buckets_skipped"),
      sum(when(col("_used"), col("_diff").cast(dec) * col("_lnr").cast(dec))
        .otherwise(lit(0L).cast(dec))).as("psi_num"))
      .withColumn("psi", col("psi_num").cast("double") /
        (col("n_a").cast("double") * col("n_b").cast("double") * lit(1e6)))
  }

  /** Train-then-score in one call (the gate's scoring query): fit on
    * `docs`' labels, then score every document with the final weights.
    */
  def trainAndScore(docs: DataFrame, dim: Int = 64, iters: Int = 4, stepDiv: Long = 131072L,
                    idCol: String = "doc_id", textCol: String = "text", labelCol: String = "label"): DataFrame =
    score(docs, fit(docs, dim, iters, stepDiv, idCol, textCol, labelCol),
      dim, idCol, textCol)
}
