package graft.operators

import graft.functions.GeoFunctions.dq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Second-moment / covariance statistics over an embedding column, and
  * the PCA that rides on them.
  *
  * The scale design is the classic one-pass moment accumulation: each
  * partition folds its rows into `dim + dim·(dim+1)/2` longs (mean and
  * upper-triangle second-moment accumulators) inside `mapPartitions`
  * — constant state, no per-row shuffle rows — and emits one partial
  * row per (partition, i, j). The exchange is bounded by
  * #partitions × triangle size regardless of corpus size; the final
  * combine sums partials as DECIMAL(38,0) so the global sums cannot
  * overflow a long even at 100 TB row counts. PCA then runs on the
  * driver over the dim×dim matrix (bounded state, like KMeans'
  * k×dim centroids) with deterministic power iteration.
  *
  * Components are quantized `floor(x·1e6 + 0.5)` — the same contract as
  * the ANN/k-means oracles — so every emitted sum is an exact integer
  * reproducible in external SQL.
  */
object EmbeddingStats {

  val Scale = 1000000.0

  /** Exact quantized second-moment table: (i, j, sum_prod) for
    * 0 ≤ i ≤ j < dim, sum_prod = Σ_rows q_i·q_j as DECIMAL(38,0),
    * plus (i, -1, sum_q) first-moment rows and a single (-1, -1, n)
    * count row — everything PCA needs in one result.
    */
  def moments(embs: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val spark = embs.sparkSession
    import spark.implicits._
    val partials = embs.select(col(vecCol)).as[Seq[Float]].mapPartitions { it =>
      var dim = 0
      var prod: Array[Long] = null // upper triangle, row-major
      var sums: Array[Long] = null
      var n = 0L
      val q = new scala.collection.mutable.ArrayBuffer[Long]()
      it.foreach { v =>
        if (prod == null) {
          dim = v.length
          prod = new Array[Long](dim * (dim + 1) / 2)
          sums = new Array[Long](dim)
        }
        require(v.length == dim, s"ragged embedding: ${v.length} vs $dim")
        q.clear()
        v.foreach(x => q += math.floor(x.toDouble * Scale + 0.5).toLong)
        var idx = 0
        var i = 0
        while (i < dim) {
          sums(i) += q(i)
          var j = i
          while (j < dim) {
            prod(idx) += q(i) * q(j)
            idx += 1
            j += 1
          }
          i += 1
        }
        n += 1
      }
      if (prod == null) Iterator.empty
      else {
        // replay the same (i, j >= i) fill order to emit positions
        val out = new scala.collection.mutable.ArrayBuffer[(Int, Int, Long)]()
        var idx = 0
        var i = 0
        while (i < dim) {
          var j = i
          while (j < dim) { out += ((i, j, prod(idx))); idx += 1; j += 1 }
          i += 1
        }
        (0 until dim).foreach(i => out += ((i, -1, sums(i))))
        out += ((-1, -1, n))
        // dim sentinel: the per-partition require() only sees ITS rows,
        // so two partitions with different widths would otherwise merge
        // mismatched accumulators silently — collectors check that all
        // (-2, dim) rows agree
        out += ((-2, dim, 1L))
        out.iterator
      }
    }.toDF("i", "j", "partial")
    partials.groupBy("i", "j")
      .agg(sum(col("partial").cast("decimal(38,0)")).as("sum_val"))
  }

  /** Gate surface: the upper-triangle second moments as exact longs
    * (safe below ~9e6 rows per the Scaladoc; the decimal path is the
    * scale variant).
    */
  /** Between-class separation matrix: for every label pair, the integer
    * squared L2 distance between the labels' quantized centroids — the
    * one-table answer to "which classes does this encoder actually pull
    * apart" (a near-zero off-diagonal cell explains every downstream
    * kNN/purity confusion between those classes). Centroids use the
    * k-means update convention: per (label, dim), `floor(Σq/n)` via the
    * double quotient (exact below 2⁵³, negatives floor correctly).
    *
    * Scale shape: one posexplode shuffle partial-aggregated into the
    * |labels|·dim centroid table; the pair matrix is a self-join of
    * that bounded table, never of vectors.
    */
  def labelSeparation(embs: DataFrame, labelCol: String = "label",
                      vecCol: String = "embedding", quantScale: Double = 1e6): DataFrame = {
    val cents = embs
      .select(col(labelCol).cast("long").as("_lbl"),
        posexplode(KMeans.quantize(col(vecCol), quantScale)).as(Seq("_pos", "_q")))
      .groupBy(col("_lbl"), col("_pos"))
      .agg(floor(sum(col("_q")).cast("double") / count(lit(1)).cast("double")).cast("long").as("_c"),
        count(lit(1)).as("_n"))
    val a = cents.select(col("_lbl").as("label_a"), col("_pos"), col("_c").as("_ca"),
      col("_n").as("n_a"))
    val b = cents.select(col("_lbl").as("label_b"), col("_pos"), col("_c").as("_cb"),
      col("_n").as("n_b"))
    a.join(b, Seq("_pos"))
      .filter(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum((col("_ca") - col("_cb")) * (col("_ca") - col("_cb"))).cast("long").as("dist_q"),
        max(col("n_a")).cast("long").as("n_a"), max(col("n_b")).cast("long").as("n_b"))
  }

  def covarianceGate(embs: DataFrame, vecCol: String = "embedding"): DataFrame =
    moments(embs, vecCol)
      .filter(col("i") >= 0 && col("j") >= 0)
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("sum_val").cast("long").as("sum_prod"))

  /** DuckDB twin of [[covarianceGate]]. */
  def covarianceGateSql(table: String = "embeddings", vecCol: String = "embedding"): String =
    s"""WITH q AS (
       |  SELECT vec_id, CAST(pos - 1 AS BIGINT) AS d,
       |         CAST(floor(CAST(x AS DOUBLE) * $Scale + 0.5) AS BIGINT) AS qv
       |  FROM (SELECT vec_id, unnest($vecCol) AS x,
       |               generate_subscripts($vecCol, 1) AS pos FROM $table)
       |)
       |SELECT a.d AS i, b.d AS j, CAST(sum(a.qv * b.qv) AS BIGINT) AS sum_prod
       |FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.d >= a.d
       |GROUP BY a.d, b.d""".stripMargin

  /** Dominant spectral axis of the embedding second-moment matrix as an
    * ENGINE-EXACT gate: two un-normalized power-iteration steps from the
    * all-ones vector, entirely in integer arithmetic — v1 = M·1 (row
    * sums), v2 = M·v1 — so the per-dimension trajectory is bit-identical
    * in any engine, unlike the float power iteration of
    * [[pcaTopComponent]] (whose normalization makes it driver-only).
    * After two steps the direction of v2 approximates the top
    * eigenvector with error (λ2/λ1)²; the scalar λ_est = Σv2 / Σv1 =
    * ⟨1, M²1⟩ / ⟨1, M1⟩ is the matching power-iteration eigenvalue
    * estimate, and trace_share = λ_est / tr(M) its explained-moment
    * share (M is PSD, so both are well-defined).
    *
    * Exactness/overflow: with Scale = 1e6 and unit-norm embeddings,
    * |M| ≤ dim·(qmax²·N) ≈ 1.7e15 at 5k rows, |v2| ≤ dim²·|M|² ≈ 1e34
    * — inside DECIMAL(38,0) with four orders of margin; a null from
    * decimal overflow raises loudly instead of propagating.
    *
    * Scale shape: the moment pass is [[moments]] (per-partition upper-
    * triangle accumulators, 2 080-row partials at dim 64); everything
    * after runs on the dim²-row matrix table. No per-vector joins.
    */
  def spectralAxis(embs: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val half = covarianceGate(embs, vecCol)
    val m = half.unionAll(half.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("sum_prod")))
    // overflow guards must sit PER ROW inside the sums: a Decimal(38,0)
    // product (or a prior sum) that overflows yields null, and sum()
    // SKIPS nulls — a post-agg isNull check would miss the silent shrink.
    // loud() raises on any null operand/result before aggregation; the
    // post-agg guards then only catch whole-sum overflow (also null).
    def loud(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c.isNull,
        raise_error(lit("spectralAxis: decimal overflow — reduce quantization Scale"))
          .cast("decimal(38,0)"))
        .otherwise(c)
    val v1 = m.groupBy(col("i").as("_d1"))
      .agg(loud(sum(dq(col("sum_prod")))).as("_v1"))
    val v2 = m.join(broadcast(v1), col("j") === col("_d1"))
      .groupBy(col("i").as("d"))
      .agg(loud(sum(loud(dq(col("sum_prod")) * col("_v1")))).as("_v2"))
    val totals = v2.join(broadcast(v1), col("d") === col("_d1"))
      .agg(loud(sum(col("_v1"))).as("_s1"), loud(sum(col("_v2"))).as("_s2"),
        max(abs(col("_v2"))).as("_mx"))
    val trace = m.filter(col("i") === col("j"))
      .agg(sum(dq(col("sum_prod"))).as("_tr"))
    v2.join(broadcast(v1), col("d") === col("_d1"))
      .crossJoin(broadcast(totals)).crossJoin(broadcast(trace))
      .select(col("d").cast("long").as("d"),
        col("_v1").cast("string").as("v1_q"),
        col("_v2").cast("string").as("v2_q"),
        (col("_v2").cast("double") / col("_mx").cast("double")).as("direction"),
        (col("_s2").cast("double") / col("_s1").cast("double")).as("lambda_est"),
        ((col("_s2").cast("double") / col("_s1").cast("double")) /
          col("_tr").cast("double")).as("trace_share"))
  }

  /** Top principal component of the (double) covariance matrix via
    * deterministic power iteration: start from the normalized all-ones
    * vector, `iters` fixed multiply-normalize rounds. Driver state is
    * the dim×dim matrix — bounded, independent of corpus size.
    * Returns (eigenvector, eigenvalue).
    */
  def pcaTopComponent(embs: DataFrame, vecCol: String = "embedding",
                      iters: Int = 50): (Array[Double], Double) = {
    val rows = moments(embs, vecCol).collect()
    val dims = rows.filter(_.getInt(0) == -2).map(_.getInt(1)).distinct
    require(dims.length <= 1,
      s"ragged embeddings across partitions: dims ${dims.sorted.mkString(", ")}")
    val n = rows.find(r => r.getInt(0) == -1 && r.getInt(1) == -1)
      .map(_.getDecimal(2).doubleValue()).getOrElse(0.0)
    require(n > 1, s"need at least 2 rows, got $n")
    val means = rows.filter(r => r.getInt(1) == -1 && r.getInt(0) >= 0)
      .map(r => r.getInt(0) -> r.getDecimal(2).doubleValue() / n / Scale).toMap
    val dim = means.size
    val c = Array.ofDim[Double](dim, dim)
    rows.filter(r => r.getInt(0) >= 0 && r.getInt(1) >= 0).foreach { r =>
      val (i, j) = (r.getInt(0), r.getInt(1))
      val m2 = r.getDecimal(2).doubleValue() / (Scale * Scale)
      val cov = m2 / n - means(i) * means(j)
      c(i)(j) = cov
      c(j)(i) = cov
    }
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    (0 until iters).foreach { _ =>
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val norm = math.sqrt(w.map(x => x * x).sum)
      if (norm > 0) {
        v = w.map(_ / norm)
        lambda = norm
      }
    }
    (v, lambda)
  }
}
