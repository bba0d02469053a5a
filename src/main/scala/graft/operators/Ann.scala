package graft.operators

import graft.functions.GeoFunctions.{dq, lnq}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over embedding columns
  * (`array<float>`). Two paths:
  *
  *  - [[bruteForceTopK]]: exact cosine top-k, probe set broadcast against
  *    the full corpus — the correctness baseline, O(|probes|·|corpus|)
  *    but fully distributed and codegen'd (higher-order functions, no
  *    UDF).
  *  - [[lshTopK]]: random-hyperplane LSH — sign-bit signature, bucket
  *    equi-join, exact rescoring inside buckets. The scale path: the
  *    crossJoin disappears, the shuffle key is the signature.
  */
object Ann {

  /** Cosine similarity of two vector columns in double precision, as the
    * native codegen'd expression [[graft.plans.CosineSimilarity]] — one
    * tight primitive loop instead of three interpreted higher-order
    * lambdas (`aggregate`/`zip_with` are CodegenFallback). Identical
    * arithmetic/accumulation order, so results are unchanged.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.CosineSimilarity(ColumnShim.expression(a), ColumnShim.expression(b)))
  }

  /** Quantized integer squared-L2 of two raw vector columns, as the
    * native codegen'd [[graft.plans.QuantizedSquaredL2]] — same integer
    * metric as [[KMeans.quantize]] + `aggregate(zip_with(...))`, one
    * tight loop, no intermediate quantized array.
    */
  def quantizedL2(a: Column, b: Column, scale: Double = 1e6): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.QuantizedSquaredL2(
      ColumnShim.expression(a), ColumnShim.expression(b), scale))
  }

  /** The composed-builtin form (kept for engine-portability reference —
    * its SQL twin is what external oracles execute).
    */
  def cosineComposed(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    dot / (na * nb)
  }

  /** Exact top-k cosine neighbors for each probe vector.
    * @param probes small table (broadcast) with (idCol, vecCol)
    */
  /** Attribute-filtered top-k: search only the corpus rows matching a
    * label predicate — with PRE-filter semantics (the filter applies
    * before candidate generation, so the result is the true top-k of
    * the filtered set and always has k rows when the set is large
    * enough; post-filtering an unfiltered top-k would silently return
    * fewer). At scale the filter rides the scan (predicate pushdown to
    * parquet), shrinking the side that moves — the standard shape of
    * filtered vector search.
    */
  def filteredTopK(probes: DataFrame, corpus: DataFrame, labelValue: Long,
                   k: Int = 5, labelCol: String = "label",
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    bruteForceTopK(probes, corpus.filter(col(labelCol) === labelValue), k, idCol, vecCol)

  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int = 5,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("_pv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val w = Window.partitionBy("probe_id").orderBy(col("_simr").desc, col("neighbor_id"))
    c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("_pv"), col("_cv")))
      // quantize before ranking so ordering is reproducible across engines
      .withColumn("_simr", round(col("cosine"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("_simr").as("cosine"))
  }

  /** PQ reconstruction distortion per subspace: the mean integer
    * quantization error between each vector's sub-block and its nearest
    * codebook centroid — the quality number behind every (m, ksub)
    * choice (recall@k tells you the end effect; distortion tells you
    * WHICH subspace's codebook is starving). Same quantized metric as
    * training, so the report is exactly the quantity k-means minimized.
    *
    * Scale shape: one codegen scan (centroids are plan literals — the
    * KMeans assignment shape, no join), one m-row bounded aggregate;
    * Σd in DECIMAL(38,0).
    */
  def pqDistortion(corpus: DataFrame, model: PqModel,
                   vecCol: String = "embedding"): DataFrame = {
    val perSub = (0 until model.m).map { s =>
      val sub = KMeans.quantize(slice(col(vecCol), s * model.subWidth + 1, model.subWidth), 1e6)
      struct(lit(s.toLong).as("subspace"),
        KMeans.nearestScored(model.subModels(s).centroids, sub).getField("d").as("d"))
    }
    corpus.select(explode(array(perSub: _*)).as("_sd"))
      .select(col("_sd.subspace").as("subspace"), col("_sd.d").as("d"))
      .groupBy(col("subspace"))
      .agg(count(lit(1)).cast("long").as("n_vectors"),
        sum(col("d").cast("decimal(38,0)")).as("sum_dist_q"))
      .withColumn("mean_dist_q",
        col("sum_dist_q").cast("double") / col("n_vectors").cast("double"))
  }

  /** SQ8 scalar-quantization profile — the per-dimension quality report
    * for the simplest vector-compression family (one byte per
    * dimension, linear between the per-dim min and max; FAISS's SQ8).
    * For each dimension: the quantized range, the code mass, and the
    * exact integer reconstruction error |xq − (min + code·range div
    * 255)| — the number that says which dimensions survive byte
    * quantization and which need PQ ([[pqDistortion]] is the
    * codebook-family sibling). Codes and errors are pure integer
    * arithmetic on micro-unit values, engine-exact.
    *
    * Scale shape: one posexplode shuffle partial-aggregated map-side
    * into the dim-row min/max table, which broadcasts back onto the
    * exploded scan; the final per-dim aggregate is bounded by `dim`.
    */
  def sq8Profile(corpus: DataFrame, vecCol: String = "embedding",
                 quantScale: Double = 1e6): DataFrame = {
    val vals = corpus.select(
      posexplode(KMeans.quantize(col(vecCol), quantScale)).as(Seq("_pos", "_xq")))
    val ranges = vals.groupBy(col("_pos"))
      .agg(min(col("_xq")).as("_min"), max(col("_xq")).as("_max"))
    vals.join(broadcast(ranges), Seq("_pos"))
      .withColumn("_code", when(col("_max") > col("_min"),
        expr("((_xq - _min) * 255) div (_max - _min)")).otherwise(lit(0L)))
      .withColumn("_err",
        abs(col("_xq") - (col("_min") + expr("(_code * (_max - _min)) div 255"))))
      .groupBy(col("_pos"))
      .agg(count(lit(1)).cast("long").as("n_values"),
        first(col("_min")).as("min_q"), first(col("_max")).as("max_q"),
        sum(col("_code")).cast("long").as("sum_code"),
        sum(col("_err")).cast("long").as("sum_err_q"))
      .withColumn("mean_err_q",
        col("sum_err_q").cast("double") / col("n_values").cast("double"))
      .select(col("_pos").cast("long").as("pos"), col("n_values"), col("min_q"),
        col("max_q"), col("sum_code"), col("sum_err_q"), col("mean_err_q"))
  }

  /** nDCG@k of the IVF search against brute-force truth — the
    * rank-position-aware companion to [[recallEval]] (recall says "how
    * many truth neighbors appear at all"; nDCG says "and how high"). The
    * graded relevance of a returned neighbor is `k − truth_rank + 1`
    * (truth's #1 is worth k, its #k worth 1, non-truth 0), discounted by
    * the standard 1/log₂(rank+1) position weight.
    *
    * Engine-exactness: the discount is quantized —
    * `w_q(r) = 10¹² div lnq₂(r+1)` with `lnq₂(x) = floor(log₂(x)·10⁶)` —
    * so per-probe DCG/iDCG are exact integer sums and `ndcg = dcg_q /
    * idcg_q` is one correctly-rounded double division. iDCG replays the
    * same weights over the probe's own truth ranks, so a probe with fewer
    * than k truth neighbors is normalized by its achievable ideal.
    *
    * Scale shape: both search legs are the audited operators; the overlay
    * is one (probe, neighbor) equi-join + two bounded per-probe
    * aggregates. No new shuffle class.
    */
  def ndcgEval(probes: DataFrame, corpus: DataFrame, k: Int = 5,
               nlist: Int = 32, nprobe: Int = 4,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ndcgEvalFrom(bruteForceTopK(probes, corpus, k, idCol, vecCol),
      ivfTopK(probes, corpus, k, nlist, nprobe, idCol, vecCol), k)

  /** [[ndcgEval]] over already-computed rankings — see
    * [[recallEvalFrom]] for the sharing rationale.
    */
  def ndcgEvalFrom(truthTopK: DataFrame, approxTopK: DataFrame, k: Int): DataFrame = {
    def wq(rankCol: String) =
      expr(s"1000000000000 div cast(floor(log2($rankCol + 1) * 1000000) as bigint)")
    val truth = truthTopK
      .select(col("probe_id"), col("neighbor_id"), col("rank").as("_tr"))
    val idcg = truth
      .groupBy(col("probe_id"))
      .agg(sum((lit(k.toLong) - col("_tr") + 1L) * wq("_tr")).as("idcg_q"))
    val dcg = approxTopK
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
      .join(truth, Seq("probe_id", "neighbor_id"), "left")
      .withColumn("_rel", coalesce(lit(k.toLong) - col("_tr") + 1L, lit(0L)))
      .groupBy(col("probe_id"))
      .agg(sum(col("_rel") * wq("rank")).as("dcg_q"))
    idcg.join(dcg, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("dcg_q"), lit(0L)).as("dcg_q"), col("idcg_q"),
        (coalesce(col("dcg_q"), lit(0L)).cast("double") /
          col("idcg_q").cast("double")).as("ndcg"))
  }

  /** Max embedding dimensionality covered by the precomputed hyperplane
    * tables. Vectors longer than this throw at eval (loud failure — the
    * old composed form silently null-padded oversized vectors into one
    * degenerate bucket).
    */
  val maxPlaneDim: Int = graft.plans.HyperplaneSignature.maxDim

  /** Sign-bit signature over `planes` pseudo-random hyperplanes, as the
    * native codegen'd expression [[graft.plans.HyperplaneSignature]] —
    * one tight integer loop per plane instead of an interpreted
    * `aggregate(zip_with(...))` per plane (CodegenFallback; it dominated
    * `ann_lsh` wall time).
    *
    * The sign decision runs in *integer* arithmetic: vector components
    * quantized to round(x * 10^6) dotted with integer md5-family plane
    * components — exact, so the bucket key is bit-reproducible on any
    * engine (a floating dot product could flip a sign bit on
    * summation-order differences).
    *
    * Returns input plus `_sig` (long bucket key) and `_v` (the vector).
    */
  def hyperplaneSignature(emb: DataFrame, planes: Int,
                          vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val sig = ColumnShim.column(
      graft.plans.HyperplaneSignature(ColumnShim.expression(col(vecCol)), planes))
    emb.withColumn("_sig", sig).withColumn("_v", col(vecCol))
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus into `nlist`
    * cells, then search each probe only against its `nprobe` nearest
    * cells. The scale path for embedding search: the corpus shuffles once
    * on the cell id (an equi-join key), and each probe touches
    * nprobe/nlist of the data instead of all of it.
    *
    * Cell seeds are the first `nlist` corpus vectors by id —
    * deterministic and engine-reproducible (a production build would run
    * a few k-means iterations driver-side; the assignment/search
    * machinery is identical). Assignment ranks rounded cosine (6 places,
    * ties by seed id) so cell membership is bit-stable across engines.
    */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int = 5, nlist: Int = 32,
              nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the centroid seed set is bounded by the literal nlist id range —
    // a contract the plan cannot see (a structural .limit would add a
    // measured ~0.5 s GlobalLimit exchange); PlanLintSpec whitelists
    // the ivf gates' assignment loop join by name
    val cent = corpus.filter(col(idCol) < nlist)
      .select(col(idCol).as("_c_id"), col(vecCol).as("_c_v"))
    ivfSearch(probes, corpus, cent, k, nprobe, idCol, vecCol)
  }

  /** IVF search against *trained* centroids (a [[KMeans.Model]] fitted on
    * the corpus) instead of the raw id-seeds — same assignment/search
    * machinery, better-balanced cells, so recall at equal nprobe can only
    * improve with cluster structure in the data.
    */
  def ivfTopKTrained(probes: DataFrame, corpus: DataFrame, model: KMeans.Model,
                     k: Int = 5, nprobe: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (ids, vecs) = KMeans.asIvfCentroids(model)
    val cent = ids.zip(vecs.map(_.toSeq)).toSeq.toDF("_c_id", "_c_v")
    ivfSearch(probes, corpus, cent, k, nprobe, idCol, vecCol)
  }

  private def ivfSearch(probes: DataFrame, corpus: DataFrame, cent: DataFrame,
                        k: Int, nprobe: Int, idCol: String, vecCol: String): DataFrame = {

    def cells(df: DataFrame, keep: Int): DataFrame = {
      val w = Window.partitionBy(col(idCol)).orderBy(col("_csim").desc, col("_c_id"))
      df.crossJoin(broadcast(cent))
        .withColumn("_csim", round(cosine(col(vecCol), col("_c_v")), 6))
        .withColumn("_crn", row_number().over(w))
        .filter(col("_crn") <= keep)
        .select(col(idCol), col(vecCol), col("_c_id").as("_cell"))
    }

    val corpusCells = cells(corpus, 1)
      .select(col("_cell"), col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val probeCells = cells(probes, nprobe)
      .select(col("_cell"), col(idCol).as("probe_id"), col(vecCol).as("_pv"))

    val w = Window.partitionBy("probe_id").orderBy(col("_simr").desc, col("neighbor_id"))
    probeCells.join(corpusCells, "_cell")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("_simr", round(cosine(col("_pv"), col("_cv")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("_simr").as("cosine"))
  }

  /** Recall@k of the IVF index against the brute-force ground truth —
    * the evaluation harness every approximate index needs before its
    * nprobe/nlist tradeoff is trusted on real traffic. Per probe, `hits`
    * counts true top-k neighbors the IVF search also returned and
    * `recall` = hits/k; probes the index missed entirely still appear
    * (hits = 0), so the mean over rows is the honest corpus recall.
    *
    * Engine-exactness: both rankings already quantize cosine to 1e-6
    * before ordering, so membership is a set-intersection of identical
    * integer decisions; recall is one exact division hits/k.
    *
    * Scale shape: both searches are the audited operators (broadcast
    * probes / cell equi-join — no new shuffle shapes); the comparison is
    * an equi-join on (probe, neighbor) over 2·|probes|·k rows — probe-
    * sized, not corpus-sized.
    */
  def recallEval(probes: DataFrame, corpus: DataFrame, k: Int = 5,
                 nlist: Int = 32, nprobe: Int = 4,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    recallEvalFrom(bruteForceTopK(probes, corpus, k, idCol, vecCol),
      ivfTopK(probes, corpus, k, nlist, nprobe, idCol, vecCol), k)

  /** [[recallEval]] over already-computed rankings — the production
    * shape: the brute-force truth and the index's answer are each
    * computed once per (probe set, corpus snapshot) and every eval row
    * (this, [[ndcgEvalFrom]], the ann_bruteforce/ann_ivf gates
    * themselves) reads the same two frames instead of re-running both
    * searches.
    */
  def recallEvalFrom(truthTopK: DataFrame, approxTopK: DataFrame, k: Int): DataFrame = {
    val truth = truthTopK.select(col("probe_id"), col("neighbor_id"))
    val approx = approxTopK.select(col("probe_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("probe_id", "neighbor_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("hits"))
    truth.select(col("probe_id")).distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** k-NN label-prediction confusion matrix — the classic embedding
    * probe (fit nothing; if k nearest neighbors vote the right label,
    * the space separates the classes): per probe, the majority label of
    * its k nearest corpus vectors (integer squared-L2, ties in the vote
    * → lowest label, ties in distance → lowest neighbor id), tabulated
    * against the probe's own label. Diagonal mass / total = accuracy;
    * off-diagonal cells say WHICH classes the encoder confuses.
    *
    * Scale shape: probes broadcast over one corpus scan; top-k via a
    * per-probe window (WindowGroupLimit); the vote and the confusion
    * tabulation are map-side-combinable groupBys bounded by
    * |probes| and |labels|² respectively.
    */
  def knnConfusion(probes: DataFrame, corpus: DataFrame, k: Int = 5,
                   labelCol: String = "label",
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   quantScale: Double = 1e6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val p = probes.select(col(idCol).as("probe_id"),
      col(labelCol).cast("long").as("true_label"), col(vecCol).as("_pq"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("_nl"), col(vecCol).as("_cq"))
    val dist = quantizedL2(col("_pq"), col("_cq"), quantScale)
    val w = Window.partitionBy("probe_id").orderBy(col("_d"), col("neighbor_id"))
    val votes = c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("_d", dist)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy(col("probe_id"), col("true_label"), col("_nl"))
      .agg(count(lit(1)).as("_v"))
      .groupBy(col("probe_id"), col("true_label"))
      .agg(min(struct((-col("_v")).as("_neg"), col("_nl").as("_l"))).as("_top"))
      .select(col("probe_id"), col("true_label"), col("_top._l").as("pred_label"))
    votes.groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).cast("long").as("n_probes"))
  }

  /** Hard-negative mining for contrastive training (the offline miner
    * behind DPR/SBERT-style training sets; cf. Robinson et al. 2021,
    * "Contrastive Learning with Hard Negative Samples"): per probe, the
    * k NEAREST corpus items carrying a DIFFERENT label — close enough
    * to confuse the model, wrong enough to teach the margin. Random
    * negatives ([[CorpusOps.negativeSamples]]) are almost always easy;
    * the gradient signal lives in the hard set.
    *
    * Scale shape: the label disagreement filters BEFORE ranking, then
    * one broadcast-probe corpus scan through the native codegen
    * quantized-L2 kernel with per-probe top-k planned as
    * WindowGroupLimit — the audited brute-force shape; never a product
    * of corpus against itself.
    */
  def hardNegatives(probes: DataFrame, corpus: DataFrame, k: Int = 5,
                    labelCol: String = "label", idCol: String = "vec_id",
                    vecCol: String = "embedding", quantScale: Double = 1e6): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val p = probes.select(col(idCol).as("probe_id"),
      col(labelCol).cast("long").as("_pl"), col(vecCol).as("_pv"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).cast("long").as("neg_label"), col(vecCol).as("_cv"))
    val w = Window.partitionBy("probe_id").orderBy(col("dist_q"), col("neighbor_id"))
    c.crossJoin(broadcast(p))
      .filter(col("_pl") =!= col("neg_label"))
      .withColumn("dist_q", quantizedL2(col("_pv"), col("_cv"), quantScale))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("neg_label"), col("dist_q"))
  }

  /** Recall@k of the PQ ADC search against exact integer-L2 truth —
    * the quality number for the PQ family under ITS OWN metric (cosine
    * recall answers a different question; ADC approximates squared L2,
    * so the honest truth set is the exact quantized-L2 top-k via the
    * native kernel). Complements [[recallEval]] (IVF) and
    * [[pqDistortion]] (which subspace hurts).
    *
    * Scale shape: truth = broadcast probes over one corpus scan through
    * plans/L2Expression + WindowGroupLimit; approx = the audited
    * [[pqTopK]] chain; one per-probe hit join.
    */
  def pqRecall(probes: DataFrame, corpus: DataFrame, dim: Int, m: Int,
               ksub: Int, iters: Int, k: Int = 5,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqRecall(probes, corpus,
      pqTrain(corpus, dim, m, ksub, iters, idCol, vecCol), k, idCol, vecCol)

  /** [[pqRecall]] against an already-trained index — the production
    * shape: the PQ codebooks are trained once per corpus snapshot and
    * the search gate, the distortion card and this recall eval all read
    * the same model.
    */
  def pqRecall(probes: DataFrame, corpus: DataFrame, model: PqModel, k: Int,
               idCol: String, vecCol: String): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("_pv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cv"))
    val w = Window.partitionBy("probe_id").orderBy(col("_d"), col("neighbor_id"))
    val truth = c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("_d", quantizedL2(col("_pv"), col("_cv")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("probe_id"), col("neighbor_id"))
    val approx = pqTopK(probes, corpus, model, k, idCol, vecCol)
      .select(col("probe_id"), col("neighbor_id"))
    val hits = truth.join(approx, Seq("probe_id", "neighbor_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("hits"))
    truth.select(col("probe_id")).distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** Two-NN intrinsic-dimension estimate (Facco, d'Errico, Rodriguez &
    * Laio 2017, "Estimating the intrinsic dimension of datasets by a
    * minimal neighborhood information"): embeddings usually occupy a
    * manifold of far lower dimension than their ambient width — the ID
    * is the honest capacity number behind compression choices (PQ
    * subspaces, Matryoshka truncation depth). Per probe, the ratio
    * μ = r₂/r₁ of its two nearest neighbors; the CDF of μ satisfies
    * −ln(1−F(μ)) = d·ln μ, fitted through the origin.
    *
    * Engine-exactness: distances are quantized integer squared L2 (the
    * k-means metric), so `x = lnq d₂ − lnq d₁ = 2·ln μ` in 1e-6 units
    * is a difference of lnq's OF INTEGERS; the empirical CDF term
    * `y = lnq N − lnq (N−i)` likewise (ranks deterministic by (x,
    * probe id); the last point F = 1 drops, exact-duplicate probes with
    * r₁ = 0 drop — both documented conventions of the method). The
    * estimator d̂ = 2·Σxy/Σxx divides two exact sums once.
    *
    * Scale shape: probes broadcast over one corpus scan; top-2 via a
    * per-probe window (WindowGroupLimit — each map task keeps 2 rows);
    * the rank window and OLS run over the ≤|probes| x-table (probes
    * are small by contract — the paper's estimator needs only a
    * sample). Σ in DECIMAL(38,0).
    */
  def intrinsicDim(probes: DataFrame, corpus: DataFrame,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   quantScale: Double = 1e6): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("_pq"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("_cq"))
    // native codegen kernel (plans/L2Expression) — same integer metric
    // as the composed quantize + zip_with + aggregate chain, one tight
    // loop, no intermediate quantized array per row
    val dist = quantizedL2(col("_pq"), col("_cq"), quantScale)
    val w = Window.partitionBy("probe_id").orderBy(col("_d"), col("neighbor_id"))
    val two = c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("_d", dist)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 2)
    val xs = two.groupBy(col("probe_id"))
      .agg(min(when(col("_rn") === 1, col("_d"))).as("_d1"),
        min(when(col("_rn") === 2, col("_d"))).as("_d2"))
      .filter(col("_d1") >= 1L && col("_d2").isNotNull)
      .select(col("probe_id"), (lnq(col("_d2")) - lnq(col("_d1"))).as("_x"))
    val n = xs.agg(count(lit(1)).as("_n"))
    xs.withColumn("_i", row_number().over(Window.orderBy(col("_x"), col("probe_id"))).cast("long"))
      .crossJoin(broadcast(n))
      .filter(col("_i") < col("_n"))
      .select(col("_n"), col("_x"), (lnq(col("_n")) - lnq(col("_n") - col("_i"))).as("_y"))
      .groupBy(col("_n").as("n_probes"))
      .agg(count(lit(1)).cast("long").as("n_points"),
        sum(dq(col("_x")) * dq(col("_y"))).as("_sxy"),
        sum(dq(col("_x")) * dq(col("_x"))).as("_sxx"))
      .withColumn("d_hat",
        (lit(2.0) * col("_sxy").cast("double")) / col("_sxx").cast("double"))
      .select(col("n_probes"), col("n_points"), col("d_hat"))
  }

  /** Truncated-dimension recall — the Matryoshka-representation
    * question (Kusupati et al. 2022): how much of the full-dimension
    * top-k survives if search keeps only the first `dims` coordinates?
    * High recall at half the dims means the index (and its memory bill)
    * can shrink 2× before ANN structure is even discussed. Truth and
    * ablated search are both exact brute-force scans, so the report
    * isolates the dimension effect from index effects.
    *
    * Scale shape: two [[bruteForceTopK]] passes (broadcast probes over
    * one corpus scan each — probes are small by contract) and one
    * per-probe hit join; nothing corpus-sized shuffles.
    */
  def dimAblationRecall(probes: DataFrame, corpus: DataFrame, k: Int = 5,
                        dims: Int = 32,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    def trunc(df: DataFrame): DataFrame =
      df.withColumn(vecCol, slice(col(vecCol), 1, dims))
    val truth = bruteForceTopK(probes, corpus, k, idCol, vecCol)
      .select(col("probe_id"), col("neighbor_id"))
    val ablated = bruteForceTopK(trunc(probes), trunc(corpus), k, idCol, vecCol)
      .select(col("probe_id"), col("neighbor_id"))
    val hits = truth.join(ablated, Seq("probe_id", "neighbor_id"))
      .groupBy(col("probe_id")).agg(count(lit(1)).as("hits"))
    truth.select(col("probe_id")).distinct()
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / lit(k.toDouble)).as("recall"))
  }

  /** LSH-bucketed ANN: probes join the corpus only within matching
    * signature buckets (optionally multi-probe across single-bit flips),
    * then exact cosine rescoring + top-k.
    */
  def lshTopK(probes: DataFrame, corpus: DataFrame, k: Int = 5, planes: Int = 12,
              multiProbeBits: Int = 1,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = hyperplaneSignature(corpus, planes, vecCol = vecCol)
      .select(col("_sig"), col(idCol).as("neighbor_id"), col("_v").as("_cv"))
    val p0 = hyperplaneSignature(probes, planes, vecCol = vecCol)
      .select(col("_sig"), col(idCol).as("probe_id"), col("_v").as("_pv"))
    // multi-probe: also look in buckets one bit-flip away
    val probeSigs =
      if (multiProbeBits <= 0) p0
      else p0.withColumn("_sig", explode(concat(array(col("_sig")),
        transform(sequence(lit(0), lit(planes - 1)),
          b => col("_sig").bitwiseXOR(pow(lit(2.0), b).cast("long"))))))
    val w = Window.partitionBy("probe_id").orderBy(col("_simr").desc, col("neighbor_id"))
    probeSigs.join(c, "_sig")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .dropDuplicates("probe_id", "neighbor_id")
      .withColumn("cosine", cosine(col("_pv"), col("_cv")))
      .withColumn("_simr", round(col("cosine"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("_simr").as("cosine"))
  }

  /** Product quantization: the corpus compresses to `m` small integers
    * per vector (one sub-centroid code per subspace), so a 100 TB float
    * corpus becomes m bytes/vector of codes + a k·d codebook — the
    * memory-bandwidth form of ANN (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"). Search is asymmetric
    * distance computation: per probe, distances to every sub-centroid
    * (m·ksub integers), then each candidate scores as the sum of m code
    * lookups instead of a d-dimensional dot product.
    *
    * Everything stays in the integer metric of [[KMeans]] — training,
    * encoding, and ADC scoring are bit-reproducible by the SQL oracle.
    */
  final case class PqModel(subModels: Array[KMeans.Model], subWidth: Int) {
    def m: Int = subModels.length
    def ksub: Int = subModels.headOption.map(_.k).getOrElse(0)
  }

  /** Train per-subspace codebooks: dim must split into `m` equal slices,
    * each seeded from the ksub lowest-id vectors' slice (the same rule as
    * [[KMeans.fit]], which this reproduces exactly per subspace).
    *
    * All m Lloyd's runs are *fused*: one corpus scan per iteration
    * assigns every subspace (m codegen argmins in a single projection)
    * and one map-side-combinable groupBy over (subspace, cluster, dim)
    * collects all m updates together — m× fewer corpus scans than
    * training the subspaces separately, which is what makes PQ training
    * affordable at 100 TB. The SQL oracle mirrors this shape (one
    * subspace-keyed CTE chain).
    */
  def pqTrain(corpus: DataFrame, dim: Int, m: Int, ksub: Int, iters: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): PqModel = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val w = dim / m
    val q = corpus.select(col(idCol).as("_id"),
      array((0 until m).map(s =>
        KMeans.quantize(slice(col(vecCol), s * w + 1, w), 1e6)): _*).as("_qs"))
    pqTrainCore(q, m, ksub, iters, w)
  }

  /** Core trainer over a prepared (_id, _qs: array<array<long>>) frame —
    * the residual-PQ path of [[ivfPqTrain]] feeds already-integer
    * residual slices here.
    */
  private def pqTrainCore(q0: DataFrame, m: Int, ksub: Int, iters: Int, w: Int): PqModel = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val q = Share.materialize(q0)

    val seeds = q.orderBy(col("_id")).limit(ksub).collect()
    require(seeds.length == ksub, s"corpus has ${seeds.length} vectors, need >= ksub=$ksub")
    // cents(s)(c)(d)
    var cents: Array[Array[Array[Long]]] = Array.tabulate(m) { s =>
      seeds.map(_.getSeq[scala.collection.Seq[Long]](1)(s).toArray)
    }
    require(cents.forall(_.forall(_.length == w)), "ragged embedding dimensionality")
    var counts: Array[Array[Long]] = Array.fill(m)(Array.fill(ksub)(0L))

    for (_ <- 1 to iters) {
      val codeCols = (0 until m).map(s =>
        KMeans.nearest(cents(s), element_at(col("_qs"), s + 1)))
      val sums = q
        .select(array(codeCols: _*).as("_cs"), col("_qs"))
        .select(posexplode(arrays_zip(col("_cs"), col("_qs"))).as(Seq("_s", "_z")))
        .select(col("_s"), col("_z._cs").as("_c"), posexplode(col("_z._qs")).as(Seq("_d", "_val")))
        .groupBy(col("_s"), col("_c"), col("_d"))
        .agg(sum(col("_val")).as("_sum"), count(lit(1)).as("_n"))
        .collect()
      val next = cents.map(_.map(_.clone()))
      val nextCounts = Array.fill(m)(Array.fill(ksub)(0L))
      sums.foreach { r =>
        val s = r.getInt(0); val c = r.getLong(1).toInt; val d = r.getInt(2)
        val sm = r.getLong(3); val n = r.getLong(4)
        next(s)(c)(d) = math.floor(sm.toDouble / n).toLong
        nextCounts(s)(c) = n
      }
      cents = next
      counts = nextCounts
    }
    PqModel((0 until m).map(s => KMeans.Model(cents(s), counts(s))).toArray, w)
  }

  /** Attach the `codes` column (array<long>, one sub-centroid id per
    * subspace) — a pure projection, all m argmins inside one codegen
    * stage.
    */
  def pqEncode(df: DataFrame, model: PqModel,
               vecCol: String = "embedding"): DataFrame = {
    val codes = (0 until model.m).map { s =>
      val sub = KMeans.quantize(slice(col(vecCol), s * model.subWidth + 1, model.subWidth), 1e6)
      KMeans.nearest(model.subModels(s).centroids, sub)
    }
    df.withColumn("codes", array(codes: _*))
  }

  /** ADC top-k: probes carry their (m × ksub) integer distance tables as
    * a broadcast-literal-free column (computed where the probe row is),
    * candidates score with m array lookups. The corpus side moves only
    * (id, codes) — never the vectors.
    */
  def pqTopK(probes: DataFrame, corpus: DataFrame, model: PqModel, k: Int = 5,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // distance table per probe: dtab[s][c] = |probe_s - cent_{s,c}|² (integer)
    val dtab = array((0 until model.m).map { s =>
      val sub = KMeans.quantize(slice(col(vecCol), s * model.subWidth + 1, model.subWidth), 1e6)
      array(model.subModels(s).centroids.map { cv =>
        aggregate(
          zip_with(sub, typedLit(cv.toSeq), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
      }.toIndexedSeq: _*)
    }: _*)
    val p = probes.select(col(idCol).as("probe_id"), dtab.as("_dtab"))
    val c = pqEncode(corpus, model, vecCol).select(col(idCol).as("neighbor_id"), col("codes"))
    val w = Window.partitionBy("probe_id").orderBy(col("adc_dist"), col("neighbor_id"))
    c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("adc_dist",
        aggregate(zip_with(col("codes"), col("_dtab"), (code, row) => element_at(row, (code + 1).cast("int"))),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("adc_dist"))
  }

  /** The FAISS-style composite index: an IVF coarse quantizer partitions
    * the corpus into cells, and PQ codebooks trained on the *residuals*
    * (vector − its cell centroid) compress each vector to m codes.
    * Residual coding is what makes the combination work — residuals
    * cluster far tighter than raw vectors, so the same codebook budget
    * buys much finer quantization.
    *
    * Everything stays in the integer metric: residual = quantized vector
    * minus integer centroid, exactly representable, so training,
    * encoding, and ADC search all have bit-exact SQL twins.
    */
  final case class IvfPqModel(coarse: KMeans.Model, pq: PqModel) {
    def nlist: Int = coarse.k
  }

  private def residualCol(coarse: KMeans.Model, vecCol: String): Column = {
    val q = KMeans.quantize(col(vecCol), 1e6)
    val cell = KMeans.nearest(coarse.centroids, q)
    val centLit = typedLit(coarse.centroids.map(_.toSeq).toSeq)
    zip_with(q, element_at(centLit, (cell + 1).cast("int")), (a, b) => a - b)
  }

  /** Train coarse cells on the vectors, then PQ codebooks on the
    * residuals — the residual slices feed the same fused subspace
    * trainer ([[pqTrainCore]]), so the whole pipeline is
    * coarseIters + pqIters corpus scans.
    */
  def ivfPqTrain(corpus: DataFrame, dim: Int, nlist: Int, coarseIters: Int,
                 m: Int, ksub: Int, pqIters: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): IvfPqModel = {
    require(m >= 1 && dim % m == 0, s"dim=$dim must split into m=$m equal subspaces")
    val w = dim / m
    val coarse = KMeans.fit(corpus, nlist, coarseIters, idCol, vecCol)
    val r = residualCol(coarse, vecCol)
    val q = corpus.select(col(idCol).as("_id"),
      array((0 until m).map(s => slice(r, s * w + 1, w)): _*).as("_qs"))
    IvfPqModel(coarse, pqTrainCore(q, m, ksub, pqIters, w))
  }

  /** ADC search over the composite index: probes visit their `nprobe`
    * nearest cells; in each visited cell the probe's *residual against
    * that cell* builds the distance table, and candidates join by cell
    * id — an equi-join on a dense small key, no cross product. The
    * corpus side moves as (id, cell, m codes): the compressed form that
    * makes 100 TB of vectors scannable.
    */
  /** The index build: (id, cell, m residual codes) per corpus vector.
    * Two staged projections with [[Share.materialize]] between them: the
    * coarse argmin runs once and materializes, then the m residual
    * argmins read the stored cell — without the barrier, CollapseProject
    * re-inlines the coarse assignment (and the residual subtraction)
    * into every per-subspace argmin, multiplying the interpreted
    * higher-order work ~m-fold. In production the coded corpus IS the
    * index — built once, persisted, reused by every query — so the
    * barrier is the natural shape, not a workaround.
    */
  def ivfPqEncode(corpus: DataFrame, model: IvfPqModel,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = model.pq.m; val w = model.pq.subWidth
    val centLit = typedLit(model.coarse.centroids.map(_.toSeq).toSeq)
    val withCell = Share.materialize(corpus.select(
      col(idCol).as("neighbor_id"),
      KMeans.quantize(col(vecCol), 1e6).as("_q"))
      .withColumn("_cell", KMeans.nearest(model.coarse.centroids, col("_q"))))
    val r = zip_with(col("_q"), element_at(centLit, (col("_cell") + 1).cast("int")), (a, b) => a - b)
    withCell.select(col("neighbor_id"), col("_cell"),
      array((0 until m).map(s =>
        KMeans.nearest(model.pq.subModels(s).centroids, slice(r, s * w + 1, w))): _*).as("_codes"))
  }

  def ivfPqTopK(probes: DataFrame, corpus: DataFrame, model: IvfPqModel,
                k: Int = 5, nprobe: Int = 4,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = model.pq.m; val w = model.pq.subWidth
    val centLit = typedLit(model.coarse.centroids.map(_.toSeq).toSeq)

    val corpusCoded = ivfPqEncode(corpus, model, idCol, vecCol)

    // probes: nprobe nearest cells by integer coarse distance (ties ->
    // lowest cell id), then the per-cell residual distance table
    val q = KMeans.quantize(col(vecCol), 1e6)
    val cellScores = array(model.coarse.centroids.zipWithIndex.map { case (cv, ci) =>
      struct(
        aggregate(zip_with(q, typedLit(cv.toSeq), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("d"),
        lit(ci.toLong).as("c"))
    }.toIndexedSeq: _*)
    val probeCells = probes
      .select(col(idCol).as("probe_id"), col(vecCol).as("_pv"),
        explode(slice(array_sort(cellScores), 1, nprobe)).as("_pc"))
      .select(col("probe_id"), col("_pv"), col("_pc.c").as("_cell"))
    val pr = zip_with(KMeans.quantize(col("_pv"), 1e6),
      element_at(centLit, (col("_cell") + 1).cast("int")), (a, b) => a - b)
    val dtab = array((0 until m).map { s =>
      val sub = slice(pr, s * w + 1, w)
      array(model.pq.subModels(s).centroids.map { cv =>
        aggregate(zip_with(sub, typedLit(cv.toSeq), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)
      }.toIndexedSeq: _*)
    }: _*)
    val probeTabs = probeCells.select(col("probe_id"), col("_cell"), dtab.as("_dtab"))

    val win = Window.partitionBy("probe_id").orderBy(col("adc_dist"), col("neighbor_id"))
    corpusCoded.join(broadcast(probeTabs), Seq("_cell"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("adc_dist",
        aggregate(zip_with(col("_codes"), col("_dtab"), (code, row) => element_at(row, (code + 1).cast("int"))),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"), col("neighbor_id"), col("adc_dist"))
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): greedily pick `k` results trading relevance against novelty —
    * each step selects the candidate maximizing
    * `λ·rel − (1−λ)·max_{s∈selected} sim(c, s)`. The diversity pass that
    * runs AFTER retrieval ([[bruteForceTopK]] / [[rrfFuse]]) so near-
    * duplicate hits don't crowd the final list.
    *
    * Engine-exactness: the decision value is pure integer —
    * `lambdaBp·rel_q + (lambdaBp − 10000)·maxsim_q` with rel/sim in 1e-6
    * units quantized by the SAME Catalyst round() the retrieval and the
    * oracle use — and ties break on the smaller id, so the greedy
    * trajectory is bit-reproducible in any engine.
    *
    * Scale shape: the candidate pool is a top-N retrieval output — a
    * CONSTANT (≤ 4096 enforced), not corpus-sized. Pairwise similarities
    * compute distributed (pool self-join through the codegen cosine);
    * only pool + pairs (N + N² bounded rows) reach the driver for the
    * sequential greedy, the bounded-driver-state contract of
    * [[KMeans.fit]]/heavyHitters. The corpus itself was only touched by
    * the upstream retrieval.
    *
    * @param candidates pool with `idCol`, `relCol` (1e-6-unit long) and
    *                   `vecCol`
    * @return (rank 1..k, idCol, rel_q, mmr_q — the decision value at
    *         selection time)
    */
  def mmrRerank(candidates: DataFrame, k: Int = 10, lambdaBp: Int = 7000,
                idCol: String = "vec_id", relCol: String = "rel_q",
                vecCol: String = "embedding"): DataFrame = {
    require(lambdaBp >= 0 && lambdaBp <= 10000, s"lambdaBp in [0,10000], got $lambdaBp")
    val spark = candidates.sparkSession
    val pool = candidates.select(
      col(idCol).cast("long").as("_id"), col(relCol).cast("long").as("_rel"), col(vecCol).as("_v"))
      .localCheckpoint(eager = true)
    val n = pool.count()
    require(n <= 4096, s"mmrRerank pool must be a bounded retrieval output, got $n rows")
    // pairwise sims distributed, quantized by the same round() as the
    // retrieval/oracle (HALF_UP in both engines)
    val a = pool.select(col("_id").as("_ia"), col("_v").as("_va"))
    val b = pool.select(col("_id").as("_ib"), col("_v").as("_vb"))
    // round at the 1e6 scale directly: round(c,6)*1e6 can produce
    // x.99999... doubles that Spark's cast truncates but SQL's rounds
    val sims = a.crossJoin(b).filter(col("_ia") < col("_ib"))
      .select(col("_ia"), col("_ib"),
        round(cosine(col("_va"), col("_vb")) * 1e6, 0).cast("long").as("_sq"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cand = pool.select(col("_id"), col("_rel")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    def sim(x: Long, y: Long): Long = if (x < y) sims((x, y)) else sims((y, x))

    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)] // (id, rel, mmr)
    val remaining = scala.collection.mutable.LinkedHashMap(cand: _*)
    while (selected.length < math.min(k.toLong, n).toInt && remaining.nonEmpty) {
      var bestId = -1L; var bestScore = Long.MinValue
      remaining.foreach { case (id, rel) =>
        val maxSim = if (selected.isEmpty) 0L else selected.map(s => sim(id, s._1)).max
        val score = lambdaBp.toLong * rel + (lambdaBp.toLong - 10000L) * maxSim
        if (score > bestScore || (score == bestScore && id < bestId)) {
          bestId = id; bestScore = score
        }
      }
      selected += ((bestId, remaining(bestId), bestScore))
      remaining.remove(bestId)
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, rel, mmr), i) => (i + 1L, id, rel, mmr) }
      .toSeq.toDF("rank", idCol, "rel_q", "mmr_q")
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    * merge several ranked candidate lists — e.g. a lexical BM25 ranking
    * and a semantic embedding-cosine ranking, the standard hybrid-search
    * shape — into one ranking by summing 1/(k0 + rank) per list.
    *
    * Engine-exactness: the fused score is computed in integer arithmetic
    * as Σ (10^12 div (k0 + rank)) — long division truncates identically
    * in any engine (all quantities positive), so the fusion never touches
    * a float and ties break on the id deterministically.
    *
    * Scale shape: each input is an already-ranked top-N list (constant
    * size — the expensive retrieval happened upstream); the union and
    * groupBy move only Σ|lists| rows, and the final top-k is a
    * TakeOrdered, never a global sort. At 100 TB the rankings themselves
    * are the scale problem (see bruteForceTopK vs ivfTopK); fusion cost
    * is independent of corpus size.
    *
    * @param rankings ranked lists, each with `idCol` and a 1-based
    *                 integral `rank` column
    * @return (idCol, n_lists — lists containing the id, rrf_q — fused
    *         score in 1e-12 units, rank — fused 1-based rank), top `topK`
    */
  def rrfFuse(rankings: Seq[DataFrame], k0: Int = 60, topK: Int = 25,
              idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: no rankings")
    require(k0 >= 1, "rrfFuse: k0 must be >= 1")
    val contrib = rankings.map { r =>
      // `div`, not `/`: Column./ is double true-division in Spark
      r.select(col(idCol),
        expr(s"1000000000000L div (cast(rank as bigint) + ${k0}L)").as("_c"))
    }.reduce(_.unionAll(_))
    val w = Window.orderBy(col("rrf_q").desc, col(idCol))
    contrib.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lists"), sum(col("_c")).as("rrf_q"))
      .orderBy(col("rrf_q").desc, col(idCol))
      .limit(topK)
      .withColumn("rank", row_number().over(w).cast("long"))
  }
}
