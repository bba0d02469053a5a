package graft

import graft.operators._
import graft.sources.EventsAdapter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}

/** The canonical mobility pipeline over the driver's derived positionfix
  * view, with per-(session, sfDir) memoization so downstream queries
  * (triplegs needs staypoints, trips needs both, …) don't recompute their
  * inputs on every action.
  *
  * Every generator call passes [[Share.materialize]] as its `share` hook:
  * each generator marks the intermediates that appear in more than one
  * output lineage (or get re-read by the dense-id range sort's sampling
  * pass), so the expensive scan/window chains materialize exactly once
  * no matter which output is acted on first. Without the hook,
  * materializing a generator's two outputs runs its scan chain two to
  * four times — Spark's cache manager can only dedupe plan fragments
  * that are persisted.
  *
  * The share implementation is a lazy `localCheckpoint`: plain row-block
  * storage (memory, spilling to local disk) with no columnar re-encode,
  * which measures ~2× cheaper to build and read than `persist(MEMORY_AND_
  * DISK)` for these window-heavy, nested-column intermediates — the
  * columnar cache's encode cost exceeds the recompute it saves at every
  * scale where the blocks fit. The tradeoff is lineage truncation: a lost
  * block cannot be recomputed, so a multi-executor deployment losing nodes
  * would instead write stage boundaries back to user-bucketed parquet
  * (same hook, different function) — which is also the 100 TB shape where
  * no single cluster's block store holds the intermediates.
  */
object Pipeline {

  /** A once-only memo slot: `value` runs `build` on first use under the
    * cell's own monitor, so a second caller of the same key waits for the
    * first build and callers of other keys don't wait at all. A build that
    * throws leaves the cell unset and the next caller retries.
    */
  private final class Cell[T](build: => T) {
    lazy val value: T = build
  }

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Cell[_]]()

  /** The memo for `key` on this (session, snapshot), built at most once.
    * `value` is forced outside `computeIfAbsent`, so a build may call
    * `once` for the keys it depends on. Builds only read strictly-upstream
    * keys (the memo graph is a DAG), so a build holding its cell's
    * monitor never waits on a cell that waits on it.
    */
  private[graft] def once[T](spark: SparkSession, sfDir: String, key: String)(build: => T): T =
    memos.computeIfAbsent((spark, sfDir, key), _ => new Cell(build))
      .asInstanceOf[Cell[T]].value

  /** The multi-executor / 100 TB share hook: write the stage boundary to
    * parquet and read it back — durable, columnar, re-readable from
    * storage rather than pinned to executor block stores (a lost
    * localCheckpoint block is unrecoverable; a parquet stage is not).
    * Same `DataFrame => DataFrame` signature as the localCheckpoint hook,
    * so any generator/trainer taking a `share` parameter accepts it
    * unchanged. Results are identical by construction (pinned by
    * PipelineInvariantsSpec's share-hook equivalence test).
    */
  def parquetShare(baseDir: String): DataFrame => DataFrame = {
    val counter = new java.util.concurrent.atomic.AtomicInteger()
    df => {
      val p = s"$baseDir/stage_${counter.getAndIncrement()}"
      df.write.mode("overwrite").parquet(p)
      df.sparkSession.read.parquet(p)
    }
  }

  /** Drop all memoized stage frames and models, the derived
    * positionfixes ([[EventsAdapter.positionfixes]]) included (bench
    * repetitions: each suite run re-materializes the shared chains from
    * scratch so per-run timings keep the same cold-stage attribution as a
    * single run; the dropped localCheckpoint blocks are unpinned for the
    * ContextCleaner).
    */
  def reset(): Unit = memos.clear()

  /** Sliding staypoints over the derived positionfixes. Parameters are
    * calibrated to the synthetic trajectory (per-user fix cadence ~11h,
    * dwell runs of 8 fixes ≈ 75h, 4-fix transits): a 24h dwell threshold
    * separates dwell runs (staypoints) from transit fixes (triplegs), and
    * the gap cutoff is disabled because the cadence itself is hours.
    */
  def staypointParams: StaypointGenerator.Params =
    StaypointGenerator.Params(distThresholdMeters = 100, timeThresholdMinutes = 1440,
      gapThresholdMinutes = 1e7, includeLast = true,
      // the derived positionfixes are unique by construction (one row per
      // event id), so duplicate exclusion would be a full-row shuffle that
      // drops nothing — skip it; `pf_dedup` gates the operator separately
      excludeDuplicatePfs = false)

  /** One generate() call feeds both outputs — the staypoint scan is
    * the most expensive stage; the share hook persists it so neither
    * output (nor the id sort's sampling pass) recomputes it.
    */
  private def spGen(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    once(spark, sfDir, "sp_gen") {
      val pfs = EventsAdapter.positionfixes(spark, sfDir).drop("value", "t_us", "k")
      val (pfsSp, sp) = StaypointGenerator.generate(pfs, staypointParams, Share.materialize)
      (Share.materialize(pfsSp), sp)
    }

  def pfsWithStaypoints(spark: SparkSession, sfDir: String): DataFrame = spGen(spark, sfDir)._1

  def staypoints(spark: SparkSession, sfDir: String): DataFrame = spGen(spark, sfDir)._2

  /** One generate() call feeds both outputs (segmentation runs once). */
  private def tplGen(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    once(spark, sfDir, "tpl_gen") {
      val (pfsTpl, tpls) = TriplegGenerator.generate(
        pfsWithStaypoints(spark, sfDir), gapThresholdMinutes = 1e7, Share.materialize)
      (Share.materialize(pfsTpl), tpls)
    }

  def triplegs(spark: SparkSession, sfDir: String): DataFrame = tplGen(spark, sfDir)._2

  def pfsWithTriplegs(spark: SparkSession, sfDir: String): DataFrame = tplGen(spark, sfDir)._1

  /** overlap_staypoints triplegs, built from the cached between output. */
  def triplegsOverlap(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "tpls_ovl") {
      Share.materialize(TriplegGenerator.overlapFromBetween(
        pfsWithTriplegs(spark, sfDir), staypoints(spark, sfDir),
        gapThresholdMinutes = 1e7, Share.materialize)._2)
    }

  def staypointsWithActivity(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "sp_act") {
      Share.materialize(
        Labelling.createActivityFlag(staypoints(spark, sfDir), timeThresholdMinutes = 120.0))
    }

  def trips(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "trips") {
      TripGenerator.generate(staypointsWithActivity(spark, sfDir), triplegs(spark, sfDir),
        gapThresholdMinutes = 1e7, Share.materialize)._3
    }

  /** One generate() call feeds both outputs (same pattern as spGen —
    * the per-user DBSCAN scan must not run twice).
    */
  private def locGen(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    once(spark, sfDir, "loc_gen") {
      val (spLoc, locs) = LocationGenerator.generate(
        staypoints(spark, sfDir), LocationGenerator.Params(), Share.materialize)
      (Share.materialize(locs), Share.materialize(spLoc))
    }

  def locations(spark: SparkSession, sfDir: String): DataFrame = locGen(spark, sfDir)._1

  def staypointsWithLocation(spark: SparkSession, sfDir: String): DataFrame = locGen(spark, sfDir)._2

  /** MinHash near-dup pair table over the documents corpus — shared by
    * the pair query and duplicate clustering, so the signature/banding
    * lineage (the expensive part) is computed and persisted once.
    */
  def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "minhash_pairs") {
      Share.materialize(Dedup.minHashLsh(
        spark.read.parquet(s"$sfDir/documents.parquet"),
        numHashes = 64, bands = 16, verifyThreshold = 0.5))
    }

  /** Meeting-level co-location rows, shared across the whole contact
    * family (pairs / degrees / pagerank / components / inter-contact):
    * the banded cell×band self-join is the one expensive input they all
    * start from — exactly the production shape, where the contact table
    * is computed once per day and every analysis reads it.
    */
  def colocationMeetings(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "colocation_meetings") {
      // NOT pre-partitioned by the pair key: under AQE the checkpoint's
      // LogicalRDD captures UnknownPartitioning (AdaptiveSparkPlanExec
      // has no stable outputPartitioning before execution), so a
      // build-side repartition(user_a, user_b) does NOT let the three
      // pair-keyed consumers skip their Exchange — measured: the extra
      // build shuffle costs ~0.3 s and a build-side sort ~3 s while the
      // downstream plans keep their Exchange anyway (r15 optimization
      // round, rejected experiment).
      Share.materialize(SpatialOps.colocationMeetings(
        EventsAdapter.intervals(spark, sfDir), cellMicroDeg = 10000L, bandMinutes = 120.0))
    }

  /** The aggregated pair table over [[colocationMeetings]]. */
  def colocationPairs(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "colocation_pairs") {
      Share.materialize(SpatialOps.colocationPairsFromMeetings(colocationMeetings(spark, sfDir)))
    }

  /** The contact graph over [[colocationPairs]]: the projected pair
    * table, symmetric weighted edges, weighted/unweighted degree tables
    * and node/pair counts, materialized once per corpus snapshot. Every
    * contact-graph diagnostic (degrees, pagerank, k-core, spectral,
    * assortativity, rich club, LPA, Louvain, BFS balls) is a method on
    * it, so the family reads one set of tables.
    */
  def contactGraph(spark: SparkSession, sfDir: String): ContactGraph =
    once(spark, sfDir, "contact_graph") {
      ContactGraph.from(colocationPairs(spark, sfDir))
    }

  /** The level-1 Louvain label table (n, c) of [[contactGraph]] — the
    * expensive 4-round gain pass, read by the four Louvain gates: the
    * stats gate, the phase-2 collapse, the Leiden-style connectivity
    * audit and the Leiden-style refinement (same rationale as the
    * meeting table: one partition per snapshot, many diagnostics
    * reading it).
    */
  def louvainLabels(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "louvain_l1") {
      Share.materialize(contactGraph(spark, sfDir).louvainLabels(rounds = 4))
    }

  def tours(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "tours") {
      TourGenerator.generate(trips(spark, sfDir), None,
        TourGenerator.Params(maxDistMeters = 200.0, maxTimeDays = 30.0), Share.materialize)._2
    }

  /** The documents corpus labeled for the lang=='en' quality target —
    * the training frame of the whole classifier family.
    */
  def labeledDocs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("label", (org.apache.spark.sql.functions.col("lang") === "en").cast("long"))

  /** The 4-iter/131072-stepDiv trained weight vector shared by the
    * classifier_train and classifier_score gates (the eval family's
    * 8-iter filter is [[scoredDocs]]): one gradient loop per corpus
    * snapshot — the production shape — instead of each gate re-running
    * the identical full-batch training for bit-identical weights.
    */
  def classifierWeights4(spark: SparkSession, sfDir: String): Array[Long] =
    once(spark, sfDir, "classifier_w_i4") {
      Classifier.fit(labeledDocs(spark, sfDir),
        dim = 64, iters = 4, stepDiv = 131072L)
    }

  /** The learned 8-merge BPE table, trained once per corpus snapshot —
    * bpe_merges / bpe_encode / bpe_export / tokenizer_compression /
    * pack_by_bpe all read the ONE trained tokenizer (training is ~26
    * small shuffle+checkpoint jobs; re-running it per gate dominated the
    * whole family's bench cost while producing bit-identical tables).
    */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "bpe_merges") {
      // no materialize wrapper: the trainer runs eagerly (per-round
      // argmax collects) and returns a driver-local trajectory frame —
      // acting on it again is free
      TextAnalysis.bpeTrain(spark.read.parquet(s"$sfDir/documents.parquet"), merges = 8)
    }

  /** The merge table as the driver-side (lhs, rhs) sequence in merge
    * order — the broadcastable form every encode/export kernel takes.
    */
  def bpeLearned(spark: SparkSession, sfDir: String): Seq[(String, String)] =
    once(spark, sfDir, "bpe_learned") {
      bpeMerges(spark, sfDir).select(col("step"), col("lhs"), col("rhs")).collect()
        .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    }

  /** Per-document token counts under the learned table ([[bpeLearned]]),
    * tokenized once per snapshot: read by bpe_encode, the fairness card
    * and the BPE-budgeted packer.
    */
  def bpeTokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "bpe_token_counts") {
      Share.materialize(TextAnalysis.bpeEncode(
        spark.read.parquet(s"$sfDir/documents.parquet"), bpeLearned(spark, sfDir)))
    }

  /** DSIR hashed-bigram log-ratio weights vs the English slice (dim 256)
    * — the join-form and scan-form importance gates score with the SAME
    * weight table (bit-identical by construction), so it derives once.
    */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "dsir_weights") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      Share.materialize(TextAnalysis.importanceWeights(
        docs.filter(col("lang") === "en"), docs, dim = 256))
    }

  /** Perceptual aHash table over the real decoded PNG fixtures (content
    * keyed by doc_id % 250) — the phash gate reads it directly and the
    * near-dup pair gate bands over it; the javax.imageio encode+decode
    * pass is the family's dominant cost and runs once per snapshot.
    */
  def imagePhash(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "image_phash") {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .withColumn("cid", pmod(col("doc_id"), lit(250L)))
      Share.materialize(Multimodal.perceptualHash(Multimodal.pngFixtures(docs, contentCol = "cid")))
    }

  /** Eval-grade trained-and-scored corpus (iters = 8, the stepDiv the
    * eval queries pin): the calibration table, the ROC AUC and the PSI
    * drift monitor are three reads of ONE trained filter — the
    * production shape, where a filter trains once per corpus snapshot
    * and every eval row reads its scores. Retraining per eval query
    * would run the expensive gradient loop three times for bit-identical
    * weights.
    */
  def scoredDocs(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "scored_docs") {
      Share.materialize(Classifier.trainAndScore(labeledDocs(spark, sfDir),
        dim = 64, iters = 8, stepDiv = 16384L))
    }

  /** Brute-force exact top-5 of the standard probe slice (vec_id < 10)
    * over the full embedding corpus — the ground-truth ranking shared by
    * ann_bruteforce itself and both index-quality evals (recall, nDCG),
    * which previously each re-ran the full corpus scan.
    */
  def annBruteTop5(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "ann_brute_top5") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Share.materialize(Ann.bruteForceTopK(emb.filter(col("vec_id") < 10), emb, k = 5))
    }

  /** The id-seeded IVF top-5 answer for the same probe slice (nlist 32,
    * nprobe 4) — shared by ann_ivf and the recall/nDCG evals.
    */
  def annIvfTop5(spark: SparkSession, sfDir: String): DataFrame =
    once(spark, sfDir, "ann_ivf_top5") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      Share.materialize(
        Ann.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5, nlist = 32, nprobe = 4))
    }

  /** PQ codebooks trained once per corpus snapshot (dim 64, m 4,
    * ksub 8 — the gate family's parameters): the ADC search gate, the
    * distortion card and the recall eval all read the same index.
    */
  def pqModel(spark: SparkSession, sfDir: String): Ann.PqModel =
    once(spark, sfDir, "pq_model") {
      Ann.pqTrain(spark.read.parquet(s"$sfDir/embeddings.parquet"),
        dim = 64, m = 4, ksub = 8, iters = 2)
    }

  /** k-means clusters trained once on the full embeddings table (k 8,
    * iters 2 — the eval family's parameters): cluster purity, the
    * drift monitor and the outlier report all read the same model.
    */
  def kmeansModel(spark: SparkSession, sfDir: String): KMeans.Model =
    once(spark, sfDir, "kmeans_model") {
      KMeans.fit(spark.read.parquet(s"$sfDir/embeddings.parquet"),
        k = 8, iters = 2)
    }
}
