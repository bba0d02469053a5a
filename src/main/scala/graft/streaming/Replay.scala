package graft.streaming

import java.nio.file.Files

import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Deterministic micro-batch replay of the streaming operators over a
  * bounded table — the bridge that makes the streaming package visible
  * to the batch correctness gate (reference has no streaming surface; this
  * is the engine's stream-native extension, SURVEY.md §1.4).
  *
  * Every replay runs through one driver ([[drive]]): it starts the
  * operator as an append query on a cloned runner session, feeds the
  * batches one at a time — draining each with `processAllAvailable`
  * before the next, which is what makes the keyed-state transitions
  * deterministic — and collects every batch's output into a bounded
  * driver buffer via `foreachBatch` (see [[Collector]] — the earlier
  * per-batch parquet append cost ~0.4-1.0 s of committer round-trip per
  * micro-batch, the largest single cost of every replay gate). The
  * checkpoint directory lives exactly as long as the call, whether the
  * replay returns or throws. An empty feed yields an empty frame with
  * the stream's own schema, so a replay's result has the same columns
  * whatever its input.
  *
  * The feed comes in two layouts:
  *  - '''equal chunks''' ([[chunked]]): the rows in global time order,
  *    cut into K equal micro-batches, so each user's rows arrive
  *    in-order across batches (the operators' documented device-stream
  *    assumption). The result is bit-deterministic: same input → same
  *    chunking → same state transitions → same rows, regardless of K.
  *  - '''residue classes''' ([[residues]]): micro-batch p carries the
  *    rows whose id ≡ p (mod K), a deterministic OUT-OF-ORDER feed whose
  *    divergence from the batch twin each `…OutOfOrder` replay documents
  *    in closed form.
  * Each public replay keeps only what is its own: the column selection,
  * the feed order, any sentinel rows, and the operator call.
  *
  * The driver-side feed is the test-harness half only (MemoryStream data
  * lives on the driver by construction — production replaces it with a
  * Kafka/file source); the operator under replay runs as a genuine
  * Structured Streaming query with hash-partitioned keyed state, so what
  * the gate certifies is the state-transition semantics that production
  * would execute.
  */
object Replay {

  private def tmp(prefix: String): String = {
    // replay checkpoints are harness-temp state (created per call,
    // deleted when the call ends) — put them on the RAM-backed tmpfs
    // when one exists: every micro-batch pays offset-log + commit-log +
    // per-partition state-store file round-trips, and on a disk-backed
    // java.io.tmpdir that file churn is the largest fixed cost of every
    // replay gate. Production replaces the whole checkpoint location
    // with a durable store; the state-transition semantics certified by
    // the gates are byte-identical either way (oracle-rechecked).
    // Capacity-gated (r15 ADVICE.md): a small tmpfs (Docker's default
    // /dev/shm is 64 MB) can ENOSPC mid-replay on the offset/commit/state
    // files, failing gates that worked on the disk-backed tmpdir. A replay
    // writes a few MB; require comfortable headroom before electing tmpfs,
    // and allow an env opt-out for constrained hosts.
    val shm = java.nio.file.Paths.get("/dev/shm")
    val shmUsable =
      !sys.env.get("SPARK_GRAFT_REPLAY_NO_SHM").exists(_.nonEmpty) &&
        Files.isDirectory(shm) && Files.isWritable(shm) &&
        (try Files.getFileStore(shm).getUsableSpace >= 256L * 1024 * 1024
         catch { case _: java.io.IOException => false })
    if (shmUsable) Files.createTempDirectory(shm, prefix).toString
    else Files.createTempDirectory(prefix).toString
  }

  /** A cloned session the replay's streaming query runs on, with its own
    * shuffle partition count. Replay volumes are bounded (residue-class
    * slices of test tables), but every micro-batch commits one state
    * store PER shuffle partition (×2 sides for stream-stream joins) — at
    * the session's 32 partitions that's pure file-IO overhead, ~2/3 of
    * the colocation gate's wall clock before the pinning. Key-hash state
    * partitioning is semantics-free: same transitions, same rows
    * (ReplaySpec pins chunking/partitioning invariance).
    *
    * A CLONE (not a conf mutate-and-restore on the caller's session,
    * the previous approach) because the streaming plan reads the conf at
    * query start, and any batch query planned concurrently on the shared
    * session during that window would silently inherit the replay's
    * partition count — Verify runs gates in parallel, making that race
    * real. The clone shares the SparkContext (same executors, same block
    * store) but owns its SQLConf, so the pinning is invisible outside
    * the replay. Only the streaming query runs on the clone; the replay
    * result is read back on the caller's session.
    */
  private def runnerSession(spark: SparkSession, partitions: Int,
                            noDataBatches: Boolean): SparkSession = {
    val s = spark.newSession()
    GraftSession.prepare(s)
    // 2 partitions for the keyed-state replays (every micro-batch
    // commits one state store PER partition — pure file-IO overhead on
    // bounded slices, measured −0.3..−0.6 s per gate vs 4); the
    // pair-emitting stream-stream joins pass a higher count because
    // their per-batch COMPUTE (same-cell pair matching) dominates and
    // parallelizes.
    s.conf.set("spark.sql.shuffle.partitions", partitions)
    // replay queries run a handful of micro-batches and the checkpoint
    // dir is deleted right after — retaining the default 100 batches of
    // state/metadata files only adds file churn per commit
    s.conf.set("spark.sql.streaming.minBatchesToRetain", 2)
    if (!noDataBatches) s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s
  }

  private def deleteRecursively(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Driver-side append sink for the replay harness: each micro-batch's
    * output rows are collected into a bounded driver buffer instead of
    * appended to a temp parquet — the per-batch parquet committer
    * round-trip measured ~0.4-1.0 s PER MICRO-BATCH even for empty
    * batches, the single largest cost of every replay gate (r14 verdict
    * #6: streaming_interval_join spent ~2 of its ~4 s writing), while
    * gate outputs are residue-class slices bounded in the tens of
    * thousands of rows. The feed half of the harness is driver-side by
    * construction (MemoryStream); the sink half now matches —
    * production replaces both ends with Kafka/file sources and sinks.
    *
    * @param schema the streaming frame's schema, taken before the query
    *               starts — every batch has it, and so does the result of
    *               a replay that emitted nothing
    * @note local-mode-only by design, like the feed: the buffer must
    *       fit on the driver, which the bounded replay slices do.
    */
  private final class Collector(schema: StructType) {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    def add(df: DataFrame): Unit = {
      val rows = df.collect()
      synchronized { buf ++= rows }
    }
    /** The accumulated rows as a frame on the CALLER's session, pinned
      * via eager local checkpoint (same lifetime contract the parquet
      * read-back had).
      */
    def result(spark: SparkSession): DataFrame = synchronized {
      spark.createDataFrame(spark.sparkContext.parallelize(buf.toSeq, 4), schema)
        .localCheckpoint(true)
    }
  }

  /** The one replay driver. `plan` builds the streaming frame on the
    * runner session and returns it with its feed: one step per
    * micro-batch, each followed by `processAllAvailable`. Every batch the
    * query emits goes through `perBatch` into the [[Collector]]; the
    * collected rows come back on the caller's session. The checkpoint
    * directory is deleted however the call ends.
    *
    * @param partitions    the runner's shuffle partition count
    * @param noDataBatches whether the runner runs Spark's no-data
    *                      micro-batches (the watermark-only eviction passes)
    */
  private def drive(spark: SparkSession, partitions: Int, noDataBatches: Boolean,
                    perBatch: DataFrame => DataFrame)
                   (plan: SparkSession => (DataFrame, Seq[() => Unit])): DataFrame = {
    val ckpt = tmp("graft-replay-")
    try {
      val (out, feed) = plan(runnerSession(spark, partitions, noDataBatches))
      val sink = new Collector(perBatch(out).schema)
      val q = out.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) => sink.add(perBatch(df)) }
        .start()
      try feed.foreach { addBatch => addBatch(); q.processAllAvailable() }
      finally q.stop()
      sink.result(spark)
    } finally deleteRecursively(ckpt)
  }

  /** [[drive]] over one [[MemoryStream]]: `op` gets the stream as a frame
    * of `T`'s tuple columns and returns the operator's output; the
    * non-empty `batches` are the feed.
    */
  private def replay[T: Encoder](spark: SparkSession, batches: Seq[Seq[T]],
                                 partitions: Int = 2, noDataBatches: Boolean = true,
                                 perBatch: DataFrame => DataFrame = identity)
                                (op: DataFrame => Dataset[_]): DataFrame =
    drive(spark, partitions, noDataBatches, perBatch) { runner =>
      val input = MemoryStream[T](runner)
      (op(input.toDF()).toDF(), batches.filter(_.nonEmpty).map(b => () => { input.addData(b); () }))
    }

  /** The in-order layout: `rows` (already in feed order) in `chunks`
    * equal micro-batches.
    */
  private def chunked[T](rows: Seq[T], chunks: Int): Seq[Seq[T]] =
    rows.grouped(math.max(1, math.ceil(rows.length.toDouble / chunks).toInt)).toSeq

  /** The out-of-order layout: micro-batch p (p = 0..chunks−1) carries the
    * rows whose id ≡ p (mod chunks), each batch in `rows`' order.
    */
  private def residues[T](rows: Seq[T], chunks: Int)(id: T => Long): Seq[Seq[T]] = {
    require(chunks >= 2, "out-of-order replay needs at least 2 chunks")
    (0 until chunks).map(p => rows.filter(r => java.lang.Math.floorMod(id(r), chunks.toLong) == p))
  }

  /** Replay [[StreamingSessionize.assign]] over a bounded event table.
    *
    * @param events (event_id, user_id, t_us) — any extra columns ignored
    * @return (event_id, user_id, session_id) matching the batch
    *         `EventOps.sessionize` contract
    */
  def sessionize(events: DataFrame, gapMinutes: Double = 30.0, chunks: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events
      .select(col("event_id").cast("long"), col("user_id").cast("long"), col("t_us").cast("long"))
      .as[(Long, Long, Long)].collect()
      .sortBy { case (e, _, t) => (t, e) }.toSeq
    replay(spark, chunked(rows, chunks)) { in =>
      StreamingSessionize.assign(in.toDF("event_id", "user_id", "t_us")
          .select(col("event_id"), col("user_id"), timestamp_micros(col("t_us")).as("ts")),
        gapMinutes)
    }.select(col("event_id"), col("user_id"), col("session_id"))
  }

  /** (doc_id, text) rows of a document table, in doc-id order. */
  private def docRows(docs: DataFrame): Seq[(Long, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
  }

  /** Replay [[StreamingDedup.dedup]] over a bounded document table in
    * audit mode (duplicates pass through flagged): rows arrive in doc-id
    * order, so first-seen matches the batch operator's min(doc_id)
    * keeper; expiry is off so the replay is chunking-deterministic.
    *
    * @param docs (doc_id, text) — extra columns ignored
    * @return (doc_id, text_hash, is_first, first_doc_id)
    */
  def dedup(docs: DataFrame, chunks: Int = 8): DataFrame =
    dedupFeed(docs.sparkSession, chunked(docRows(docs), chunks))

  /** Replay [[StreamingDedup.dedup]] with a deterministic OUT-OF-ORDER
    * feed (micro-batch p carries the docs with doc_id ≡ p mod chunks):
    * the first-seen keeper is no longer the batch twin's global
    * min(doc_id) — it is the smallest id in the EARLIEST batch that
    * carries the hash, i.e. min by (doc_id mod chunks, doc_id). The
    * divergence contract is that closed form (the oracle); audit mode so
    * every duplicate row points at its keeper.
    */
  def dedupOutOfOrder(docs: DataFrame, chunks: Int = 4): DataFrame =
    dedupFeed(docs.sparkSession, residues(docRows(docs), chunks)(_._1))

  private def dedupFeed(spark: SparkSession, batches: Seq[Seq[(Long, String)]]): DataFrame = {
    import spark.implicits._
    replay(spark, batches) { in =>
      StreamingDedup.dedup(in.toDF("doc_id", "text"), idleHorizonMinutes = 0L,
        emitDuplicates = true)
    }.select(col("doc_id"), col("text_hash"), col("is_first"), col("first_doc_id"))
  }

  /** Replay [[StreamingNearDup.candidates]] over a bounded document
    * table: rows arrive in doc-id order (chunk-invariant by the
    * operator's smallest-id-first in-batch rule), expiry off and the
    * bucket cap effectively disabled, so the emitted set has the CLOSED
    * FORM "one row per (pair, band) whose MinHash band hashes collide"
    * — exactly the batch banding CTE without the distinct.
    *
    * @param docs (doc_id, text) — extra columns ignored
    * @return (id_a, id_b, band)
    */
  def nearDup(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
              shingleN: Int = 3, chunks: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    replay(spark, chunked(docRows(docs), chunks)) { in =>
      StreamingNearDup.candidates(in.toDF("doc_id", "text"), numHashes, bands, shingleN,
        idleHorizonMinutes = 0L, maxBucketSize = Int.MaxValue)
    }.select(col("id_a"), col("id_b"), col("band"))
  }

  /** Replay [[StreamingNearDup.candidates]] PLUS the verification stage
    * — the streaming path now ends at verified pairs exactly like batch
    * [[graft.operators.Dedup.minHashLsh]] does, instead of handing raw
    * band collisions to the consumer. Each micro-batch's candidates
    * dedup on (id_a, id_b) and join a broadcast shingle store (built
    * once, pinned in memory; production swaps in a document-store
    * lookup) computing the exact intersect/union Jaccard, and only
    * pairs at or above `verifyThreshold` land in the sink — the
    * foreachBatch verification join the operator's scaladoc prescribes,
    * made concrete.
    *
    * Oracle contract: with expiry off and the cap disabled, the
    * verified set EQUALS the batch minHashLsh output on the same corpus
    * (same shingle arrays, same Jaccard expression, same threshold) —
    * candidates are the banding collisions in closed form, and every
    * band of a pair emits in the one micro-batch where the pair's later
    * document arrives, so the per-batch dedup yields each pair exactly
    * once across the replay (no cross-batch duplicates to reconcile).
    *
    * @param docs (doc_id, text) — extra columns ignored
    * @return (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold
    */
  def nearDupVerified(docs: DataFrame, numHashes: Int = 64, bands: Int = 16,
                      shingleN: Int = 3, verifyThreshold: Double = 0.5,
                      chunks: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docRows(docs)
    // a pinned local checkpoint: session-independent, so it joins into
    // the batches of the query's own session clone
    val store = rows.toDF("doc_id", "text")
      .select(col("doc_id").as("_id"),
        graft.operators.Dedup.shingles(col("text"), shingleN).as("_sh"))
      .localCheckpoint(true)
    def verify(candidates: DataFrame): DataFrame = candidates
      .select(col("id_a"), col("id_b")).distinct()
      .join(broadcast(store.select(col("_id").as("id_a"), col("_sh").as("_sh_a"))), "id_a")
      .join(broadcast(store.select(col("_id").as("id_b"), col("_sh").as("_sh_b"))), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("_sh_a"), col("_sh_b"))).cast("double") /
          size(array_union(col("_sh_a"), col("_sh_b"))).cast("double"))
      .filter(col("jaccard") >= verifyThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    replay(spark, chunked(rows, chunks), perBatch = verify) { in =>
      StreamingNearDup.candidates(in.toDF("doc_id", "text"), numHashes, bands, shingleN,
        idleHorizonMinutes = 0L, maxBucketSize = Int.MaxValue)
    }
  }

  /** (group, id, t) rows under the given column names, in (t, id) order. */
  private def timedRows(df: DataFrame, groupCol: String, idCol: String,
                        timeCol: String): Seq[(String, Long, Long)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(groupCol).cast("string"), col(idCol).cast("long"), col(timeCol).cast("long"))
      .as[(String, Long, Long)].collect().sortBy { case (_, i, t) => (t, i) }.toSeq
  }

  /** Replay [[StreamingQuota.quota]] over a bounded table in drop mode.
    * Rows arrive in (event-time, id) order, the regime where the
    * streaming admission provably matches [[StreamingQuota.quotaBatch]]
    * (out-of-order lateness handling diverges by design — spec-pinned).
    *
    * @param docs (group, doc_id, t_us) under the given column names
    * @return (grp, doc_id, window_start_us, seq_in_window, admitted)
    */
  def quota(docs: DataFrame, quotaN: Long, windowMinutes: Long,
            groupCol: String = "lang", idCol: String = "doc_id", timeCol: String = "t_us",
            chunks: Int = 8): DataFrame =
    quotaFeed(docs.sparkSession, quotaN, windowMinutes,
      chunked(timedRows(docs, groupCol, idCol, timeCol), chunks))

  /** Replay [[StreamingQuota.quota]] with a deterministic OUT-OF-ORDER
    * feed: micro-batch p (p = 0..chunks−1) carries exactly the rows with
    * doc_id ≡ p (mod chunks), so every batch after the first delivers
    * rows that are LATE relative to the event-time horizon earlier
    * batches already advanced — the regime where streaming admission
    * diverges from the batch twin by design.
    *
    * The divergence has a closed form (the oracle's contract, pinned by
    * StreamingQuotaSpec): the operator counts a late row against the
    * NEWEST window its group has opened, and within one micro-batch it
    * processes rows in (t, id) order with window starts monotone in t —
    * so a row's effective window is
    *   E = max(own window start, max window start over earlier batches)
    * and admission is `row_number() over (group, E ordered by
    * (batch, t, id)) <= quota`, stamped with E.
    */
  def quotaOutOfOrder(docs: DataFrame, quotaN: Long, windowMinutes: Long,
                      groupCol: String = "lang", idCol: String = "doc_id",
                      timeCol: String = "t_us", chunks: Int = 4): DataFrame =
    quotaFeed(docs.sparkSession, quotaN, windowMinutes,
      residues(timedRows(docs, groupCol, idCol, timeCol), chunks)(_._2))

  private def quotaFeed(spark: SparkSession, quotaN: Long, windowMinutes: Long,
                        batches: Seq[Seq[(String, Long, Long)]]): DataFrame = {
    import spark.implicits._
    replay(spark, batches) { in =>
      StreamingQuota.quota(in.toDF("group", "doc_id", "t_us"), quotaN, windowMinutes,
        groupCol = "group", idCol = "doc_id", timeCol = "t_us", emitRejected = false,
        idleHorizonMinutes = 0L)
    }.select(col("group").as("grp"), col("doc_id"), col("window_start_us"),
      col("seq_in_window"), col("admitted"))
  }

  /** Replay [[StreamingHeavyHitters.windowCounts]] and rank the
    * finalized windows. A far-future sentinel row rides ON the last
    * data batch to advance the watermark past every real window
    * (append mode emits a window's finals only once the watermark
    * crosses its end), and ONE extra sentinel-only batch gives the
    * engine the flush cycle it runs after a watermark-only advance.
    * The sentinel key is filtered from the result; its own window
    * never finalizes.
    * The in-order feed (global (t, id) sort, equal chunks) keeps every
    * row inside the lateness delay, so the finalized counts equal the
    * batch groupBy exactly — the oracle's contract.
    */
  def heavyHitters(events: DataFrame, k: Int, windowMinutes: Long, delayMinutes: Long,
                   keyCol: String = "event_type", idCol: String = "event_id",
                   timeCol: String = "t_us", chunks: Int = 3): DataFrame =
    heavyHittersFeed(events.sparkSession, k, windowMinutes, delayMinutes,
      chunked(timedRows(events, keyCol, idCol, timeCol), chunks))

  /** Replay [[StreamingHeavyHitters.windowCounts]] with a deterministic
    * OUT-OF-ORDER feed (micro-batch p carries the rows with id ≡ p mod
    * `chunks`) — the regime where the engine's late-row rule actually
    * fires. The divergence from batch has a CLOSED FORM the oracle
    * encodes: a row in batch p is dropped iff the max event time over
    * batches before p is ≥ its window end + the delay. That predicate
    * is exact under either watermark clock resolution because window
    * ends and the delay are millisecond-aligned (see
    * WatermarkBoundaryProbeSpec, which pins the `end <= wm` boundary
    * the form is derived from); dropped rows still ADVANCE the
    * watermark (the event-time stats run before the stateful filter),
    * so the running max is over all rows, kept or not. Finalized
    * counts are the kept rows grouped; a window that already emitted
    * can never receive a kept late row (emitted ⟺ the row would have
    * been dropped).
    */
  def heavyHittersOutOfOrder(events: DataFrame, k: Int, windowMinutes: Long,
                             delayMinutes: Long, keyCol: String = "event_type",
                             idCol: String = "event_id", timeCol: String = "t_us",
                             chunks: Int = 4): DataFrame =
    heavyHittersFeed(events.sparkSession, k, windowMinutes, delayMinutes,
      residues(timedRows(events, keyCol, idCol, timeCol), chunks)(_._2))

  private def heavyHittersFeed(spark: SparkSession, k: Int, windowMinutes: Long,
                               delayMinutes: Long,
                               batches: Seq[Seq[(String, Long, Long)]]): DataFrame = {
    import spark.implicits._
    // (A/B note: disabling no-data micro-batches on the runner clone
    // halves the commits but CHANGES the late-drop set — the no-data
    // batch is where the advanced watermark lands before the next data
    // batch's stateful filter reads it — so the default stays.)
    val sentinelKey = " flush"
    val tMax = batches.iterator.flatten.map(_._3).foldLeft(0L)(math.max)
    val flushT = tMax + (delayMinutes + 2 * windowMinutes) * 60L * 1000000L
    // two sentinel ROWS but only ONE extra micro-batch: the first flush
    // row rides at the tail of the last data batch (it is the max event
    // time, so in-batch order is preserved, and it cannot affect that
    // batch's own drop decisions — the watermark a row is judged against
    // comes from EARLIER batches only), advancing the watermark past
    // every real window; the second, later batch then triggers their
    // finalization. Every state-store commit is ~0.7 s of the gate, so
    // batches are the cost unit here — same finalized set as the
    // two-sentinel-batch layout, one commit fewer.
    val flush1 = (sentinelKey, -1L, flushT)
    val flush2 = (sentinelKey, -2L, flushT + windowMinutes * 60L * 1000000L)
    val data = batches.filter(_.nonEmpty)
    val feed =
      (if (data.isEmpty) Seq(Seq(flush1)) else data.init :+ (data.last :+ flush1)) :+ Seq(flush2)
    val counts = replay(spark, feed) { in =>
      StreamingHeavyHitters.windowCounts(in.toDF("event_type", "event_id", "t_us"),
        windowMinutes, delayMinutes)
    }
    StreamingHeavyHitters.topK(counts.filter(col("key") =!= sentinelKey), k)
  }

  /** Replay [[StreamingAsOf.enrich]] over bounded event/label tables:
    * the point-in-time enrichment shape. One tagged feed, globally
    * sorted by (t, labels-before-events, id) then equal row chunks —
    * the same global-time-order recipe as [[sessionize]], which keeps
    * every user's rows in-order across micro-batches; labels sort
    * before events at the same instant so an at-that-moment label is
    * visible to its event even across a chunk boundary.
    *
    * @param events (event_id, user_id, t_us) — extra columns ignored
    * @param labels (label_id, user_id, t_us) — extra columns ignored
    * @return (event_id, user_id, t_us, label_id, label_t_us), one row
    *         per event; label columns null before a user's first label
    */
  def asOf(events: DataFrame, labels: DataFrame, chunks: Int = 4): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val evRows = events
      .select(col("event_id").cast("long"), col("user_id").cast("long"), col("t_us").cast("long"))
      .as[(Long, Long, Long)].collect().map { case (i, u, t) => (u, false, i, t) }
    val labRows = labels
      .select(col("label_id").cast("long"), col("user_id").cast("long"), col("t_us").cast("long"))
      .as[(Long, Long, Long)].collect().map { case (i, u, t) => (u, true, i, t) }
    val rows = (evRows ++ labRows)
      .sortBy { case (_, isLabel, id, t) => (t, !isLabel, id) }.toSeq
    replay(spark, chunked(rows, chunks)) { in =>
      StreamingAsOf.enrich(in.toDF("user_id", "is_label", "id", "t_us"))
    }.select(col("event_id"), col("user_id"), col("t_us"), col("label_id"), col("label_t_us"))
  }

  /** Replay [[StreamingIntervalJoin.enrich]] over bounded event/label
    * tables — the TWO-INPUT stream-stream join shape (colocation is the
    * self-join). Both feeds advance in lockstep over COMMON time
    * boundaries, each ordered by its own watermark column (events by
    * ts, labels by finished_at), so neither stream ever delivers a
    * watermark-late row and the inner join's output is
    * chunk-count-invariant: Spark evicts join state only when the other
    * side's watermark proves no future row can match, which under
    * in-order feeds never removes a live partner.
    *
    * With `leftOuter = true` the replay drives
    * [[StreamingIntervalJoin.enrichLeftOuter]] instead: unmatched
    * events emit null-extended ONLY once the global watermark passes
    * `ts + maxDuration`, so after the last real chunk the replay feeds
    * a sentinel batch on BOTH inputs (Spark's global watermark is the
    * MIN across watermark columns — one side alone would hold it back)
    * far enough ahead (`watermark + maxDuration + slack`) to evict
    * every real row, then one more sentinel batch to run the
    * post-watermark-update eviction pass (watermarks take effect in
    * the batch AFTER the one that advanced them; no-data batches are
    * disabled here for batch determinism). Sentinel rows carry
    * `user_id = -1` and are dropped from the returned frame; real
    * user ids are nonnegative by the events-table contract.
    *
    * @param events (event_id, user_id, t_us) — extra columns ignored
    * @param labels (label_id, user_id, s_us, f_us, label) with every
    *               interval no longer than `maxDurationMinutes`
    * @return (event_id, user_id, t_us, label_id, label), one row per
    *         containing interval; with `leftOuter` also one
    *         (event_id, user_id, t_us, null, null) row per
    *         never-matched event
    */
  def intervalJoin(events: DataFrame, labels: DataFrame, maxDurationMinutes: Int,
                   watermarkMinutes: Int = 60, chunks: Int = 2,
                   leftOuter: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val evRows = events
      .select(col("event_id").cast("long"), col("user_id").cast("long"), col("t_us").cast("long"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._3, r._1)).toSeq
    val labRows = labels
      .select(col("label_id").cast("long"), col("user_id").cast("long"),
        col("s_us").cast("long"), col("f_us").cast("long"), col("label").cast("long"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._4, r._1)).toSeq

    // common boundaries over the union of both watermark-column time
    // sets: both feeds cross each boundary in the same micro-batch
    val times = (evRows.map(_._3) ++ labRows.map(_._4)).sorted
    // empty-feed guard: with no rows there are no boundaries (indexing
    // times(0) here would throw)
    val bounds =
      if (times.isEmpty) Seq.empty[Long]
      else (1 until chunks).map(i => times(((times.length.toLong * i) / chunks).toInt))
    def bucket(t: Long): Int = bounds.count(_ <= t)

    // same reasoning as the colocation replay: an INNER stream-stream
    // join emits on match and the lockstep in-order feeds are never
    // late, so the no-data micro-batch after each drained chunk only
    // evicts state — output-neutral, and skipping it removes one full
    // micro-batch's planning+commit round per chunk (the replay's cost
    // unit; oracle-checked identical)
    val raw = drive(spark, partitions = 2, noDataBatches = false, perBatch = identity) { runner =>
      val evIn = MemoryStream[(Long, Long, Long)](runner)
      val labIn = MemoryStream[(Long, Long, Long, Long, Long)](runner)
      val evStream = evIn.toDF().toDF("event_id", "user_id", "t_us")
        .select(col("event_id"), col("user_id"), timestamp_micros(col("t_us")).as("ts"))
      val labStream = labIn.toDF().toDF("label_id", "user_id", "s_us", "f_us", "label")
        .select(col("label_id"), col("user_id"), col("label"),
          timestamp_micros(col("s_us")).as("started_at"),
          timestamp_micros(col("f_us")).as("finished_at"))
      val joined =
        if (leftOuter)
          StreamingIntervalJoin.enrichLeftOuter(evStream, labStream,
            maxDurationMinutes, watermarkMinutes)
        else
          StreamingIntervalJoin.enrich(evStream, labStream, maxDurationMinutes, watermarkMinutes)
      val lockstep = (0 until chunks).map { b => () =>
        val ev = evRows.filter(r => bucket(r._3) == b)
        val lb = labRows.filter(r => bucket(r._4) == b)
        if (ev.nonEmpty) evIn.addData(ev)
        if (lb.nonEmpty) labIn.addData(lb)
        ()
      }
      // sentinel flush (see scaladoc): both watermark columns must
      // advance past every real row's eviction point, then one more
      // batch runs the eviction that emits the trailing null rows
      val flush =
        if (!leftOuter || times.isEmpty) Nil
        else {
          val flushT = times.last +
            (watermarkMinutes.toLong + maxDurationMinutes.toLong + 10L) * 60000000L
          Seq(
            () => {
              evIn.addData(Seq((-1L, -1L, flushT)))
              labIn.addData(Seq((-1L, -1L, flushT, flushT + 1L, 0L))); ()
            },
            () => { evIn.addData(Seq((-2L, -1L, flushT + 60000000L))); () })
        }
      (joined, lockstep ++ flush)
    }
    (if (leftOuter) raw.filter(col("user_id") >= 0) else raw)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("label_id"), col("label"))
  }

  /** Replay [[StreamingColocation.meetings]] over a bounded interval
    * table — unlike the keyed-state replays above, this drives the
    * OTHER streaming shape: a watermarked stream-stream symmetric hash
    * self-join. Inner joins emit on match, so no sentinel flush is
    * needed; rows arrive in started_at order so nothing is
    * watermark-late.
    *
    * @param intervals (user_id, s_us, f_us, lon, lat) — extra ignored
    * @return (user_a, user_b, m_s_us, m_f_us)
    */
  def colocation(intervals: DataFrame, cellMicroDeg: Long = 10000L,
                 maxDurationMinutes: Int = 600, watermarkMinutes: Int = 60,
                 chunks: Int = 8): DataFrame = {
    val spark = intervals.sparkSession
    import spark.implicits._
    val rows = intervals
      .select(col("user_id").cast("long"), col("s_us").cast("long"), col("f_us").cast("long"),
        col("lon").cast("double"), col("lat").cast("double"))
      .as[(Long, Long, Long, Double, Double)].collect()
      .sortBy { case (u, s, _, _, _) => (s, u) }.toSeq
    // stays at 4 partitions: A/B at 2/4/8 measured within noise of each
    // other — this gate is bounded by per-batch pair compute and the
    // per-batch output collect, not by state-store commit fan-out, so
    // the keyed-state gates' 2-partition trim buys nothing here.
    // Unlike the windowed-agg replays (whose late-DROP set moves with
    // the no-data conf — see heavyHitters), the symmetric-hash INNER
    // join emits eagerly on match and an in-order feed is never late,
    // so the no-data micro-batch after each drained chunk only evicts
    // state: output-neutral here, and skipping it halves the per-chunk
    // commits of the priciest replay gate (isolated: the runner is a
    // per-call clone; oracle-checked identical)
    replay(spark, chunked(rows, chunks), partitions = 4, noDataBatches = false) { in =>
      StreamingColocation.meetings(in.toDF("user_id", "s_us", "f_us", "lon", "lat")
        .select(col("user_id"), timestamp_micros(col("s_us")).as("started_at"),
          timestamp_micros(col("f_us")).as("finished_at"), col("lon"), col("lat")),
        cellMicroDeg, maxDurationMinutes, watermarkMinutes)
    }.select(col("user_a"), col("user_b"),
      unix_micros(col("m_started_at")).as("m_s_us"),
      unix_micros(col("m_finished_at")).as("m_f_us"))
  }

  /** Replay [[StreamingStaypoints.detect]] over a bounded positionfix
    * table. After the real chunks, one final micro-batch of per-user
    * sentinel fixes — same timestamp as the user's last fix (so the
    * emitted tail keeps the batch operator's finished time), one degree
    * of longitude away (≥ 70 km, an unconditional distance break) —
    * flushes each user's tail candidate exactly like the batch scan's
    * `includeLast`. Sentinel-anchored candidates die with the stream and
    * sentinels never join a candidate (they always breach), so no output
    * filtering is needed.
    *
    * @param pfs (id, user_id, t_us, lon, lat) — extra columns ignored
    * @return (user_id, s_us, f_us, n_pfs)
    */
  def staypoints(pfs: DataFrame, params: StreamingStaypoints.Params = StreamingStaypoints.Params(),
                 chunks: Int = 8): DataFrame = {
    val spark = pfs.sparkSession
    import spark.implicits._
    val rows = pfs
      .select(col("id").cast("long"), col("user_id").cast("long"), col("t_us").cast("long"),
        col("lon").cast("double"), col("lat").cast("double"))
      .as[(Long, Long, Long, Double, Double)].collect()
      .sortBy { case (i, _, t, _, _) => (t, i) }.toSeq
    val sentinels = rows.groupBy(_._2).map { case (u, rs) =>
      val last = rs.maxBy(r => (r._3, r._1))
      (Long.MaxValue, u, last._3, last._4 + 1.0, last._5)
    }.toSeq.sortBy(_._2)
    replay(spark, chunked(rows, chunks) :+ sentinels) { in =>
      StreamingStaypoints.detect(in.toDF("id", "user_id", "t_us", "lon", "lat")
        .select(col("id"), col("user_id"), timestamp_micros(col("t_us")).as("tracked_at"),
          col("lon"), col("lat")), params)
    }.select(col("user_id"), col("started_us").as("s_us"), col("finished_us").as("f_us"),
      col("n_pfs").cast("long").as("n_pfs"))
  }
}
