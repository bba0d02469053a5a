package graft.streaming

import graft.SparkSpec
import graft.operators.{EventOps, SpatialOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The replay harness (the driver-gate bridge for the streaming
  * operators) must (a) reproduce the batch operators' results exactly
  * and (b) be invariant to the micro-batch chunking — same rows whether
  * the stream arrives in 1 batch or one batch per row.
  */
class ReplaySpec extends SparkSpec {
  import spark.implicits._

  private val MIN = 60000000L

  test("replayed sessionize matches the batch operator for every chunking") {
    // 3 users, gaps straddling the 30-minute threshold, duplicate
    // timestamps inside one user to exercise the (t, id) tie-break
    val events = Seq(
      (0L, 1L, 0L), (1L, 1L, 10 * MIN), (2L, 1L, 45 * MIN), (3L, 1L, 46 * MIN),
      (4L, 2L, 5 * MIN), (5L, 2L, 36 * MIN),
      (6L, 3L, 7 * MIN), (7L, 3L, 7 * MIN), (8L, 3L, 90 * MIN))
      .toDF("event_id", "user_id", "t_us")
    val batch = EventOps.sessionize(events, gapMinutes = 30.0, tsCol = "t_us")
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    for (chunks <- Seq(1, 3, 9)) {
      val streamed = Replay.sessionize(events, gapMinutes = 30.0, chunks = chunks)
        .select("event_id", "session_id").as[(Long, Long)].collect().toMap
      assert(streamed == batch, s"chunks=$chunks")
    }
    assert(batch(2L) == 1L && batch(5L) == 1L && batch(8L) == 1L)
  }

  // user 1: 4-fix dwell at the origin (35 min > threshold), a transit
  // fix 200 m east (breach), then a 3-fix tail dwell that only the
  // includeLast sentinel flush can emit; user 2: all-transit, no output
  private def lon(m: Double) = -122.4 + m / 74000.0 // ≈ metres at lat 47.6
  private lazy val stayPfs = Seq(
    (0L, 1L, 0L, lon(0), 47.6), (1L, 1L, 10 * MIN, lon(10), 47.6),
    (2L, 1L, 20 * MIN, lon(20), 47.6), (3L, 1L, 35 * MIN, lon(5), 47.6),
    (4L, 1L, 40 * MIN, lon(200), 47.6),
    (5L, 1L, 45 * MIN, lon(400), 47.6), (6L, 1L, 60 * MIN, lon(410), 47.6),
    (7L, 1L, 80 * MIN, lon(390), 47.6),
    (10L, 2L, 0L, lon(0), 47.0), (11L, 2L, 20 * MIN, lon(500), 47.0))
    .toDF("id", "user_id", "t_us", "lon", "lat")
  private val stayParams = StreamingStaypoints.Params(distThresholdMeters = 100.0,
    timeThresholdMinutes = 30.0, gapThresholdMinutes = 1e7)

  test("replayed staypoints match the batch scan, tail flushed like includeLast") {
    val pfs = stayPfs
    val params = stayParams
    val expected = Set(
      (1L, 0L, 40 * MIN, 4L),        // dwell closed by the transit breach
      (1L, 45 * MIN, 80 * MIN, 3L))  // tail dwell, sentinel-flushed
    for (chunks <- Seq(1, 4)) {
      val got = Replay.staypoints(pfs, params, chunks = chunks)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected, s"chunks=$chunks: $got")
    }
  }

  test("replayed staypoint centroids equal the batch generator's bit for bit") {
    // Replay.staypoints projects the centroid away, so this drives the
    // detector over Replay's own feed: the fixes in (t, id) order in
    // chunks, then one far sentinel per user at its last fix's time
    implicit val sqlCtx = spark.sqlContext
    val batch = graft.operators.StaypointGenerator.generate(
        stayPfs.select(col("id"), col("user_id"), timestamp_micros(col("t_us")).as("tracked_at"),
          col("lon"), col("lat")),
        graft.operators.StaypointGenerator.Params(distThresholdMeters = 100.0,
          timeThresholdMinutes = 30.0, gapThresholdMinutes = 1e7, includeLast = true))._2
      .select(col("user_id"), unix_micros(col("started_at")), col("lon"), col("lat"))
      .as[(Long, Long, Double, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(batch.length == 2)
    val rows = stayPfs.as[(Long, Long, Long, Double, Double)].collect().toSeq.sortBy(r => (r._3, r._1))
    val sentinels = rows.groupBy(_._2).values.toSeq.map { rs =>
      val last = rs.maxBy(r => (r._3, r._1))
      (Long.MaxValue, last._2, last._3, last._4 + 1.0, last._5)
    }.sortBy(_._2)
    for (chunk <- Seq(1, 4)) {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long, Double, Double)]
      val query = StreamingStaypoints.detect(input.toDF().toDF("id", "user_id", "t_us", "lon", "lat")
          .select(col("id"), col("user_id"), timestamp_micros(col("t_us")).as("tracked_at"),
            col("lon"), col("lat")), stayParams)
        .writeStream.format("memory").queryName(s"replay_sp_centroids_$chunk")
        .outputMode("append").start()
      try {
        (rows.grouped(chunk).toSeq :+ sentinels).foreach { b => input.addData(b); query.processAllAvailable() }
      } finally query.stop()
      val streamed = spark.table(s"replay_sp_centroids_$chunk")
        .select(col("user_id"), col("started_us"), col("lon"), col("lat"))
        .as[(Long, Long, Double, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
      def bits(s: Seq[(Long, Long, Double, Double)]) = s.map { case (u, t, lo, la) =>
        (u, t, java.lang.Double.doubleToRawLongBits(lo), java.lang.Double.doubleToRawLongBits(la)) }
      assert(bits(streamed) == bits(batch), s"chunk=$chunk: $streamed vs $batch")
    }
  }

  test("replayed dedup flags first-seen by id order, invariant to chunking") {
    val docs = Seq(
      (10L, "alpha"), (11L, "beta"), (12L, "alpha"), // dup across chunk boundary
      (13L, "gamma"), (14L, "beta"), (15L, "alpha"))
      .toDF("doc_id", "text")
    for (chunks <- Seq(1, 3, 6)) {
      val got = Replay.dedup(docs, chunks = chunks)
        .select("doc_id", "is_first", "first_doc_id")
        .as[(Long, Boolean, Long)].collect().toSet
      assert(got == Set(
        (10L, true, 10L), (11L, true, 11L), (12L, false, 10L),
        (13L, true, 13L), (14L, false, 11L), (15L, false, 10L)), s"chunks=$chunks: $got")
    }
  }

  test("replayed near-dup candidates equal the batch banding collisions for every chunking") {
    // two literal clones (collide in every band) + one unrelated doc;
    // the pair must be emitted once per colliding band regardless of
    // whether the clones arrive in the same or different micro-batches
    val docs = Seq(
      (20L, "the quick brown fox jumps over the lazy dog"),
      (21L, "completely unrelated text about spark joins and windows"),
      (22L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val expected = (0 until 16).map(b => (20L, 22L, b)).toSet
    for (chunks <- Seq(1, 2, 3)) {
      val got = Replay.nearDup(docs, numHashes = 64, bands = 16, chunks = chunks)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == expected, s"chunks=$chunks: $got")
    }
  }

  test("verified near-dup replay equals the batch minHashLsh pair set for every chunking") {
    // two exact clones (jaccard 1.0, all bands collide), one near-clone
    // of 20 that should survive a 0.5 threshold if banding catches it,
    // and one unrelated doc; the streaming verify stage must emit the
    // SAME (pair, jaccard) rows batch minHashLsh produces — once per
    // pair, whichever micro-batch the later clone arrived in
    val docs = Seq(
      (20L, "the quick brown fox jumps over the lazy dog again and again"),
      (21L, "completely unrelated text about spark joins and windows"),
      (22L, "the quick brown fox jumps over the lazy dog again and again"),
      (23L, "the quick brown fox jumps over the lazy dog again and once"))
      .toDF("doc_id", "text")
    val expected = graft.operators.Dedup.minHashLsh(docs,
        numHashes = 64, bands = 16, shingleN = 3, verifyThreshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(expected.exists(_._3 == 1.0), s"fixture must contain an exact clone pair: $expected")
    for (chunks <- Seq(1, 2, 4)) {
      val got = Replay.nearDupVerified(docs, numHashes = 64, bands = 16,
          shingleN = 3, verifyThreshold = 0.5, chunks = chunks)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected, s"chunks=$chunks: $got vs $expected")
    }
  }

  test("replayed interval join equals the batch containment join for every chunking") {
    // events and labels per user, with (a) an event inside two
    // overlapping intervals, (b) one outside every interval, (c) an
    // event whose matching label lands in a LATER replay chunk (the
    // cross-batch state-retention path), (d) a zero-length interval
    val events = Seq(
      (0L, 1L, 5 * MIN), (1L, 1L, 50 * MIN), (2L, 1L, 300 * MIN),
      (3L, 2L, 10 * MIN), (4L, 2L, 70 * MIN))
      .toDF("event_id", "user_id", "t_us")
    val labels = Seq(
      (10L, 1L, 0L, 60 * MIN, 7L), (11L, 1L, 40 * MIN, 90 * MIN, 8L),
      (12L, 1L, 200 * MIN, 200 * MIN, 9L), // zero-length: matches nothing
      (13L, 2L, 60 * MIN, 120 * MIN, 6L))
      .toDF("label_id", "user_id", "s_us", "f_us", "label")
    val expected = events.as("e").join(labels.as("l"),
        col("e.user_id") === col("l.user_id") &&
          col("e.t_us") >= col("l.s_us") && col("e.t_us") < col("l.f_us"))
      .select(col("event_id"), col("label_id")).as[(Long, Long)].collect().toSet
    assert(expected === Set((0L, 10L), (1L, 10L), (1L, 11L), (4L, 13L)))
    for (chunks <- Seq(1, 2, 4)) {
      val got = Replay.intervalJoin(events, labels, maxDurationMinutes = 120, chunks = chunks)
        .select(col("event_id"), col("label_id")).as[(Long, Long)].collect()
      assert(got.length === got.toSet.size, s"chunks=$chunks: duplicate rows")
      assert(got.toSet === expected, s"chunks=$chunks")
    }
  }

  test("empty input yields an empty, correctly-typed frame") {
    val events = Seq.empty[(Long, Long, Long)].toDF("event_id", "user_id", "t_us")
    val out = Replay.sessionize(events)
    assert(out.columns.toSeq == Seq("event_id", "user_id", "session_id"))
    assert(out.count() == 0L)
  }

  test("interval join replay tolerates empty feeds at every chunking") {
    // r14 advice: chunk-boundary computation indexed times(0) of an
    // empty Seq when both feeds were empty and chunks >= 2
    val events = Seq.empty[(Long, Long, Long)].toDF("event_id", "user_id", "t_us")
    val labels = Seq.empty[(Long, Long, Long, Long, Long)]
      .toDF("label_id", "user_id", "s_us", "f_us", "label")
    for (chunks <- Seq(1, 2, 4)) {
      val out = Replay.intervalJoin(events, labels, maxDurationMinutes = 120, chunks = chunks)
      assert(out.columns.toSeq == Seq("event_id", "user_id", "t_us", "label_id", "label"),
        s"chunks=$chunks")
      assert(out.count() == 0L, s"chunks=$chunks")
    }
  }

  test("replayed colocation equals the batch meeting operator for every chunking") {
    // realistic era base: near epoch 0 the join's derived state
    // watermarks go negative and evict everything
    val t0 = 1700000000000000L
    // users 1/2 meet twice in one cell, user 3 overlaps in time in a far
    // cell, user 4 shares the cell but not the time
    val intervals = Seq(
      (1L, t0, t0 + 30 * MIN, -122.4, 47.6),
      (2L, t0 + 10 * MIN, t0 + 40 * MIN, -122.3999, 47.6001),
      (3L, t0 + 5 * MIN, t0 + 35 * MIN, -100.0, 40.0),
      (4L, t0 + 120 * MIN, t0 + 150 * MIN, -122.4, 47.6),
      (2L, t0 + 200 * MIN, t0 + 230 * MIN, -122.4, 47.6),
      (1L, t0 + 205 * MIN, t0 + 226 * MIN, -122.4, 47.6))
      .toDF("user_id", "s_us", "f_us", "lon", "lat")
    val expected = SpatialOps.colocationMeetings(intervals, cellMicroDeg = 10000L)
      .select(col("user_a"), col("user_b"), col("m_s_us"), col("m_f_us"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(expected.size == 2, s"fixture must hold both meetings: $expected")
    for (chunks <- Seq(1, 3, 8)) {
      val got = Replay.colocation(intervals, cellMicroDeg = 10000L, chunks = chunks)
        .as[(Long, Long, Long, Long)].collect()
      assert(got.length == got.toSet.size, s"chunks=$chunks: duplicate rows")
      assert(got.toSet == expected, s"chunks=$chunks")
    }
  }

  test("every replay's empty result has the schema of a non-empty one") {
    val t0 = 1700000000000000L
    val events = Seq((0L, 1L, 5 * MIN), (1L, 1L, 50 * MIN)).toDF("event_id", "user_id", "t_us")
    val docs = Seq(
      (20L, "the quick brown fox jumps over the lazy dog"),
      (21L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val langs = Seq(("en", 1L, 0L), ("en", 2L, MIN)).toDF("lang", "doc_id", "t_us")
    val typed = Seq(("view", 1L, 0L), ("view", 2L, MIN)).toDF("event_type", "event_id", "t_us")
    val points = Seq((10L, 1L, 0L)).toDF("label_id", "user_id", "t_us")
    val spans = Seq((10L, 1L, 0L, 60 * MIN, 7L)).toDF("label_id", "user_id", "s_us", "f_us", "label")
    val intervals = Seq(
      (1L, t0, t0 + 30 * MIN, -122.4, 47.6), (2L, t0 + 10 * MIN, t0 + 40 * MIN, -122.4, 47.6))
      .toDF("user_id", "s_us", "f_us", "lon", "lat")
    val pfs = Seq((0L, 1L, 0L, -122.4, 47.6), (1L, 1L, 5 * MIN, -122.4, 47.6),
        (2L, 1L, 10 * MIN, -122.4, 47.6))
      .toDF("id", "user_id", "t_us", "lon", "lat")
    // each replay over its fixture, or over the fixture's empty slice
    val replays: Seq[(String, Boolean => DataFrame)] = {
      def in(df: DataFrame, empty: Boolean) = if (empty) df.limit(0) else df
      Seq(
        "sessionize" -> (e => Replay.sessionize(in(events, e))),
        "dedup" -> (e => Replay.dedup(in(docs, e))),
        "dedupOutOfOrder" -> (e => Replay.dedupOutOfOrder(in(docs, e))),
        "nearDup" -> (e => Replay.nearDup(in(docs, e))),
        "nearDupVerified" -> (e => Replay.nearDupVerified(in(docs, e))),
        "quota" -> (e => Replay.quota(in(langs, e), quotaN = 1L, windowMinutes = 60L)),
        "quotaOutOfOrder" ->
          (e => Replay.quotaOutOfOrder(in(langs, e), quotaN = 1L, windowMinutes = 60L)),
        "heavyHitters" ->
          (e => Replay.heavyHitters(in(typed, e), k = 1, windowMinutes = 60L, delayMinutes = 0L)),
        "heavyHittersOutOfOrder" -> (e => Replay.heavyHittersOutOfOrder(in(typed, e), k = 1,
          windowMinutes = 60L, delayMinutes = 0L)),
        "asOf" -> (e => Replay.asOf(in(events, e), in(points, e))),
        "intervalJoin" ->
          (e => Replay.intervalJoin(in(events, e), in(spans, e), maxDurationMinutes = 120)),
        "intervalJoin leftOuter" -> (e => Replay.intervalJoin(in(events, e), in(spans, e),
          maxDurationMinutes = 120, leftOuter = true)),
        "colocation" -> (e => Replay.colocation(in(intervals, e))),
        "staypoints" -> (e => Replay.staypoints(in(pfs, e))))
    }
    for ((name, replay) <- replays) {
      val full = replay(false)
      val empty = replay(true)
      assert(full.count() > 0L, s"$name: the fixture must emit rows")
      assert(empty.count() == 0L, name)
      // names, types and nullability
      assert(empty.schema == full.schema, name)
    }
  }

  test("a replay that throws leaves no checkpoint directory behind") {
    def checkpoints(): Set[String] =
      Seq("/dev/shm", System.getProperty("java.io.tmpdir")).flatMap { dir =>
        Option(new java.io.File(dir).listFiles()).toSeq.flatten
          .filter(_.getName.startsWith("graft-replay-")).map(_.getPath)
      }.toSet
    val before = checkpoints()
    val docs = Seq(("en", 1L, 0L)).toDF("lang", "doc_id", "t_us")
    // the operator's quota > 0 check fires while the replay is running
    intercept[IllegalArgumentException](Replay.quota(docs, quotaN = 0L, windowMinutes = 60L))
    assert((checkpoints() -- before).isEmpty)
  }
}
