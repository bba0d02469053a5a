package graft

import graft.syntax._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end pipeline through the accessor API — the reference README
  * quickstart shape (read → staypoints → triplegs → activity flag →
  * trips → tours).
  */
class SyntaxSpec extends SparkSpec {
  import spark.implicits._

  // one user commuting A -> B -> A with dwell runs and transit fixes
  private lazy val commute = {
    val rows = Seq(
      // dwell at A, 8:00-8:30
      (0L, "2023-01-01 08:00:00", 8.5000, 47.3000), (1L, "2023-01-01 08:10:00", 8.5001, 47.3001),
      (2L, "2023-01-01 08:20:00", 8.5000, 47.3002), (3L, "2023-01-01 08:30:00", 8.5001, 47.3000),
      // transit to B
      (4L, "2023-01-01 08:40:00", 8.5100, 47.3030), (5L, "2023-01-01 08:50:00", 8.5200, 47.3060),
      // dwell at B, 9:00-9:40
      (6L, "2023-01-01 09:00:00", 8.5300, 47.3100), (7L, "2023-01-01 09:10:00", 8.5301, 47.3101),
      (8L, "2023-01-01 09:25:00", 8.5300, 47.3102), (9L, "2023-01-01 09:40:00", 8.5301, 47.3100),
      // transit back to A
      (10L, "2023-01-01 09:50:00", 8.5200, 47.3060), (11L, "2023-01-01 10:00:00", 8.5100, 47.3030),
      // dwell at A again, 10:10-10:40 plus a breach fix
      (12L, "2023-01-01 10:10:00", 8.5000, 47.3001), (13L, "2023-01-01 10:25:00", 8.5001, 47.3002),
      (14L, "2023-01-01 10:40:00", 8.5000, 47.3000), (15L, "2023-01-01 10:50:00", 8.6000, 47.3500))
    rows.toDF("id", "t", "lon", "lat")
      .select(col("id"), lit(7L).as("user_id"), to_timestamp(col("t")).as("tracked_at"), col("lon"), col("lat"))
  }

  private val spParams = operators.StaypointGenerator.Params(distThresholdMeters = 100,
    timeThresholdMinutes = 20, gapThresholdMinutes = 120, includeLast = false)

  test("full pipeline composes through the accessor API") {
    val (pfsSp, sp) = commute.generateStaypoints(spParams)
    assert(sp.count() == 3) // A, B, A

    val (pfsTpl, tpls) = pfsSp.generateTriplegs(gapThresholdMinutes = 120)
    assert(tpls.count() == 2) // two transits

    val spAct = sp.createActivityFlag(timeThresholdMinutes = 20)
    val (spT, tplsT, trips) = spAct.generateTrips(tpls, gapThresholdMinutes = 120)
    assert(trips.count() == 2)

    val (tripsWithTours, tours) = trips.generateTours(
      params = operators.TourGenerator.Params(maxDistMeters = 150))
    assert(tours.count() == 1) // A -> B -> A closes a tour
    assert(tours.first().getSeq[Long](tours.first().fieldIndex("trips")).length == 2)

    val (spLoc, locs) = sp.generateLocations(
      operators.LocationGenerator.Params(epsilonMeters = 150))
    assert(locs.count() == 2) // A (visited twice) and B

    val quality = spAct.temporalTrackingQuality("all")
    assert(quality.count() == 1)
    assert(spLoc.returnTimes.count() >= 1) // A is revisited
    assert(spLoc.lzComplexity.first().getLong(2) >= 1L)
    val _ = (pfsTpl, spT, tplsT, tripsWithTours)
  }

  /** The accessor returns the pipeline's own table as is and rejects it
    * without `user_id`, with its contract's message.
    */
  private def checkAccessor(name: String, table: DataFrame, as: DataFrame => DataFrame): Unit = {
    assert(as(table) eq table)
    val e = intercept[IllegalArgumentException](as(table.drop("user_id")))
    assert(e.getMessage.startsWith(s"$name is missing required column(s): user_id; has ["), e.getMessage)
  }

  // the commute's tables, as the accessor pipeline produces them
  private lazy val commuteTables = {
    val (pfsSp, sp) = commute.generateStaypoints(spParams)
    val (_, tpls) = pfsSp.generateTriplegs(gapThresholdMinutes = 120)
    val (_, _, trips) = sp.createActivityFlag(timeThresholdMinutes = 20)
      .generateTrips(tpls, gapThresholdMinutes = 120)
    (pfsSp, sp, tpls, trips)
  }

  test("asPositionfixes accepts generated positionfixes and rejects a missing column") {
    checkAccessor("positionfixes", commuteTables._1, _.asPositionfixes)
  }

  test("asStaypoints accepts generated staypoints and rejects a missing column") {
    checkAccessor("staypoints", commuteTables._2, _.asStaypoints)
  }

  test("asTriplegs accepts generated triplegs and rejects a missing column") {
    checkAccessor("triplegs", commuteTables._3, _.asTriplegs)
  }

  test("asTrips accepts generated trips and rejects a missing column") {
    checkAccessor("trips", commuteTables._4, _.asTrips)
  }

  test("corpus pipeline composes through the accessor API") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pairs = docs.nearDupPairs(numHashes = 64, bands = 16, verifyThreshold = 0.5)
    val clean = docs.pruneDuplicates(pairs)
    assert(clean.count() > 0 && clean.count() <= docs.count())
    assert(docs.limit(5).nearDupAgainst(docs, verifyThreshold = 0.99).count() >= 5,
      "every probe matches itself in the corpus")
    assert(docs.chunkDocuments(16, overlapTokens = 4).count() > docs.count())
    val stats = docs.corpusStats(Seq("lang"))
    assert(stats.columns.contains("distinct_tokens_est"))
    val splits = clean.hashSplitted()
    assert(splits.select("split").distinct().count() == 3)
    assert(docs.curateCorpus(Seq("en" -> 1L)).count() > 0)
    val med = docs.exactQuantiles("n_chars", Seq(5000), Seq("lang"))
    assert(med.count() == docs.select("lang").distinct().count())
    assert(docs.weightedSampled(10, "n_chars").count() == 10)
  }

  test("tokenizer and media accessors compose") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val merges = docs.bpeTrained(merges = 4)
      .collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.length == 4)
    val counts = docs.bpeTokenCounts(merges)
    assert(counts.count() == 50)
    // real media decodes chain off the fixture builders
    val imgs = operators.Multimodal.pngFixtures(docs).decodeImages(resizeTo = 8)
    assert(imgs.filter(org.apache.spark.sql.functions.col("ok")).count() == 50)
    val clips = operators.Multimodal.wavFixtures(docs).decodeAudio()
    assert(clips.filter(org.apache.spark.sql.functions.col("ok")).count() == 50)
    val frames = operators.Multimodal.gifFixtures(docs).sampleDecodedFrames(everyK = 2)
    assert(frames.filter(org.apache.spark.sql.functions.col("ok")).count() >= 50)
  }

  test("round-7 curation accessors compose") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val clean = docs.textNormalized
    assert(clean.columns.contains("text_norm"))
    assert(docs.lmScored(docs).columns.toSet == Set("doc_id", "n_bigrams", "logprob_q"))
    val urled = docs.withColumn("url",
      concat(lit("https://h"), (col("doc_id") % 5).cast("string"), lit(".example.com/p")))
    val capped = urled.urlFeatured.withoutBlockedHosts(Seq("h0.example.com")).cappedPerHost(10)
    assert(capped.select("host").distinct().count() == 4) // h0 blocked
    assert(capped.groupBy("host").count().agg(max("count")).head().getLong(0) <= 10)
    assert(docs.temperatureSampled(2.0).count() > 0)
    assert(docs.vocabDriftAgainst(docs, topK = 5).count() <= 5)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
    assert(emb.semanticDeduped(k = 4, iters = 2).count() > 0)
    assert(emb.clusterDriftAgainst(emb, k = 4, iters = 2).count() == 4)
    val up = docs.upsampledToMixture(Seq("en" -> 1L, "de" -> 1L, "fr" -> 1L, "es" -> 1L))
    assert(up.columns.contains("epoch") && up.count() >= docs.filter(
      col("lang").isin("en", "de", "fr", "es")).count())
    assert(docs.importanceScoredAgainst(docs.filter(col("lang") === "en"), dim = 128)
      .columns.toSet == Set("doc_id", "n_bigrams", "importance_q"))
  }
}
