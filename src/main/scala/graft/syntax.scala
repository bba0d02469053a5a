package graft

import graft.model.Tables
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{avg, col}

/** Accessor-style API — the Spark analogue of the reference's DataFrame
  * accessors (`pfs.generate_staypoints(...)`, model/util.py:103-118).
  * Import `graft.syntax._` and call domain methods directly on
  * DataFrames; every method validates its schema contract on entry and
  * returns plain DataFrames.
  *
  * {{{
  * import graft.syntax._
  * val (pfs2, sp)   = pfs.generateStaypoints()
  * val (pfs3, tpls) = pfs2.generateTriplegs()
  * val spAct        = sp.createActivityFlag()
  * val (spT, tplsT, trips) = spAct.generateTrips(tpls)
  * }}}
  */
object syntax {

  implicit final class RichPositionfixes(private val df: DataFrame) extends AnyVal {

    def asPositionfixes: DataFrame = Tables.positionfixes.validate(df)

    def generateStaypoints(params: StaypointGenerator.Params = StaypointGenerator.Params())
        : (DataFrame, DataFrame) =
      StaypointGenerator.generate(df, params)

    def generateTriplegs(gapThresholdMinutes: Double = 15.0): (DataFrame, DataFrame) =
      TriplegGenerator.generate(df, gapThresholdMinutes)

    def getSpeedPositionfixes: DataFrame = Labelling.getSpeedPositionfixes(df)

    /** Mean (lon, lat) of the table — the reference's `center` accessor
      * property (model/positionfixes.py:76-81); eager like the original.
      */
    def center: (Double, Double) = {
      val r = df.agg(avg(col("lon")), avg(col("lat"))).head()
      (r.getDouble(0), r.getDouble(1))
    }
  }

  implicit final class RichStaypoints(private val df: DataFrame) extends AnyVal {

    def asStaypoints: DataFrame = Tables.staypoints.validate(df)

    def createActivityFlag(timeThresholdMinutes: Double = 15.0): DataFrame =
      Labelling.createActivityFlag(df, timeThresholdMinutes)

    def generateLocations(params: LocationGenerator.Params = LocationGenerator.Params())
        : (DataFrame, DataFrame) =
      LocationGenerator.generate(df, params)

    def generateTrips(tpls: DataFrame, gapThresholdMinutes: Double = 15.0)
        : (DataFrame, DataFrame, DataFrame) =
      TripGenerator.generate(df, tpls, gapThresholdMinutes)

    def mergeStaypoints(tpls: DataFrame, maxTimeGapMinutes: Double = 10.0,
                        aggExtra: Map[String, String] = Map.empty): DataFrame =
      StaypointMerger.mergeStaypoints(df, tpls, maxTimeGapMinutes, aggExtra)

    def radiusGyration(method: String = "count"): DataFrame = Metrics.radiusGyration(df, method)

    def jumpLength: DataFrame = Metrics.jumpLength(df)

    def temporalTrackingQuality(granularity: String = "all"): DataFrame =
      Metrics.temporalTrackingQuality(df, granularity)

    def locationIdentifier(method: String = "FREQ", preFilter: Boolean = true): DataFrame =
      LocationLabelling.locationIdentifier(df, method, preFilter)

    /** Revisit gaps per (user, location) — requires `location_id`. */
    def returnTimes: DataFrame = Metrics.returnTimes(df)

    /** LZ phrase complexity of the visit sequence — requires `location_id`. */
    def lzComplexity: DataFrame = Metrics.lzComplexity(df)

    /** Mean (lon, lat) — `center` (model/staypoints.py:76-81). */
    def center: (Double, Double) = {
      val r = df.agg(avg(col("lon")), avg(col("lat"))).head()
      (r.getDouble(0), r.getDouble(1))
    }
  }

  implicit final class RichTriplegs(private val df: DataFrame) extends AnyVal {

    def asTriplegs: DataFrame = Tables.triplegs.validate(df)

    def predictTransportMode: DataFrame = Labelling.predictTransportMode(df)

    def getSpeedTriplegs: DataFrame = Labelling.getSpeedTriplegs(df)

    def calculateModalSplit(metric: String = "count", freq: Option[String] = None,
                            perUser: Boolean = false, norm: Boolean = false): DataFrame =
      Metrics.calculateModalSplit(df, metric, freq, perUser, norm)
  }

  implicit final class RichTrips(private val df: DataFrame) extends AnyVal {

    def asTrips: DataFrame = Tables.trips.validate(df)

    def generateTours(staypoints: Option[DataFrame] = None,
                      params: TourGenerator.Params = TourGenerator.Params())
        : (DataFrame, DataFrame) =
      TourGenerator.generate(df, staypoints, params)
  }

  /** Corpus-side accessors: the training-data pipeline as method chains
    * on a (doc_id, text, …) frame.
    *
    * {{{
    * import graft.syntax._
    * val pairs   = docs.nearDupPairs(verifyThreshold = 0.8)
    * val clean   = docs.pruneDuplicates(pairs)
    * val chunks  = clean.chunkDocuments(2048, overlapTokens = 128)
    * val ready   = clean.curateCorpus(Seq("en" -> 4L, "de" -> 1L))
    * }}}
    */
  implicit final class RichCorpus(private val df: DataFrame) extends AnyVal {

    def dedupExact(): DataFrame = Dedup.exact(df)

    def nearDupPairs(shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
                     verifyThreshold: Double = 0.0): DataFrame =
      Dedup.minHashLsh(df, shingleN = shingleN, numHashes = numHashes,
        bands = bands, verifyThreshold = verifyThreshold)

    /** Near-dups of THIS frame's documents against a reference corpus. */
    def nearDupAgainst(corpus: DataFrame, verifyThreshold: Double = 0.0): DataFrame =
      Dedup.minHashLshCross(df, corpus, verifyThreshold = verifyThreshold)

    def pruneDuplicates(pairs: DataFrame): DataFrame = Dedup.pruneDuplicates(df, pairs)

    /** Drop every paragraph whose exact text occurred earlier. */
    def dedupParagraphs(sep: String = "\n\n"): DataFrame = Dedup.dedupParagraphs(df, sep)

    def substringPairs(minLen: Int = 40, maxDf: Int = 100): DataFrame =
      Dedup.substringPairs(df, minLen, maxDf)

    def qualityScored: DataFrame = TextAnalysis.qualityScore(df)

    def languageIdentified: DataFrame = TextAnalysis.languageId(df)

    def tokenCounted: DataFrame = TextAnalysis.tokenCount(df)

    def chunkDocuments(chunkTokens: Int, overlapTokens: Int = 0): DataFrame =
      CorpusOps.chunkDocuments(df, chunkTokens, overlapTokens)

    def corpusStats(groupCols: Seq[String] = Seq("lang", "source")): DataFrame =
      CorpusOps.corpusStats(df, groupCols)

    /** Exact discrete quantiles of an integer signal per group. */
    def exactQuantiles(valueCol: String, qsBp: Seq[Int],
                       groupCols: Seq[String] = Seq("lang")): DataFrame =
      CorpusOps.exactQuantiles(df, valueCol, qsBp, groupCols)

    /** Deterministic ES-weighted sample of k documents. */
    def weightedSampled(k: Int, weightCol: String): DataFrame =
      CorpusOps.weightedSample(df, k, weightCol)

    def hashSplitted(weights: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10))
        : DataFrame =
      CorpusOps.hashSplit(df, weights)

    /** Exact n-gram contamination of THIS frame vs a training corpus. */
    def contaminationAgainst(train: DataFrame, n: Int = 5): DataFrame =
      CorpusOps.contamination(df, train, n)

    /** Bloom-filter contamination (fixed-memory upper bound of exact). */
    def bloomContaminationAgainst(train: DataFrame, n: Int = 5,
                                  mBits: Int = 1 << 17, numHashes: Int = 3): DataFrame =
      CorpusOps.bloomContamination(df, train, n, mBits, numHashes)

    def curateCorpus(targetWeights: Seq[(String, Long)]): DataFrame =
      CorpusOps.curate(df, targetWeights)

    /** Count-min-sketch frequency estimates for `probes` (upper bounds). */
    def cmsWordCounts(probes: Seq[String], depth: Int = 3, width: Int = 1024): DataFrame =
      TextAnalysis.cmsWordCounts(df, probes, depth, width)

    /** Winnowing (MOSS) fingerprints for partial-overlap detection. */
    def winnowFingerprinted(k: Int = 5, w: Int = 4): DataFrame =
      TextAnalysis.winnowFingerprints(df, k, w)

    /** MOSS overlap pairs of THIS frame's documents vs a corpus. */
    def winnowOverlapAgainst(corpus: DataFrame, k: Int = 5, w: Int = 4,
                             minShared: Long = 2L, maxHashFreq: Long = 0L): DataFrame =
      TextAnalysis.winnowOverlap(df, corpus, k, w, minShared, maxHashFreq)

    /** CCNet head/middle/tail perplexity strata per language. */
    def lmBucketed(train: DataFrame, buckets: Int = 3): DataFrame =
      TextAnalysis.lmBuckets(df, train, buckets)

    /** Score every document with a trained hashed-BoW linear filter. */
    def classifierScored(weights: Array[Long], dim: Int = 64): DataFrame =
      Classifier.score(df, weights, dim)

    /** Exact heavy-hitter words via count-min candidate filtering. */
    def heavyHitters(minCount: Long, depth: Int = 3, width: Int = 1024): DataFrame =
      TextAnalysis.heavyHitters(df, minCount, depth, width)

    /** Unicode NFC + control-strip + whitespace-collapse cleanup. */
    def textNormalized: DataFrame = TextAnalysis.normalizeText(df)

    /** C4 line rules: terminal punctuation, min words, no javascript. */
    def c4LineFiltered(minWords: Int = 5, minKeptLines: Int = 3): DataFrame =
      TextAnalysis.c4LineFilter(df, minWords, minKeptLines)

    /** Gopher A1 document rules (integer-exact decisions). */
    def gopherRuled(minWords: Long = 50L, maxWords: Long = 100000L): DataFrame =
      TextAnalysis.gopherRules(df, minWords, maxWords)

    /** Bigram-LM log-likelihood against a train corpus (CCNet-style). */
    def lmScored(train: DataFrame): DataFrame = TextAnalysis.lmScore(df, train)

    /** Top drifted words vs another corpus (ingest monitoring). */
    def vocabDriftAgainst(other: DataFrame, topK: Int = 50): DataFrame =
      TextAnalysis.vocabDrift(df, other, topK)

    /** Epoch-style upsampling toward a target mixture (adds `epoch`). */
    def upsampledToMixture(targetWeights: Seq[(String, Long)]): DataFrame =
      CorpusOps.upsampleMixture(df, targetWeights)

    /** DSIR importance vs a target corpus: hashed-bigram log-ratio sum
      * (scan-only scoring — the zero-shuffle path).
      */
    def importanceScoredAgainst(target: DataFrame, dim: Int = 1 << 10): DataFrame =
      TextAnalysis.importanceScoreScan(df, TextAnalysis.importanceWeights(target, df, dim), dim)

    /** Semantic dedup over an embedding column (SemDeDup regime). */
    def semanticDeduped(k: Int, iters: Int = 4, threshold: Double = 0.95): DataFrame =
      Dedup.semanticDedup(df, k, iters, threshold)

    /** Embedding-occupancy drift vs another corpus: clusters train on
      * this frame (the reference space), both corpora assign into it.
      */
    def clusterDriftAgainst(other: DataFrame, k: Int, iters: Int = 4): DataFrame =
      KMeans.clusterDrift(df, df, other, k, iters)

    /** Host/path/query features from a `url` column. */
    def urlFeatured: DataFrame = TextAnalysis.urlFeatures(df)

    /** Deterministic per-host document cap (needs a `host` column —
      * chain after [[urlFeatured]]).
      */
    def cappedPerHost(maxPerHost: Int): DataFrame = CorpusOps.capPerHost(df, maxPerHost)

    /** Drop blocked hosts and their subdomains. */
    def withoutBlockedHosts(blocked: Seq[String]): DataFrame =
      CorpusOps.filterBlockedHosts(df, blocked)

    /** Flatten the group mix by temperature (p^(1/T) sampling). */
    def temperatureSampled(temperature: Double, groupCol: String = "lang"): DataFrame =
      CorpusOps.temperatureSample(df, temperature, groupCol)

    /** Learn a BPE merge table over this corpus (Sennrich et al.). */
    def bpeTrained(merges: Int = 8): DataFrame = TextAnalysis.bpeTrain(df, merges)

    /** Real-tokenizer counts per document for a learned merge table —
      * chain `docs.bpeTrained(...)` → collect merges → `docs.bpeTokenCounts(m)`.
      */
    def bpeTokenCounts(merges: Seq[(String, String)]): DataFrame =
      TextAnalysis.bpeEncode(df, merges)
  }

  /** Media-side accessors: multimodal frames in the (media_id, blob,
    * meta) shape ([[Multimodal.mediaSchema]]).
    */
  implicit final class RichMedia(private val df: DataFrame) extends AnyVal {

    /** Byte-level feature extraction (modality-agnostic), one blob at a
      * time.
      */
    def extractBlobFeatures(): DataFrame = Multimodal.extractFeatures(df)

    /** Real image decode (+ optional nearest-neighbor resize) via the
      * JDK's javax.imageio.
      */
    def decodeImages(resizeTo: Int = 0): DataFrame = Multimodal.decodeImages(df, resizeTo)

    /** Real PCM/WAV audio decode via the JDK's javax.sound.sampled. */
    def decodeAudio(): DataFrame = Multimodal.decodeAudio(df)

    /** Real every-kth frame sampling over multi-frame containers (GIF)
      * via the JDK's javax.imageio sequence reader.
      */
    def sampleDecodedFrames(everyK: Int = 2): DataFrame = Multimodal.decodeFrames(df, everyK)
  }
}
