package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TrainingDataSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 0
    (2L, "completely different content about spark query engines and distributed joins"),
    (3L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 0
    (4L, "der hund und die katze und das haus und der baum und nicht heute")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the smallest id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 4) // 5 docs, one exact dup
    val dupGroup = out.find(_.getAs[Long]("n_docs") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 0L)
  }

  test("template dedup collapses number/case/punct/space variants, keeps templates apart") {
    val t = Seq(
      (10L, "What is 17 + 25?"),
      (11L, "what is 3+999 ?"),         // digits, case, spacing → same skeleton
      (12L, "What  is\t42 +\n7?"),      // mixed whitespace → same skeleton
      (13L, "What is the capital of France?"),  // different template
      (14L, "what is the capital of france")    // same as 13 modulo case/punct
    ).toDF("doc_id", "text")
    val out = Dedup.templateDedup(t).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
    // two skeletons: "what is 0 0" (3 docs, 3 distinct surfaces) and
    // "what is the capital of france" (2 docs, 2 surfaces)
    assert(out == Map(10L -> ((3L, 3L)), 13L -> ((2L, 2L))), out)
  }

  test("minhash LSH surfaces the near-duplicate pair with high jaccard") {
    val pairs = Dedup.minHashLsh(docs, verifyThreshold = 0.5)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact dup pair (0,3) must be there with jaccard 1.0
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 1.0))
    // near-dup pair (0,1): 13-word docs differing in last word
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 > 0.7))
    // unrelated docs never pair above threshold
    assert(!pairs.exists(p => p._2 == 2L || p._1 == 2L))
  }

  test("duplicate clusters: both paths find transitive components identically") {
    // chain 1-2-3 plus isolated pair 10-11: transitivity must merge the chain
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    for (threshold <- Seq(Long.MaxValue, 0L)) { // driver union-find / distributed loop
      val out = Dedup.duplicateClusters(pairs, localThreshold = threshold).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
      assert(out(1L) == (1L, true) && out(2L) == (1L, false) && out(3L) == (1L, false))
      assert(out(10L) == (10L, true) && out(11L) == (10L, false))
    }
  }

  test("duplicate clusters: exactly localThreshold pairs stay local, one more goes distributed") {
    // chain 1-2-3-4, pair 10-11, a self pair; the 5-row table adds 11-12
    val four = Seq((1L, 2L), (3L, 2L), (4L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val five = four.union(Seq((11L, 12L)).toDF("id_a", "id_b"))
    def run(pairs: org.apache.spark.sql.DataFrame, threshold: Long): (Boolean, Set[(Long, Long, Boolean)]) = {
      val out = Dedup.duplicateClusters(pairs, localThreshold = threshold)
      // the driver union-find returns a local relation, the loop a checkpoint
      val local = out.queryExecution.executedPlan.toString.contains("LocalTableScan")
      (local, out.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
    }
    for ((pairs, n) <- Seq(four -> 4L, five -> 5L)) {
      val (atLocal, at) = run(pairs, n)
      val (overLocal, over) = run(pairs, n - 1)
      assert(atLocal && !overLocal, s"$n pairs: local at threshold $n, distributed at ${n - 1}")
      assert(at == over)
      assert(at.filter(_._1 <= 4L) == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false), (4L, 1L, false)))
    }
    assert(run(five, 4L)._1 == false && run(four, 4L)._1)
  }

  test("score-aware pruning keeps the best cluster member; id pruning keeps the first") {
    val sdocs = Seq(
      (0L, 10L), (3L, 50L), // cluster {0,3}: 3 scores higher -> scored keeps 3, plain keeps 0
      (5L, 7L), (6L, 7L),   // cluster {5,6}: score tie -> smallest id 5
      (9L, 1L)              // singleton with no pairs always survives
    ).toDF("doc_id", "score")
    val pairs = Seq((0L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val scored = Dedup.pruneDuplicatesByScore(sdocs, pairs, "score")
      .select("doc_id").as[Long].collect().toSet
    assert(scored == Set(3L, 5L, 9L))
    val plain = Dedup.pruneDuplicates(sdocs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == Set(0L, 5L, 9L))
  }

  test("duplicate clusters: a 2000-link chain converges inside the default round budget") {
    // one-hop min-label propagation would need ~2000 rounds here and
    // throw at the default budget of 25; pointer doubling compounds
    // the propagation reach geometrically — the property that makes
    // long accidental chains (doc A ~ B ~ C ... through borderline
    // pairs) safe at corpus scale
    val chain = (0L until 2000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.duplicateClusters(chain, localThreshold = 0L)
      .agg(countDistinct(col("cluster_id")).as("k"), min(col("cluster_id")).as("m"),
        count(lit(1)).as("n")).collect().head
    assert(out.getLong(0) == 1L && out.getLong(1) == 0L && out.getLong(2) == 2001L)
  }

  test("cross-corpus minhash finds probe-vs-corpus near-dups only, no intra-corpus pairs") {
    val probes = docs.filter(col("doc_id") <= 1L)  // docs 0, 1 (near-dups of each other)
    val corpus = docs.filter(col("doc_id") >= 2L)  // 2 (unrelated), 3 (clone of 0), 4 (german)
    val pairs = Dedup.minHashLshCross(probes, corpus, verifyThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // probe 0 matches its exact clone 3 with jaccard 1.0
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 1.0))
    // probe 1 (near-dup of 0) also matches 3
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 > 0.7))
    // no pair involves unrelated corpus docs, and the probe-probe near-dup
    // pair (0,1) is NOT emitted — intra-corpus pairs are out of scope
    assert(!pairs.exists(p => p._2 == 2L || p._2 == 4L))
    assert(pairs.forall(p => p._1 <= 1L && p._2 >= 2L))
  }

  test("cross-corpus minhash hot-bucket cap bounds clone-heavy corpus fan-out") {
    // 8 exact corpus clones of probe 0: every (band, hash) bucket on the
    // corpus side holds all 8, so a cap of 4 skips them all (recall traded
    // for the fan-out bound), while the default (guard off) admits them
    val probes = docs.filter(col("doc_id") === 0L)
    val cloneText = docs.filter(col("doc_id") === 0L).select("text").as[String].head()
    val clones = (0 until 8).map(i => (100L + i, cloneText)).toDF("doc_id", "text")
    val capped = Dedup.minHashLshCross(probes, clones, verifyThreshold = 0.5, maxBucketSize = 4L)
    assert(capped.count() == 0L, "all corpus buckets exceed the cap and must be skipped")
    val uncapped = Dedup.minHashLshCross(probes, clones, verifyThreshold = 0.5)
    assert(uncapped.count() == 8L, "guard off by default: the 8 clone matches all verify")
  }

  test("simhash: identical docs have identical fingerprints; near-dups low hamming") {
    val fp = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(3L))
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(1L)) <= 12)
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(2L)) > java.lang.Long.bitCount(fp(0L) ^ fp(1L)))
  }

  test("simhash chunk keys are exact integer shifts for fingerprints above 2^53") {
    // 60-bit fingerprints exceed double's 53-bit mantissa (ulp up to 128 at
    // 2^60): values adjacent to ulp boundaries are exactly where a
    // float-emulated shift (floor(f / 2^n)) buckets differently than the
    // true integer (f >> n) & 0x7FFF. Assert the column form equals the
    // exact JVM integer form on a crafted set of boundary fingerprints.
    val boundary = Seq(
      (1L << 60) - 1, (1L << 60) - 64, (1L << 60) - 65, (1L << 60) - 128,
      (1L << 59) + 127, (1L << 59) + 128, (1L << 53) + 1, (1L << 53) - 1,
      (0x7FFFL << 45) | 0x7FFFL, // high chunk all-ones, low chunk all-ones
      ((1L << 45) - 1) << 15, // middle chunks all-ones
      0x0FFF_FFFF_FFFF_8000L, 0x0AAA_AAAA_AAAA_AAAAL, 0x0555_5555_5555_5555L
    ) ++ (0 until 16).map(i => (1L << 60) - 1 - i * 127L)
    val df = boundary.toDF("f")
    val keyCols = Dedup.simHashChunkKeys(col("f"))
    val got = df.select(col("f") +: keyCols.zipWithIndex.map { case (c, i) => c.as(s"k$i") }: _*)
      .collect()
    got.foreach { r =>
      val f = r.getLong(0)
      for (c <- 0 until 4) {
        val exact = (f >> (c * 15)) & 0x7FFFL
        assert(r.getLong(1 + c) == exact,
          s"chunk $c of fingerprint $f: got ${r.getLong(1 + c)}, exact integer form $exact")
      }
    }
  }

  test("ngram jaccard top-1 finds the exact duplicate") {
    val top = Dedup.ngramJaccardTop1(docs.filter(col("doc_id") === 0L), docs)
      .collect()
    assert(top.length == 1)
    assert(top(0).getAs[Long]("match_id") == 3L) // exact dup wins (jaccard 1.0)
    assert(top(0).getAs[Double]("jaccard") == 1.0)
  }

  test("ngram jaccard zero-overlap probe falls back to smallest other corpus id") {
    // a probe sharing no shingle with anyone still gets a top-1 row:
    // jaccard 0, match = min corpus id != probe (the DESC, match_id tie-break)
    val corpus = Seq(
      (0L, "zz yy xx ww vv"),
      (1L, "aa bb cc dd ee"),
      (2L, "aa bb cc dd ff")).toDF("doc_id", "text")
    val top = Dedup.ngramJaccardTop1(corpus.filter(col("doc_id") === 0L), corpus).collect()
    assert(top.length == 1)
    assert(top(0).getAs[Long]("match_id") == 1L)
    assert(top(0).getAs[Double]("jaccard") == 0.0)
    // and a zero-overlap probe that IS the smallest corpus id skips itself
    val corpus2 = Seq(
      (5L, "aa bb cc dd ee"),
      (9L, "zz yy xx ww vv")).toDF("doc_id", "text")
    val top2 = Dedup.ngramJaccardTop1(corpus2.filter(col("doc_id") === 5L), corpus2).collect()
    assert(top2.length == 1)
    assert(top2(0).getAs[Long]("match_id") == 9L && top2(0).getAs[Double]("jaccard") == 0.0)
  }

  private val vectors = {
    // deterministic pseudo-embeddings: cluster c at unit direction c with noise
    val rnd = new scala.util.Random(7)
    (0 until 60).map { i =>
      val c = i % 3
      val base = Array.fill(16)(0.0f)
      base(c) = 1.0f
      (i.toLong, base.zipWithIndex.map { case (v, j) => v + 0.05f * (rnd.nextFloat() - 0.5f) }.toSeq, c)
    }.toDF("vec_id", "embedding", "label")
  }

  test("brute-force ANN top-k finds same-cluster neighbors") {
    val res = Ann.bruteForceTopK(vectors.filter(col("vec_id") < 3), vectors, k = 5)
    val rows = res.collect()
    assert(rows.length == 15)
    // every neighbor of probe p shares its cluster (labels = id % 3)
    assert(rows.forall(r => r.getAs[Long]("neighbor_id") % 3 == r.getAs[Long]("probe_id") % 3))
    // ranks are 1..5 per probe
    assert(rows.filter(_.getAs[Long]("probe_id") == 0L).map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 5L))
  }

  test("hard negatives: nearest DIFFERENT-label items; closer same-label neighbors excluded") {
    val vs = Seq(
      (0L, Array(0.0f, 0.0f), 0),   // probe
      (1L, Array(0.001f, 0.0f), 0), // nearest overall, same label -> must not appear
      (2L, Array(1.0f, 0.0f), 1),
      (3L, Array(2.0f, 0.0f), 1),
      (4L, Array(3.0f, 0.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val got = Ann.hardNegatives(vs.filter(col("vec_id") === 0L), vs, k = 2)
      .select("rank", "neighbor_id", "neg_label").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 2L, 1L), (2L, 3L, 1L)))
  }

  test("LSH ANN recall matches brute force on clustered vectors") {
    val bf = Ann.bruteForceTopK(vectors.filter(col("vec_id") < 3), vectors, k = 3)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Ann.lshTopK(vectors.filter(col("vec_id") < 3), vectors, k = 3, planes = 6)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.5, s"LSH recall too low: $recall") // multi-probe should catch most
  }

  test("IVF ANN recall matches brute force on clustered vectors") {
    val bf = Ann.bruteForceTopK(vectors.filter(col("vec_id") < 3), vectors, k = 3)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(vectors.filter(col("vec_id") < 3), vectors, k = 3, nlist = 6, nprobe = 2)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.8, s"IVF recall too low: $recall")
    // every returned neighbor shares the probe's cluster
    assert(Ann.ivfTopK(vectors.filter(col("vec_id") < 3), vectors, k = 3, nlist = 6, nprobe = 2)
      .collect().forall(r => r.getAs[Long]("neighbor_id") % 3 == r.getAs[Long]("probe_id") % 3))
  }

  test("embedding near-dup finds the tight same-cluster pairs") {
    val pairs = Dedup.embeddingNearDup(vectors, threshold = 0.95, planes = 6)
    val rows = pairs.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("id_a") % 3 == r.getAs[Long]("id_b") % 3))
  }

  test("language id picks the language with most marker hits") {
    val out = TextAnalysis.languageId(docs).select("doc_id", "predicted_lang")
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "en")
    assert(out(4L) == "de")
  }

  test("quality score and token counts") {
    val q = TextAnalysis.qualityScore(docs).filter(col("doc_id") === 0L).first()
    assert(q.getAs[Long]("n_words") == 14)
    assert(q.getAs[Boolean]("quality_ok"))
    val t = TextAnalysis.tokenCount(Seq((0L, "ab 12 c!")).toDF("doc_id", "text")).first()
    assert(t.getAs[Long]("ws_tokens") == 3)
    assert(t.getAs[Long]("bpe_tokens") == 4)
  }

  test("multimodal: media table schema + batched stub feature extraction") {
    val media = Multimodal.asMediaTable(docs)
    assert(media.schema("blob").dataType == org.apache.spark.sql.types.BinaryType)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length == 5)
    val f0 = feats.find(_.getLong(0) == 0L).get
    val f3 = feats.find(_.getLong(0) == 3L).get
    assert(f0.getLong(2) == f3.getLong(2)) // identical payload -> identical checksum
    assert(f0.getSeq[Float](3).length == 8)
    // resize stub bounds the long edge
    val resized = Multimodal.resizeMeta(media, maxEdge = 64)
    val metas = resized.select("meta.width", "meta.height").collect()
    assert(metas.forall(m => math.max(m.getInt(0), m.getInt(1)) <= 64))
  }

  test("multimodal: real PNG encode -> imageio decode round-trips dims and pixels") {
    val media = Multimodal.pngFixtures(docs) // doc_ids 0..4
    // the blobs are real PNGs (magic bytes)
    val blob0 = media.filter(col("media_id") === 0L).select("blob").collect().head.getAs[Array[Byte]](0)
    assert(blob0.take(8).toSeq == Seq(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    val dec = Multimodal.decodeImages(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    for (id <- 0L to 4L) {
      val r = dec(id)
      val w = Multimodal.fixtureWidth(id); val h = Multimodal.fixtureHeight(id)
      assert(r.getAs[Boolean]("ok"))
      assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h,
        s"decoded dims of $id must match the built image")
      val want = (for (x <- 0 until w; y <- 0 until h) yield Multimodal.fixturePixel(id, x, y).toLong).sum
      assert(r.getAs[Long]("pixel_sum") == want, "PNG is lossless: decoded samples == built samples")
      assert(r.getAs[Seq[Long]]("hist").sum == w.toLong * h)
    }
  }

  test("multimodal: jpeg decodes with exact dims; corrupt blobs flag ok=false") {
    // a real JPEG through the same path: dims are exact (lossy pixels are not)
    val img = new java.awt.image.BufferedImage(17, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 4, 0xFF8040)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val rows = Seq((1L, bos.toByteArray), (2L, "not an image".getBytes), (3L, Array.empty[Byte]))
    val media = rows.toDF("media_id", "blob")
    val out = Multimodal.decodeImages(media).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("ok"))
    assert(out(1L).getAs[Long]("width") == 17 && out(1L).getAs[Long]("height") == 9)
    assert(!out(2L).getAs[Boolean]("ok") && !out(3L).getAs[Boolean]("ok"))
  }

  test("multimodal: real WAV encode -> javax.sound decode round-trips format and samples") {
    val media = Multimodal.wavFixtures(docs) // doc_ids 0..4
    // the blobs are real RIFF/WAVE containers
    val blob0 = media.filter(col("media_id") === 0L).select("blob").collect().head.getAs[Array[Byte]](0)
    assert(new String(blob0.take(4)) == "RIFF" && new String(blob0.slice(8, 12)) == "WAVE")
    val dec = Multimodal.decodeAudio(media).collect().map(r => r.getLong(0) -> r).toMap
    for (id <- 0L to 4L) {
      val r = dec(id)
      assert(r.getAs[Boolean]("ok"))
      assert(r.getAs[Long]("n_frames") == Multimodal.audioFrames(id))
      assert(r.getAs[Long]("channels") == Multimodal.audioChannels(id))
      assert(r.getAs[Long]("sample_rate") == Multimodal.audioRate(id))
      val flat = Multimodal.audioFrames(id) * Multimodal.audioChannels(id)
      val want = (0 until flat).map(i => Multimodal.audioSample(id, i).toLong).sum
      assert(r.getAs[Long]("sample_sum") == want, "PCM is lossless: decoded samples == built samples")
    }
    // corrupt / empty blobs flag ok=false
    val junk = Seq((1L, "not audio".getBytes), (2L, Array.empty[Byte])).toDF("media_id", "blob")
    val bad = Multimodal.decodeAudio(junk).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!bad(1L) && !bad(2L))
  }

  test("multimodal: animated GIF encode -> frame-sampled decode round-trips frames") {
    val media = Multimodal.gifFixtures(docs) // doc_ids 0..4
    // the blobs are real GIF containers
    val blob0 = media.filter(col("media_id") === 0L).select("blob").collect().head.getAs[Array[Byte]](0)
    assert(new String(blob0.take(6)) == "GIF89a" || new String(blob0.take(6)) == "GIF87a")
    val dec = Multimodal.decodeFrames(media, everyK = 2).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.sortBy(_.getAs[Long]("frame_idx")) }
    for (id <- 0L to 4L) {
      val n = Multimodal.gifFrames(id)
      val w = Multimodal.fixtureWidth(id); val h = Multimodal.fixtureHeight(id)
      val rs = dec(id)
      assert(rs.map(_.getAs[Long]("frame_idx")).toSeq == (0 until n by 2).map(_.toLong))
      for (r <- rs) {
        assert(r.getAs[Boolean]("ok") && r.getAs[Long]("n_frames") == n)
        assert(r.getAs[Long]("width") == w && r.getAs[Long]("height") == h)
        val f = r.getAs[Long]("frame_idx").toInt
        val want = (for (y <- 0 until h; x <- 0 until w)
          yield Multimodal.gifPixel(id, f, x, y).toLong).sum
        assert(r.getAs[Long]("pixel_sum") == want, "GIF palette is lossless for gray")
      }
    }
    // every-3rd sampling changes the stride; corrupt blobs flag ok=false
    val one = Multimodal.decodeFrames(Multimodal.gifFixtures(Seq((4L, "x")).toDF("doc_id", "text")), everyK = 3)
    assert(one.collect().map(_.getAs[Long]("frame_idx")).sorted.toSeq == Seq(0L, 3L)) // 6 frames
    // a stride past the clip still yields frame 0 (never an empty clip)
    val wide = Multimodal.decodeFrames(Multimodal.gifFixtures(Seq((4L, "x")).toDF("doc_id", "text")), everyK = 99)
    assert(wide.collect().map(_.getAs[Long]("frame_idx")).toSeq == Seq(0L))
    val junk = Seq((1L, "not media".getBytes), (2L, Array.empty[Byte])).toDF("media_id", "blob")
    val bad = Multimodal.decodeFrames(junk).collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(!bad(1L) && !bad(2L))
  }

  test("semanticDedup: clones drop, distinct meanings survive, chain-drop is documented") {
    // two well-separated directions in 4d; ids 0/1 seed the clusters
    val base = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.999f, 0.04f, 0.0f, 0.0f)),  // near-dup of 0 (cos ~0.9992)
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),     // distinct meaning
      (4L, Array(1.0f, 0.0f, 0.0f, 0.0f)))     // exact clone of 0
    val emb = base.toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(emb, k = 2, iters = 2, threshold = 0.99)
      .select("vec_id").as[Long].collect().toSet
    // 2 survives? cos(0,2) = 0.999/sqrt(0.999^2+0.04^2) ~ 0.99920 >= 0.99 -> dropped
    assert(kept.contains(0L) && kept.contains(1L) && kept.contains(3L))
    assert(!kept.contains(2L), "near-duplicate of an earlier vector must drop")
    assert(!kept.contains(4L), "exact clone must drop")
    // chain-drop: 2 dropped via witness 0; 4 similar to both 0 and 2 —
    // still dropped even though one witness (2) is itself dropped
    val loose = Dedup.semanticDedup(emb, k = 2, iters = 2, threshold = 0.9999)
      .select("vec_id").as[Long].collect().toSet
    assert(loose == Set(0L, 1L, 2L, 3L), "at 0.9999 only the exact clone drops")
  }

  test("multimodal: nearest-neighbor resize matches the explicit integer mapping") {
    val media = Multimodal.pngFixtures(Seq((7L, "x")).toDF("doc_id", "text"))
    val w = Multimodal.fixtureWidth(7L); val h = Multimodal.fixtureHeight(7L) // 11 x 11
    val r = Multimodal.decodeImages(media, resizeTo = 8).collect().head
    val maxDim = math.max(w, h)
    val (rw, rh) = if (maxDim <= 8) (w, h)
      else (math.max(1, w * 8 / maxDim), math.max(1, h * 8 / maxDim))
    assert(r.getAs[Long]("rs_width") == rw && r.getAs[Long]("rs_height") == rh)
    val want = (for (x <- 0 until rw; y <- 0 until rh)
      yield Multimodal.fixturePixel(7L, x * w / rw, y * h / rh).toLong).sum
    assert(r.getAs[Long]("rs_pixel_sum") == want)
  }

  test("multimodal: perceptual aHash matches the closed-form grid computation") {
    val media = Multimodal.pngFixtures((0L to 4L).map((_, "x")).toDF("doc_id", "text"))
    val out = Multimodal.perceptualHash(media).collect().map(r => r.getLong(0) -> r).toMap
    for (id <- 0L to 4L) {
      val w = Multimodal.fixtureWidth(id); val h = Multimodal.fixtureHeight(id)
      val g = (0 until 64).map(k => Multimodal.fixturePixel(id, (k % 8) * w / 8, (k / 8) * h / 8))
      val sum = g.map(_.toLong).sum
      var lo = 0L; var hi = 0L
      for (k <- 0 until 64 if g(k).toLong * 64L > sum)
        if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
      val r = out(id)
      assert(r.getAs[Boolean]("ok"))
      assert(r.getAs[Long]("ahash_hi") == hi && r.getAs[Long]("ahash_lo") == lo,
        s"hash of image $id must equal the closed-form grid hash")
    }
    // corrupt blob: ok=false, null hash halves
    val bad = Multimodal.perceptualHash(
      Seq((9L, "not an image".getBytes)).toDF("media_id", "blob")).collect().head
    assert(!bad.getAs[Boolean]("ok") && bad.isNullAt(2) && bad.isNullAt(3))
  }

  test("multimodal: banded hamming pairs find planted duplicates and equal brute force at <= 3") {
    // media 0..9 with content repeating mod 5: pairs (i, i+5) are exact
    // content duplicates -> hamming 0, must all surface
    val docs = (0L to 9L).map(i => (i, i % 5)).toDF("doc_id", "cid")
    val hashes = Multimodal.perceptualHash(
      Multimodal.pngFixtures(docs, contentCol = "cid")).localCheckpoint(true)
    val pairs = Multimodal.imageNearDupPairs(hashes, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for (i <- 0L to 4L) assert(pairs.get((i, i + 5)).contains(0L), s"planted dup ($i, ${i + 5})")
    // pigeonhole completeness: banding equals the all-pairs filter
    val hs = hashes.collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val brute = (for {
      a <- hs.keys; b <- hs.keys if a < b
      d = java.lang.Long.bitCount(hs(a)._1 ^ hs(b)._1) + java.lang.Long.bitCount(hs(a)._2 ^ hs(b)._2)
      if d <= 3
    } yield (a, b) -> d.toLong).toMap
    assert(pairs == brute, "banded join must equal brute-force hamming at <= 3")
  }

  private def spanRows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

  test("dedup paragraphs: later occurrences drop, first-by-(doc,pos) keeps, empties vanish") {
    val docs = Seq(
      (1L, "intro text\n\nshared footer\n\nunique one"),
      (2L, "shared footer\n\nown body"),        // footer first seen in doc 1
      (3L, "shared footer"),                     // loses its only paragraph
      (4L, "\n\n\n\n"),                          // no nonempty paragraph -> absent
      (5L, "own body\n\nown body"))              // in-doc repeat: pos 0 of doc 2 wins
      .toDF("doc_id", "text")
    val out = spanRows(Dedup.dedupParagraphs(docs))
    assert(out(1L) === ((3L, 0L, "intro text\n\nshared footer\n\nunique one")))
    assert(out(2L) === ((2L, 1L, "own body")))
    assert(out(3L) === ((1L, 1L, "")))
    assert(!out.contains(4L), "a document with no nonempty paragraph is absent")
    assert(out(5L) === ((2L, 2L, "")), "both copies lost to doc 2's earlier occurrence")
    assert(out.size == 4)
  }

  test("dedup spans: the later copy of a shared 3-gram span is removed") {
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "x y a b c")).toDF("doc_id", "text")
    val out = spanRows(Dedup.dedupSpans(docs, n = 3))
    assert(out(1L) === ((5L, 0L, "a b c d e"))) // first occurrence survives whole
    assert(out(2L) === ((5L, 3L, "x y")))       // positions 2,3,4 removed
  }

  test("dedup spans: in-document repetition keeps only the first copy") {
    val docs = Seq((1L, "p q r s p q r s")).toDF("doc_id", "text")
    val out = spanRows(Dedup.dedupSpans(docs, n = 4))
    // gram "p q r s" at pos 0 survives; its copy at pos 4 is removed;
    // overlapping grams spanning the seam (pos 1..3) are unique, so only
    // positions 4..7 go
    assert(out(1L) === ((8L, 4L, "p q r s")))
  }

  test("dedup spans: overlapping duplicate grams merge their removal spans") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f")).toDF("doc_id", "text")
    val out = spanRows(Dedup.dedupSpans(docs, n = 3))
    assert(out(1L) === ((6L, 0L, "a b c d e f")))
    assert(out(2L) === ((6L, 6L, ""))) // every position covered by a dup gram
  }

  test("dedup spans: documents shorter than n pass through untouched") {
    val docs = Seq(
      (1L, "one two"),
      (2L, "one two")).toDF("doc_id", "text")
    val out = spanRows(Dedup.dedupSpans(docs, n = 3))
    assert(out(1L) === ((2L, 0L, "one two")))
    assert(out(2L) === ((2L, 0L, "one two")))
  }

  test("edit-distance pairs: confirms identical candidates at 0, rejects beyond the threshold") {
    // 0/1: same vocabulary, one substitution inside the prefix (dist 5: "today"→"and a") ...
    // use texts the simhash banding will pair, with controlled prefix edits
    val revDocs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact clone: dist 0
      (2L, "the quick brewn fox jumps over the lazy dog near the river bank today"), // 1 char substitution
      (3L, "completely different content about spark query engines and distributed joins")
    ).toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(revDocs, maxDist = 1, prefixChars = 80, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(out.contains((0L, 1L, 0L))) // exact clone confirmed at distance 0
    assert(out.contains((0L, 2L, 1L)) || out.contains((1L, 2L, 1L))) // single-edit revision kept at 1
    assert(out.forall(p => p._3 <= 1L)) // nothing beyond the threshold survives
    assert(!out.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated doc never pairs
  }

  test("char entropy: constant text scores 0, uniform text scores ln(alphabet)") {
    val docs = Seq(
      (1L, "aaaaaaaa"),      // one symbol: H = 0 exactly
      (2L, "abcdabcd"),      // uniform over 4 symbols: H = ln 4
      (3L, "")               // empty: filtered out
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs, maxChars = 200)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("entropy_nats")).toMap
    assert(out.size == 2)
    assert(out(1L) == 0.0)
    assert(math.abs(out(2L) - math.log(4.0)) < 1e-5) // quantization error ≤ ~1e-6/char
  }

  test("zipf fit: exact power-law counts recover the exponent") {
    // counts n(rank) = 1024 / rank for ranks 1..8 → slope exactly -1 in
    // log-log space (up to ln-quantization): build a corpus with those counts
    val words = (1 to 8).flatMap(r => Seq.fill(1024 / r)(s"w$r"))
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val out = TextAnalysis.zipfFit(docs, topK = 8).collect().head
    assert(out.getAs[Long]("n_points") == 8L)
    assert(math.abs(out.getAs[Double]("slope") - (-1.0)) < 0.02) // 1024/r rounds down
    assert(math.abs(out.getAs[Double]("intercept") - math.log(1024.0)) < 0.05)
    // exact replay: rank by (count desc, word), n and the four sums from
    // the quantized logs, slope and intercept as the same double trees
    def lnq(x: Long) = math.floor(StrictMath.log(x.toDouble) * 1e6).toLong
    val ranked = words.groupBy(identity).toSeq.map { case (w, ws) => (w, ws.size.toLong) }
      .sortBy { case (w, n) => (-n, w) }
    val pts = ranked.zipWithIndex.map { case ((_, n), i) => (lnq(i + 1L), lnq(n)) }
    val (np, sx, sy) = (pts.length.toLong, pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val slope = (BigInt(np) * sxy - BigInt(sx) * sy).toDouble / (BigInt(np) * sxx - BigInt(sx) * sx).toDouble
    assert(out.getAs[Long]("n_points") == np)
    assert(out.getAs[Double]("slope") == slope)
    assert(out.getAs[Double]("intercept") == ((sy.toDouble - slope * sx.toDouble) / np.toDouble) / 1e6)
  }
}
