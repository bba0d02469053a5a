package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Every decoder's observable contract over ONE mixed media table.
  *
  * Nine blob kinds — a real PNG, a real animated GIF, a real PCM16 WAV,
  * a null blob, an empty blob, junk bytes, and three PCM clips the
  * audio path parses but must refuse (an unsigned 8-bit WAV, a signed
  * 24-bit WAV, a big-endian 16-bit AIFF) — cycle through
  * 150 rows in two partitions of 75, so each decoder sees every other
  * modality's blobs, several rows per partition and more than 64 rows
  * in one partition. Each case pins the decoder's schema (names, types,
  * nullability) and its full output in partition order: the rows one
  * blob of each kind yields, in the order the ids arrive.
  */
class DecoderContractSpec extends SparkSpec {
  import spark.implicits._

  private val kinds = Seq("png", "gif", "wav", "null", "empty", "junk", "pcm8", "pcm24", "aiff16")
  private val ids = 0L until 150L
  private def kind(id: Long): String = kinds((id % kinds.length).toInt)

  private lazy val blobs: Map[String, Array[Byte]] = {
    def first(df: DataFrame) = df.select("blob").head().getAs[Array[Byte]](0)
    /** 64 bytes of PCM in `bits`-bit samples, in a WAVE or AIFF container. */
    def pcm(bits: Int, signed: Boolean, bigEndian: Boolean,
            container: javax.sound.sampled.AudioFileFormat.Type): Array[Byte] = {
      val raw = Array.tabulate[Byte](64)(i => (i * 5).toByte)
      val fmt = new javax.sound.sampled.AudioFormat(8000f, bits, 1, signed, bigEndian)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, (raw.length / (bits / 8)).toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais, container, bos)
      bos.toByteArray
    }
    val wave = javax.sound.sampled.AudioFileFormat.Type.WAVE
    Map(
      "png" -> first(Multimodal.pngFixtures(Seq(1L).toDF("doc_id"))),
      "gif" -> first(Multimodal.gifFixtures(Seq(2L).toDF("doc_id"))),
      "wav" -> first(Multimodal.wavFixtures(Seq(3L).toDF("doc_id"))),
      "null" -> null,
      "empty" -> Array.empty[Byte],
      "junk" -> "not a media container, just bytes".getBytes("UTF-8"),
      "pcm8" -> pcm(8, signed = false, bigEndian = false, wave),
      "pcm24" -> pcm(24, signed = true, bigEndian = false, wave),
      "aiff16" -> pcm(16, signed = true, bigEndian = true, javax.sound.sampled.AudioFileFormat.Type.AIFF))
  }

  private lazy val media: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(ids.map(id => Row(id, blobs(kind(id)))), 2),
    StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("blob", BinaryType, nullable = true))))

  /** `name:type` with nullability marks: `?` after a nullable field or
    * a null-admitting array element.
    */
  private def sig(t: DataType): String = t match {
    case ArrayType(e, containsNull) => s"array<${sig(e)}${if (containsNull) "?" else ""}>"
    case other => other.simpleString
  }
  private def sig(schema: StructType): Seq[String] =
    schema.fields.toSeq.map(f => s"${f.name}:${sig(f.dataType)}${if (f.nullable) "?" else ""}")

  private def render(v: Any): String = v match {
    case null => "null"
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", " ", "]")
    case other => other.toString
  }
  /** A row minus its leading media_id. */
  private def tail(r: Row): String = r.toSeq.tail.map(render).mkString(",")

  /** Asserts `out`'s schema and its rows, in collect order (or sorted by
    * `sortBy` for decoders whose plan shuffles), against the per-kind
    * rows in `perKind` laid out over the table's ids.
    */
  private def assertPinned(out: DataFrame, schema: Seq[String], perKind: Map[String, Seq[String]],
                           sortBy: Row => (Long, Long) = null): Unit = {
    assert(sig(out.schema) == schema)
    val rows = out.collect().toSeq
    val got = (if (sortBy == null) rows else rows.sortBy(sortBy)).map(r => s"${r.getLong(0)}|${tail(r)}")
    val want = ids.flatMap(id => perKind(kind(id)).map(t => s"$id|$t"))
    val firstDiff = got.zip(want).indexWhere { case (g, w) => g != w }
    val same = got.length == want.length && firstDiff < 0
    assert(same,
      s"${got.length} rows vs ${want.length} pinned; first difference at $firstDiff: " +
        (if (firstDiff >= 0) s"${got(firstDiff)} vs ${want(firstDiff)}" else ""))
  }

  test("extractFeatures: byte checksum and rolling features; null and empty read as zero bytes") {
    assertPinned(Multimodal.extractFeatures(media),
      Seq("media_id:bigint", "n_bytes:bigint", "byte_checksum:bigint", "feature:array<float>"),
      Map(
        "png" -> Seq("95,208398490,[3.9529412 2.5647063 3.117647 3.3058825 2.6196082 3.4078434 4.6156864 4.584314]"),
        "gif" -> Seq("1006,739523896,[59.305893 55.23922 59.054905 58.537262 58.227455 58.294132 56.84707 57.07058]"),
        "wav" -> Seq("856,608901211,[51.796074 53.690163 52.19608 53.38428 52.254906 54.396046 50.349026 53.8784]"),
        "null" -> Seq("0,0,[0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0]"),
        "empty" -> Seq("0,0,[0.0 0.0 0.0 0.0 0.0 0.0 0.0 0.0]"),
        "junk" -> Seq("33,486425941,[2.1137254 1.7098039 1.7215686 0.77254903 1.6 1.2078432 1.4392157 1.6627451]"),
        "pcm8" -> Seq("108,609387553,[4.243138 3.8313723 3.968628 4.027451 4.8274508 4.47451 4.6156864 4.364706]"),
        "pcm24" -> Seq("107,551297872,[4.2470593 3.8313723 4.031373 3.7960784 5.32549 4.7176476 4.6156864 4.364706]"),
        "aiff16" -> Seq("118,939349901,[4.537255 4.8470592 3.6078432 3.8784313 3.839216 4.1215687 4.9960785 4.6039224]")))
  }

  private val bad5 = Seq("false,null,null,null,null")

  test("decodeImages: PNG and the GIF's first frame decode; every other blob is an ok = false row") {
    assertPinned(Multimodal.decodeImages(media),
      Seq("media_id:bigint", "ok:boolean", "width:bigint?", "height:bigint?", "pixel_sum:bigint?",
        "hist:array<bigint>?"),
      Map(
        "png" -> Seq("true,5,5,1775,[1 8 12 4 0 0 0 0]"),
        "gif" -> Seq("true,6,6,4032,[0 1 9 15 10 1 0 0]"),
        "wav" -> bad5, "null" -> bad5, "empty" -> bad5, "junk" -> bad5,
        "pcm8" -> bad5, "pcm24" -> bad5, "aiff16" -> bad5))
    val bad8 = Seq("false,null,null,null,null,null,null,null")
    assertPinned(Multimodal.decodeImages(media, resizeTo = 8),
      Seq("media_id:bigint", "ok:boolean", "width:bigint?", "height:bigint?", "pixel_sum:bigint?",
        "hist:array<bigint>?", "rs_width:bigint?", "rs_height:bigint?", "rs_pixel_sum:bigint?"),
      Map(
        "png" -> Seq("true,5,5,1775,[1 8 12 4 0 0 0 0],5,5,1775"),
        "gif" -> Seq("true,6,6,4032,[0 1 9 15 10 1 0 0],6,6,4032"),
        "wav" -> bad8, "null" -> bad8, "empty" -> bad8, "junk" -> bad8, "pcm8" -> bad8, "pcm24" -> bad8, "aiff16" -> bad8))
  }

  test("perceptualHash and imageSizeFilter keep an ok = false row for every undecodable blob") {
    val bad = Seq("false,null,null")
    assertPinned(Multimodal.perceptualHash(media),
      Seq("media_id:bigint", "ok:boolean", "ahash_hi:bigint?", "ahash_lo:bigint?"),
      Map(
        "png" -> Seq("true,4294967280,2155872256"),
        "gif" -> Seq("true,4294966524,4034920448"),
        "wav" -> bad, "null" -> bad, "empty" -> bad, "junk" -> bad, "pcm8" -> bad, "pcm24" -> bad, "aiff16" -> bad))
    val dropped = Seq("false,null,null,false")
    assertPinned(Multimodal.imageSizeFilter(media, minEdge = 6L, maxAspect = 2L),
      Seq("media_id:bigint", "ok:boolean", "width:bigint?", "height:bigint?", "keep:boolean?"),
      Map(
        "png" -> Seq("true,5,5,false"),
        "gif" -> Seq("true,6,6,true"),
        "wav" -> dropped, "null" -> dropped, "empty" -> dropped, "junk" -> dropped,
        "pcm8" -> dropped, "pcm24" -> dropped, "aiff16" -> dropped))
  }

  test("decodeAudio and audioClipping: only the PCM16 LE WAV decodes; 8-bit, 24-bit and big-endian PCM and the rest are ok = false rows") {
    assertPinned(Multimodal.decodeAudio(media),
      Seq("media_id:bigint", "ok:boolean", "n_frames:bigint?", "channels:bigint?", "sample_rate:bigint?",
        "sample_sum:bigint?"),
      Map(
        "wav" -> Seq("true,203,2,20000,-12690545"),
        "png" -> bad5, "gif" -> bad5, "null" -> bad5, "empty" -> bad5,
        "junk" -> bad5, "pcm8" -> bad5, "pcm24" -> bad5, "aiff16" -> bad5))
    assertPinned(Multimodal.audioClipping(media, threshold = 32000L),
      Seq("media_id:bigint", "ok:boolean", "n_samples:bigint?", "n_clipped:bigint?", "peak:bigint?",
        "clipped_share:double?"),
      Map(
        "wav" -> Seq("true,406,97,32675,0.23891625615763548"),
        "png" -> bad5, "gif" -> bad5, "null" -> bad5, "empty" -> bad5,
        "junk" -> bad5, "pcm8" -> bad5, "pcm24" -> bad5, "aiff16" -> bad5))
  }

  test("audioEnergyWindows drops every blob that is not PCM16") {
    assertPinned(Multimodal.audioEnergyWindows(media, windowSamples = 128),
      Seq("media_id:bigint", "window_idx:bigint", "n_samples:bigint", "energy_q:bigint", "silent:boolean"),
      Map(
        "wav" -> Seq("0,128,132975619520,false", "1,128,125685476800,false", "2,128,118600854976,false",
          "3,22,19686027999,false"),
        "png" -> Nil, "gif" -> Nil, "null" -> Nil, "empty" -> Nil, "junk" -> Nil, "pcm8" -> Nil, "pcm24" -> Nil, "aiff16" -> Nil))
  }

  test("decodeFrames: one row per sampled frame, one ok = false row per undecodable blob; keyframes over it") {
    val bad = Seq("false,null,null,null,null,null")
    assertPinned(Multimodal.decodeFrames(media, everyK = 2),
      Seq("media_id:bigint", "ok:boolean", "n_frames:bigint?", "frame_idx:bigint?", "width:bigint?",
        "height:bigint?", "pixel_sum:bigint?"),
      Map(
        "png" -> Seq("true,1,0,5,5,3553"),
        "gif" -> Seq("true,4,0,6,6,4032", "true,4,2,6,6,5256"),
        "wav" -> bad, "null" -> bad, "empty" -> bad, "junk" -> bad, "pcm8" -> bad, "pcm24" -> bad, "aiff16" -> bad))
    assertPinned(Multimodal.keyframes(media, minLumaDelta = 200L),
      Seq("media_id:bigint", "n_frames:bigint?", "frame_idx:bigint?", "pixel_sum:bigint?", "luma_delta:bigint?"),
      Map(
        "png" -> Seq("1,0,3553,0"),
        "gif" -> Seq("4,0,4032,0", "4,1,4644,612", "4,2,5256,612", "4,3,5868,612"),
        "wav" -> Nil, "null" -> Nil, "empty" -> Nil, "junk" -> Nil, "pcm8" -> Nil, "pcm24" -> Nil, "aiff16" -> Nil),
      sortBy = r => (r.getLong(0), r.getLong(2)))
  }

  test("the fixture builders keep their schema and their input's row order across partitions") {
    val docs = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(id => Row(id, s"d$id")), 2),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
    for ((built, mime, k) <- Seq(
        (Multimodal.pngFixtures(docs), "image/png", "png"),
        (Multimodal.gifFixtures(docs), "image/gif", "gif"),
        (Multimodal.wavFixtures(docs), "audio/wav", "wav"))) {
      assert(sig(built.schema) == Seq("media_id:bigint", "blob:binary", "mime:string"))
      val rows = built.collect().toSeq
      assert(rows.map(_.getLong(0)) == ids && rows.forall(_.getString(2) == mime))
      // the table's blob of kind k was built from content id kinds.indexOf(k) + 1
      assert(rows(kinds.indexOf(k) + 1).getAs[Array[Byte]](1).toSeq == blobs(k).toSeq)
    }
  }
}
