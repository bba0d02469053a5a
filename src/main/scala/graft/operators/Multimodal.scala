package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem,
  UnsupportedAudioFileException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images/audio/video as opaque `binary`
  * columns with typed metadata, plus per-blob decode/feature-extract
  * passes.
  *
  * Every decoder and fixture builder is one scan ([[perBlob]] over
  * [[scan]]): the key and payload are selected, each row goes through a
  * per-blob function in partition order, and the output is encoded with
  * the decoder's schema — no shuffle, nothing buffered across blobs.
  *
  * Image decode is REAL: [[decodeImages]] runs the JDK's own codecs
  * (`javax.imageio` — PNG/JPEG/BMP/GIF ship with the JVM, no external
  * dependency), reading dimensions and raster samples from
  * actually-decoded images. [[pngFixtures]] builds deterministic PNG
  * blobs whose every decoded quantity is predictable in closed form, so
  * an external SQL engine can oracle-check the full encode→decode→resize
  * path. Audio decodes PCM WAV through `javax.sound.sampled`; there is no
  * video codec in the JDK, so animated GIF stands in for video, and
  * [[extractFeatures]] keeps the byte-level deterministic kernel as the
  * generic-blob fallback.
  */
object Multimodal {

  /** media table schema: the pattern for any blob modality. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("blob", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  /** Wrap any table with a binary payload column into the media shape.
    * (The driver testdata has no real blobs; documents' text bytes stand
    * in as the payload — the plumbing is payload-agnostic.)
    */
  def asMediaTable(docs: DataFrame, idCol: String = "doc_id", payloadCol: String = "text"): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      col(payloadCol).cast(BinaryType).as("blob"),
      struct(
        lit("application/octet-stream").as("mime"),
        (pmod(xxhash64(col(idCol)), lit(1920L)).cast("int") + 32).as("width"),
        (pmod(xxhash64(col(idCol), lit(1L)), lit(1080L)).cast("int") + 32).as("height"),
        length(col(payloadCol)).cast(LongType).as("n_bytes")).as("meta"))

  // ---------------- the one pass ----------------

  /** The one scan of this object: each row of `input` goes through `f`
    * in partition order, and the rows `f` returns are encoded with
    * `schema`.
    */
  private def scan(input: DataFrame, schema: StructType)(f: Row => IterableOnce[Row]): DataFrame =
    input.mapPartitions(_.flatMap(f))(RowEncoder.encoderFor(schema))

  /** Every decoder's pass: `f(media_id, blob)` per media row, `blob`
    * null for a null blob.
    */
  private def perBlob(media: DataFrame, schema: StructType)
                     (f: (Long, Array[Byte]) => IterableOnce[Row]): DataFrame =
    scan(media.select(col("media_id"), col("blob")), schema) { r =>
      f(r.getLong(0), if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1))
    }

  /** A decoder's audit row for a blob it cannot read: the id, `ok =
    * false`, and null in every other column of `schema`.
    */
  private def notOk(id: Long, schema: StructType): Row =
    Row.fromSeq(Seq(id, false) ++ Seq.fill(schema.length - 2)(null))

  private val fixtureSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("blob", BinaryType, nullable = false),
    StructField("mime", StringType, nullable = false)))

  /** Every fixture builder's pass: one `(media_id, blob, mime)` row per
    * row of `input`, which holds the media id first and the content id
    * the blob is built from last (the same column when there is one).
    */
  private def fixtures(input: DataFrame, mime: String)(build: Long => Array[Byte]): DataFrame =
    scan(input, fixtureSchema)(r => Iterator.single(Row(r.getLong(0), build(r.getLong(r.length - 1)), mime)))

  /** A `w×h` single-band gray image with `pixel(x, y)` samples. */
  private def grayImage(w: Int, h: Int)(pixel: (Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, pixel(x, y)); x += 1 }
      y += 1
    }
    img
  }

  /** One blob decoded by javax.imageio: None for a null or empty blob,
    * a blob no installed reader takes, or one its reader fails on.
    *
    * Every javax.imageio use here first switches ImageIO's disk cache
    * off (the streams are in memory already); it is not done in [[scan]],
    * so the audio and byte passes never load javax.imageio.
    */
  private def readImage(bytes: Array[Byte]): Option[BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else
      try {
        ImageIO.setUseCache(false)
        Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      } catch { case _: IOException => None }

  /** One decoded PCM16 clip: the container's frame count and format, and
    * the interleaved samples.
    */
  private final case class Pcm16(frames: Long, format: AudioFormat, samples: Array[Short])

  /** One blob parsed by javax.sound's container readers and kept only
    * if it is signed little-endian 16-bit PCM: None for a null or empty
    * blob, a container javax.sound cannot parse, or any other encoding.
    */
  private def readPcm16(bytes: Array[Byte]): Option[Pcm16] =
    if (bytes == null || bytes.isEmpty) None
    else
      try {
        val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
        val fmt = ais.getFormat
        if (fmt.getEncoding != AudioFormat.Encoding.PCM_SIGNED || fmt.getSampleSizeInBits != 16 ||
            fmt.isBigEndian) None
        else {
          val frames = ais.getFrameLength
          val data = ais.readAllBytes()
          val samples = new Array[Short](data.length / 2)
          var i = 0
          while (i < samples.length) {
            samples(i) = ((data(2 * i) & 0xFF) | (data(2 * i + 1) << 8)).toShort
            i += 1
          }
          Some(Pcm16(frames, fmt, samples))
        }
      } catch {
        case _: UnsupportedAudioFileException => None
        case _: IOException => None
      }

  // ---------------- generic blobs ----------------

  private val featureSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("byte_checksum", LongType, nullable = false),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** "Decode + feature-extract" pass over blobs, one blob at a time.
    *
    * STUB KERNEL: the per-blob "decode" is [[byteFeatures]], a
    * deterministic fake (byte checksum + 8 pseudo-features from rolling
    * byte sums); a null blob reads as zero bytes. Replace `byteFeatures`
    * with a real codec binding to productionize — nothing else changes.
    */
  def extractFeatures(media: DataFrame): DataFrame =
    perBlob(media, featureSchema) { (id, bytes) =>
      Iterator.single(byteFeatures(id, if (bytes == null) Array.empty[Byte] else bytes))
    }

  /** Checksum modulus: keeps the rolling polynomial checksum inside
    * non-overflowing BIGINT range so external engines reproduce it.
    */
  val checksumMod = 1000000007L

  /** STUB: deterministic fake decoder of one blob. */
  private def byteFeatures(id: Long, bytes: Array[Byte]): Row = {
    var checksum = 0L
    val feat = new Array[Float](8)
    var i = 0
    while (i < bytes.length) {
      checksum = (checksum * 31 + (bytes(i) & 0xFF)) % checksumMod
      feat(i % 8) += (bytes(i) & 0xFF) / 255.0f
      i += 1
    }
    Row(id, bytes.length.toLong, checksum, feat.toSeq)
  }

  // ---------------- real image path (javax.imageio) ----------------

  /** Fixture-image geometry/pixels in closed form: gray `W×H` with
    * `pixel(x, y) = (id·31 + x·7 + y·13) mod 256`. Pure integer
    * functions of the id, shared by the PNG builder, the specs, and the
    * SQL oracle (which re-derives every decoded quantity from these).
    */
  def fixtureWidth(id: Long): Int = (4 + Math.floorMod(id, 13L)).toInt
  def fixtureHeight(id: Long): Int = (4 + Math.floorMod(id, 11L)).toInt
  def fixturePixel(id: Long, x: Int, y: Int): Int =
    Math.floorMod(id * 31L + x * 7L + y * 13L, 256L).toInt

  /** Deterministic REAL-PNG column: one grayscale image per row, built
    * from [[fixturePixel]] and encoded by `javax.imageio`'s PNG writer
    * (lossless, so decode returns the exact samples). This is the
    * encoded-image fixture the decode oracle runs over — real bytes
    * through a real codec, with SQL-predictable content.
    */
  def pngFixtures(docs: DataFrame, idCol: String = "doc_id",
                  contentCol: String = ""): DataFrame = {
    // contentCol (optional) keys the PIXELS separately from media_id, so
    // a gate can synthesize distinct media rows with duplicate content
    // (the perceptual-dedup fixture: media_id unique, content repeating)
    val cid = if (contentCol.isEmpty) col(idCol) else col(contentCol)
    fixtures(docs.select(col(idCol).cast(LongType).as("media_id"), cid.cast(LongType).as("_cid")),
      "image/png") { id =>
      val bos = new ByteArrayOutputStream()
      ImageIO.setUseCache(false)
      ImageIO.write(grayImage(fixtureWidth(id), fixtureHeight(id))(fixturePixel(id, _, _)), "png", bos)
      bos.toByteArray
    }
  }

  private def decodeSchema(resizeTo: Int) = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("pixel_sum", LongType, nullable = true),
    StructField("hist", ArrayType(LongType, containsNull = false), nullable = true)) ++
    (if (resizeTo > 0) Seq(
      StructField("rs_width", LongType, nullable = true),
      StructField("rs_height", LongType, nullable = true),
      StructField("rs_pixel_sum", LongType, nullable = true))
    else Nil))

  /** Integer luma via getRGB + ITU-R 601 weighting — exact for gray
    * content (r=g=b=v ⇒ (299+587+114)·v/1000 = v) regardless of whether
    * the decoder hands back an indexed or component raster, which is
    * what GIF's palette model requires.
    */
  private def lumaRgbAt(img: BufferedImage, x: Int, y: Int): Int = {
    val rgb = img.getRGB(x, y)
    (((rgb >> 16) & 0xFF) * 299 + (((rgb >> 8) & 0xFF)) * 587 + ((rgb & 0xFF)) * 114) / 1000
  }

  /** Integer luma of one decoded pixel: raw raster sample for
    * single-band (gray) images — `getRGB` would push gray samples
    * through a color-space conversion and break exactness — and
    * [[lumaRgbAt]] for color images.
    */
  private def lumaAt(img: BufferedImage, x: Int, y: Int): Int =
    if (img.getRaster.getNumBands == 1) img.getRaster.getSample(x, y, 0)
    else lumaRgbAt(img, x, y)

  /** REAL image decode (+ optional resize), one blob at a time:
    * [[readImage]] per blob, then dimensions, the integer luma sum and
    * an 8-bin luma histogram from the decoded raster. Undecodable/empty
    * blobs emit `ok = false` instead of failing the task (a 100 TB crawl
    * always contains corrupt images).
    *
    * When `resizeTo > 0`, the decoded raster also downsamples to that
    * long edge with EXPLICIT nearest-neighbor mapping
    * `dst(x, y) = src(x·w/w', y·h/h')` (integer floor division, never
    * upscaling, min edge 1) — deterministic and SQL-reproducible, unlike
    * Java2D's interpolated drawImage. The same decoded image serves both
    * surfaces: one decode per blob.
    */
  def decodeImages(media: DataFrame, resizeTo: Int = 0): DataFrame = {
    val schema = decodeSchema(resizeTo)
    perBlob(media, schema) { (id, bytes) =>
      Iterator.single(readImage(bytes) match {
        case None => notOk(id, schema)
        case Some(img) =>
          val w = img.getWidth; val h = img.getHeight
          var sum = 0L
          val hist = new Array[Long](8)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val l = lumaAt(img, x, y)
              sum += l
              hist(l >> 5) += 1
              x += 1
            }
            y += 1
          }
          if (resizeTo > 0) {
            val maxDim = math.max(w, h)
            val (rw, rh) =
              if (maxDim <= resizeTo) (w, h)
              else (math.max(1, w * resizeTo / maxDim), math.max(1, h * resizeTo / maxDim))
            var rsSum = 0L
            var ry = 0
            while (ry < rh) {
              var rx = 0
              while (rx < rw) { rsSum += lumaAt(img, rx * w / rw, ry * h / rh); rx += 1 }
              ry += 1
            }
            Row(id, true, w.toLong, h.toLong, sum, hist.toSeq, rw.toLong, rh.toLong, rsSum)
          } else Row(id, true, w.toLong, h.toLong, sum, hist.toSeq)
      })
    }
  }

  private val phashSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("ahash_hi", LongType, nullable = true),
    StructField("ahash_lo", LongType, nullable = true)))

  /** Perceptual average-hash (aHash) of each decoded image: sample an
    * 8×8 luma grid with the explicit nearest-neighbor mapping
    * `g(rx, ry) = luma(rx·w div 8, ry·h div 8)` (same rule as
    * [[decodeImages]]' resize), then bit k = rx + 8·ry is set iff
    * `g·64 > Σg` — the mean threshold cross-multiplied so the float mean
    * never exists. Emitted as TWO 32-bit halves (`ahash_hi` bits 32–63,
    * `ahash_lo` bits 0–31, both in [0, 2³²)) so every value stays
    * small-positive in any engine — a single 64-bit hash with bit 63 set
    * would overflow differently under SQL HUGEINT promotion.
    *
    * Scale shape: one decode + 64 samples per blob inside the per-blob
    * scan — no shuffle; only (id, ok, two longs) move on.
    * Near-identical images (rescaled, re-encoded, lightly edited) land
    * within a few bits of hamming distance; [[imageNearDupPairs]] turns
    * that into a banded pair join.
    */
  def perceptualHash(media: DataFrame): DataFrame =
    perBlob(media, phashSchema) { (id, bytes) =>
      Iterator.single(readImage(bytes) match {
        case None => notOk(id, phashSchema)
        case Some(img) =>
          val w = img.getWidth; val h = img.getHeight
          val g = new Array[Int](64)
          var k = 0
          var sum = 0L
          while (k < 64) {
            val rx = k % 8; val ry = k / 8
            g(k) = lumaAt(img, rx * w / 8, ry * h / 8)
            sum += g(k)
            k += 1
          }
          var lo = 0L; var hi = 0L
          k = 0
          while (k < 64) {
            if (g(k).toLong * 64L > sum) {
              if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
            }
            k += 1
          }
          Row(id, true, hi, lo)
      })
    }

  /** Near-duplicate image pairs by hamming distance over [[perceptualHash]]
    * output: the 64 hash bits split into four 16-bit band keys, candidate
    * pairs meet through a `(band, value)` self-equi-join — never an
    * all-pairs product — and survive an exact
    * `bit_count(xor) ≤ maxHamming` check. For `maxHamming ≤ 3` the four
    * bands are COMPLETE by pigeonhole (≤ 3 differing bits cannot touch
    * all 4 bands), the [[Dedup.simHashPairs]] guarantee.
    *
    * `maxBandFreq` (opt-in, the overlapRuns/winnowOverlap knob) caps a
    * band-value's occurrence count before the join — flat-color images
    * (hash 0) make degenerate hot buckets at crawl scale.
    *
    * @return (id_a, id_b, hamming), id_a < id_b, each pair once
    */
  def imageNearDupPairs(hashes: DataFrame, maxHamming: Int = 3,
                        maxBandFreq: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hs = hashes.filter(col("ok"))
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"))
    val bandsAll = hs.select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
      explode(array((0 until 4).map { b =>
        val src = if (b < 2) col("ahash_lo") else col("ahash_hi")
        struct(lit(b).as("band"),
          shiftright(src, (b % 2) * 16).bitwiseAND(lit(65535L)).as("bv"))
      }: _*)).as("_b"))
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
        col("_b.band").as("band"), col("_b.bv").as("bv"))
    val bands =
      if (maxBandFreq <= 0) bandsAll
      else bandsAll
        .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("band"), col("bv"))))
        .filter(col("_n") <= maxBandFreq).drop("_n")
    val a = bands.select(col("media_id").as("id_a"), col("ahash_hi").as("_ahi"),
      col("ahash_lo").as("_alo"), col("band"), col("bv"))
    val b = bands.select(col("media_id").as("id_b"), col("ahash_hi").as("_bhi"),
      col("ahash_lo").as("_blo"), col("band"), col("bv"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (expr("bit_count(_ahi ^ _bhi)") + expr("bit_count(_alo ^ _blo)"))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
  }

  // ---------------- real audio path (javax.sound.sampled) ----------------

  /** Fixture-audio shape in closed form: PCM16 WAV with
    * `frames = 200 + id mod 100`, `channels = 1 + id mod 2`,
    * `rate = 8000 + (id mod 4)·4000`, and interleaved
    * `sample(i) = ((id·31 + i·7) mod 65536) − 32768` over the flat
    * index. Pure integer functions shared by the WAV builder, the specs
    * and the SQL oracle.
    */
  def audioFrames(id: Long): Int = (200 + Math.floorMod(id, 100L)).toInt
  def audioChannels(id: Long): Int = (1 + Math.floorMod(id, 2L)).toInt
  def audioRate(id: Long): Int = (8000 + Math.floorMod(id, 4L) * 4000).toInt
  def audioSample(id: Long, i: Int): Int =
    (Math.floorMod(id * 31L + i * 7L, 65536L) - 32768L).toInt

  /** Deterministic REAL-WAV column: one PCM16 clip per row, built from
    * [[audioSample]] and containerized by `javax.sound.sampled`'s WAVE
    * writer (PCM is lossless, so decode returns the exact samples).
    */
  def wavFixtures(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    fixtures(docs.select(col(idCol).cast(LongType).as("media_id")), "audio/wav") { id =>
      val frames = audioFrames(id); val ch = audioChannels(id); val rate = audioRate(id)
      val raw = java.nio.ByteBuffer.allocate(frames * ch * 2)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      while (i < frames * ch) { raw.putShort(audioSample(id, i).toShort); i += 1 }
      val fmt = new AudioFormat(rate.toFloat, 16, ch, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(raw.array()), fmt, frames.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

  private val audioSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("n_frames", LongType, nullable = true),
    StructField("channels", LongType, nullable = true),
    StructField("sample_rate", LongType, nullable = true),
    StructField("sample_sum", LongType, nullable = true)))

  /** REAL audio decode, one blob at a time: [[readPcm16]] parses the
    * container, and the integer sample sum comes from the decoded
    * little-endian PCM16 stream. Non-audio/unsupported blobs emit
    * `ok = false` rather than failing the task. Scan-stage; only the
    * scalar results move.
    */
  def decodeAudio(media: DataFrame): DataFrame =
    perBlob(media, audioSchema) { (id, bytes) =>
      Iterator.single(readPcm16(bytes) match {
        case None => notOk(id, audioSchema)
        case Some(p) =>
          var sum = 0L
          p.samples.foreach(s => sum += s)
          Row(id, true, p.frames, p.format.getChannels.toLong, p.format.getSampleRate.toLong, sum)
      })
    }

  /** LAION-style image admission policy over the REAL decoded
    * dimensions: keep iff both edges ≥ `minEdge` and the aspect ratio
    * (long edge : short edge) is at most `maxAspect` — decided by the
    * integer cross-compare `long ≤ maxAspect · short`, so no float ratio
    * exists. Corrupt/undecodable blobs (ok = false) are kept in the
    * output with keep = false (never a silent drop — the audit row).
    * Same decode scan as [[decodeImages]]; zero shuffle.
    */
  def imageSizeFilter(media: DataFrame, minEdge: Long = 6L, maxAspect: Long = 2L): DataFrame = {
    require(minEdge > 0 && maxAspect > 0, "minEdge and maxAspect must be positive")
    decodeImages(media)
      .select(col("media_id"), col("ok"), col("width"), col("height"))
      .withColumn("keep", col("ok") &&
        least(col("width"), col("height")) >= minEdge &&
        greatest(col("width"), col("height")) <=
          lit(maxAspect) * least(col("width"), col("height")))
  }

  private val clipSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("n_samples", LongType, nullable = true),
    StructField("n_clipped", LongType, nullable = true),
    StructField("peak", LongType, nullable = true)))

  /** Clipping detection over the decoded PCM16 stream: the share of
    * samples at or beyond `threshold` absolute amplitude plus the peak —
    * the distortion-QA row of audio curation (a clip recorded too hot is
    * useless to a speech model no matter what the VAD says). Same
    * decode scan as [[decodeAudio]]; only four scalars per clip
    * move on. Undecodable blobs keep an ok = false audit row.
    */
  def audioClipping(media: DataFrame, threshold: Long = 32000L): DataFrame = {
    require(threshold > 0 && threshold <= 32768L, "threshold must be in (0, 32768]")
    perBlob(media, clipSchema) { (id, bytes) =>
      Iterator.single(readPcm16(bytes) match {
        case None => notOk(id, clipSchema)
        case Some(p) =>
          var nClip = 0L; var peak = 0L
          p.samples.foreach { s =>
            val a = math.abs(s.toLong)
            if (a >= threshold) nClip += 1
            if (a > peak) peak = a
          }
          Row(id, true, p.samples.length.toLong, nClip, peak)
      })
    }.withColumn("clipped_share",
      col("n_clipped").cast("double") / col("n_samples").cast("double"))
  }

  private val energySchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("window_idx", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("energy_q", LongType, nullable = false)))

  /** Windowed audio energy / silence detection over the decoded PCM16
    * stream: fixed `windowSamples`-sample windows of the interleaved
    * stream, per-window integer energy Σ s² (s ≤ 2^15 so a 2^30-bounded
    * term; any practical window stays far below long range), and a
    * `silent` flag via the integer cross-compare
    * `energy · 1 < thresholdMeanSquare · n` — the float mean-square
    * never exists. This is the VAD-ish front of audio curation: clips
    * that are mostly silence are cut before feature extraction.
    * Scan-stage like [[decodeAudio]]; only window scalars move.
    * Undecodable blobs are dropped (audit via decodeAudio's ok=false
    * surface).
    */
  def audioEnergyWindows(media: DataFrame, windowSamples: Int = 128,
                         thresholdMeanSquare: Long = 100000000L): DataFrame = {
    require(windowSamples > 0, "windowSamples must be positive")
    perBlob(media, energySchema) { (id, bytes) =>
      readPcm16(bytes).iterator.flatMap { p =>
        val n = p.samples.length
        Iterator.range(0, n, windowSamples).map { start =>
          val end = math.min(start + windowSamples, n)
          var energy = 0L
          var i = start
          while (i < end) {
            val s = p.samples(i).toLong
            energy += s * s
            i += 1
          }
          Row(id, (start / windowSamples).toLong, (end - start).toLong, energy)
        }
      }
    }.withColumn("silent", col("energy_q") < col("n_samples") * thresholdMeanSquare)
  }

  // ---------------- real frame sampling (animated GIF, javax.imageio) ----------------

  /** Fixture-animation shape in closed form: `frames = 2 + id mod 5`
    * full-size grayscale frames of [[fixtureWidth]]×[[fixtureHeight]]
    * with `pixel(f, x, y) = (id·31 + f·17 + x·7 + y·13) mod 256`. Pure
    * integer functions shared by the GIF builder, the specs and the SQL
    * oracle (GIF is palette-lossless for ≤256 grays, so decode returns
    * exactly these samples).
    */
  def gifFrames(id: Long): Int = (2 + Math.floorMod(id, 5L)).toInt
  def gifPixel(id: Long, f: Int, x: Int, y: Int): Int =
    Math.floorMod(id * 31L + f * 17L + x * 7L + y * 13L, 256L).toInt

  /** Deterministic REAL animated-GIF column: one multi-frame clip per
    * row, built from [[gifPixel]] and containerized by `javax.imageio`'s
    * GIF sequence writer. This is the "video-shaped" fixture the frame
    * sampler decodes — real container bytes through a real codec, with
    * SQL-predictable frame content.
    */
  def gifFixtures(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    fixtures(docs.select(col(idCol).cast(LongType).as("media_id")), "image/gif") { id =>
      val w = fixtureWidth(id); val h = fixtureHeight(id)
      ImageIO.setUseCache(false)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val bos = new ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      // interlacing OFF: the JDK GIF writer scrambles row order on
      // small heights when left in its default progressive mode
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(ImageWriteParam.MODE_DISABLED)
      for (f <- 0 until gifFrames(id))
        writer.writeToSequence(new IIOImage(grayImage(w, h)(gifPixel(id, f, _, _)), null, null), param)
      writer.endWriteSequence()
      ios.close()
      writer.dispose()
      bos.toByteArray
    }

  private val frameSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("n_frames", LongType, nullable = true),
    StructField("frame_idx", LongType, nullable = true),
    StructField("width", LongType, nullable = true),
    StructField("height", LongType, nullable = true),
    StructField("pixel_sum", LongType, nullable = true)))

  /** REAL frame sampling over multi-frame containers: an `ImageReader`
    * parses the stream once, `getNumImages` counts frames, and every
    * k-th frame decodes to dimensions + integer luma sum — one output
    * row per SAMPLED frame (the explode happens here, so only sampled
    * frames ever materialize). Undecodable blobs emit a single
    * `ok = false` row instead of failing the task. The same per-blob
    * scan as the other decoders; works for any multi-frame format the
    * JDK has a reader for (GIF ships; TIFF too on JDK 9+).
    */
  def decodeFrames(media: DataFrame, everyK: Int = 2): DataFrame = {
    require(everyK > 0, "decodeFrames: everyK must be positive")
    perBlob(media, frameSchema) { (id, bytes) =>
      val out: Seq[Row] =
        if (bytes == null || bytes.isEmpty) Nil
        else
          try {
            ImageIO.setUseCache(false)
            val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
            val readers = ImageIO.getImageReaders(iis)
            if (!readers.hasNext) Nil
            else {
              val reader = readers.next()
              try {
                reader.setInput(iis)
                val n = reader.getNumImages(true)
                (0 until n by everyK).map { f =>
                  val img = reader.read(f)
                  val w = img.getWidth; val h = img.getHeight
                  var sum = 0L
                  var y = 0
                  while (y < h) {
                    var x = 0
                    while (x < w) { sum += lumaRgbAt(img, x, y); x += 1 }
                    y += 1
                  }
                  Row(id, true, n.toLong, f.toLong, w.toLong, h.toLong, sum)
                }
              } finally reader.dispose()
            }
          } catch { case _: IOException => Nil }
      if (out.isEmpty) Seq(notOk(id, frameSchema)) else out
    }
  }

  /** Keyframe selection over the decoded animation: keep frame 0 and
    * every frame whose luma sum moves at least `minLumaDelta` from the
    * previous frame — the shot-boundary heuristic that decides which
    * frames of a video are worth the (expensive) downstream vision
    * encoder. Decode is the [[decodeFrames]] scan (everyK = 1); the
    * lag comparison is one per-media window — keyed by media id, the
    * partitioning every per-video consumer already has.
    */
  def keyframes(media: DataFrame, minLumaDelta: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minLumaDelta >= 0, "minLumaDelta must be non-negative")
    val frames = decodeFrames(media, everyK = 1).filter(col("ok"))
    val w = Window.partitionBy("media_id").orderBy("frame_idx")
    frames
      .withColumn("_prev", lag(col("pixel_sum"), 1).over(w))
      .withColumn("luma_delta",
        when(col("_prev").isNull, lit(0L)).otherwise(abs(col("pixel_sum") - col("_prev"))))
      .filter(col("_prev").isNull || col("luma_delta") >= minLumaDelta)
      .select(col("media_id"), col("n_frames"), col("frame_idx"),
        col("pixel_sum"), col("luma_delta"))
  }

  /** "Resize" stub: recompute metadata for a bounded long edge; blob
    * passes through untouched (a real kernel would re-encode).
    */
  def resizeMeta(media: DataFrame, maxEdge: Int): DataFrame = {
    val w = col("meta.width"); val h = col("meta.height")
    val scale = when(greatest(w, h) > maxEdge,
      lit(maxEdge).cast("double") / greatest(w, h).cast("double")).otherwise(lit(1.0))
    media.withColumn("meta", struct(
      col("meta.mime").as("mime"),
      floor(w * scale).cast("int").as("width"),
      floor(h * scale).cast("int").as("height"),
      col("meta.n_bytes").as("n_bytes")))
  }
}
