package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared kernel for the portable md5-prefix hash family (the runtime
  * twin of [[graft.functions.PortableHash]]): h60(s) is the value of the
  * first 15 hex digits of md5(s), i.e. the top 60 bits of the digest.
  * Every consumer below must stay bit-identical to the Column/SQL forms
  * so DuckDB oracle queries keep reproducing results exactly.
  */
private[plans] object PortableHashKernel {

  /** 2^31 - 1 (prime), the affine-family modulus. */
  val M: Long = 2147483647L

  private val digests: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  def md(): MessageDigest = digests.get()

  /** First 15 hex digits of md5(bytes) as a 60-bit non-negative long:
    * digest bytes 0..6 (56 bits) followed by the high nibble of byte 7.
    */
  def h60(md: MessageDigest, bytes: Array[Byte]): Long = {
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }
}

/** Distinct word n-gram shingles of a text column, as one codegen'd pass:
  * split on single spaces (regex-equivalent to Spark's `split(text, " ")`
  * including trailing empties), emit the `len - n + 1` joined n-grams
  * (or the whole text as one shingle when there are fewer than n words),
  * de-duplicated preserving first occurrence — exactly
  * `array_distinct(transform(sequence(...), i -> concat_ws(" ",
  * slice(words, i+1, n))))`, which is a CodegenFallback higher-order
  * chain interpreted per row and dominated shingle-bearing scans.
  * Oracle twin: the `sh` CTE in graft.gates.Shared (list comprehension over
  * `string_split`), unchanged.
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"word_shingles expects a string column, got ${child.dataType.simpleString}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"word_shingles n must be >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(v: Any): Any =
    WordShingles.compute(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.WordShingles.compute($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {

  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val seen = new java.util.LinkedHashSet[String]()
    if (words.length >= n) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= words.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
    } else {
      seen.add(String.join(" ", words: _*))
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }
}

/** All word n-grams of a text column WITH multiplicity — the repetition
  * -measurement twin of [[WordShingles]] (which deduplicates for sketch
  * inputs). Splits on single spaces like `split(text, " ")` (trailing
  * empties kept) and emits the `len - n + 1` joined n-grams in order;
  * a text with fewer than `n` words has no n-grams (empty array), since
  * a repetition fraction over zero gram positions is zero by definition.
  * Oracle twin: a DuckDB `list_transform(range(...))` comprehension over
  * `string_split` (see the `text_repetition` oracle in graft.gates.TextGates).
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"word_ngrams expects a string column, got ${child.dataType.simpleString}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"word_ngrams n must be >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(v: Any): Any =
    WordNgrams.compute(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.WordNgrams.compute($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "word_ngrams"
}

object WordNgrams {

  def compute(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val count = math.max(words.length - n + 1, 0)
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** LSH band hashes of a shingle set, as one codegen'd pass replacing the
  * explode → 64-wide min-aggregate groupBy → fold projection chain: per
  * shingle one md5 (h60 mod M), per hash function the affine map
  * (A_i·base + B_i) mod M folded into a running min, then each band's
  * r-slice folded (acc·31 + m) mod M into its bucket key. Zero shuffle —
  * the signature never leaves the scan stage, where the old shape
  * shuffled one 64-column row per (doc, partition) and paid a wide
  * hash-aggregate. Bit-identical to PortableHash.affineHash/foldHashes,
  * so the `sig`/`banded` oracle CTEs are unchanged.
  *
  * Returns array<long> of length `bands`; index = band id.
  */
case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[ArrayType] ||
      child.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"minhash_bands expects array<string>, got ${child.dataType.simpleString}")
    else if (numHashes < 1 || bands < 1 || numHashes % bands != 0)
      TypeCheckResult.TypeCheckFailure(
        s"minhash_bands: bands ($bands) must divide numHashes ($numHashes)")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(v: Any): Any =
    MinHashBands.compute(v.asInstanceOf[ArrayData], numHashes, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("bandsOut")
      s"""
         |Object $out = graft.plans.MinHashBands.compute($v, $numHashes, $bands);
         |if ($out == null) { ${ev.isNull} = true; } else {
         |  ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $out;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_bands"
}

object MinHashBands {

  import PortableHashKernel.M

  // affine constants per numHashes, built once per JVM from the same
  // deterministic family as PortableHash.affine
  private val abCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, (Array[Long], Array[Long])]()

  private def ab(numHashes: Int): (Array[Long], Array[Long]) =
    abCache.computeIfAbsent(numHashes, { n =>
      val as = new Array[Long](n)
      val bs = new Array[Long](n)
      var i = 0
      while (i < n) {
        val (a, b) = graft.functions.PortableHash.affine(i)
        as(i) = a; bs(i) = b; i += 1
      }
      (as, bs)
    })

  /** Kernel invoked from generated code; GenericArrayData or null. */
  def compute(sh: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val n = sh.numElements()
    if (n == 0) return null
    val (as, bs) = ab(numHashes)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val md = PortableHashKernel.md()
    var i = 0
    while (i < n) {
      if (sh.isNullAt(i)) return null
      val base = PortableHashKernel.h60(md, sh.getUTF8String(i).getBytes) % M
      var k = 0
      while (k < numHashes) {
        val h = (base * as(k) + bs(k)) % M
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    val rows = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var j = b * rows
      while (j < (b + 1) * rows) { acc = (acc * 31 + mins(j)) % M; j += 1 }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** 60-bit SimHash fingerprint of a token array (duplicates carry weight),
  * as one codegen'd pass replacing explode → 60 conditional-sum
  * aggregates → bit-assembly projection: per token one md5 h60, each of
  * the 60 bits votes ±1, bit b of the result is set iff its vote total
  * is strictly positive. Zero shuffle. Bit-identical to the `votes`/`fp`
  * oracle CTEs (simhashOracle), which are unchanged.
  */
case class SimHashFingerprint(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[ArrayType] ||
      child.dataType.asInstanceOf[ArrayType].elementType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"simhash_fp expects array<string>, got ${child.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(v: Any): Any =
    SimHashFingerprint.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("fp")
      s"""
         |Object $out = graft.plans.SimHashFingerprint.compute($v);
         |if ($out == null) { ${ev.isNull} = true; } else { ${ev.value} = ((Long) $out).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "simhash_fp"
}

object SimHashFingerprint {

  val bits = 60

  /** Kernel invoked from generated code; boxed Long or null. */
  def compute(toks: ArrayData): java.lang.Long = {
    val n = toks.numElements()
    val votes = new Array[Int](bits)
    val md = PortableHashKernel.md()
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      val h = PortableHashKernel.h60(md, toks.getUTF8String(i).getBytes)
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var f = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) f |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(f)
  }
}

/** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
  * the MOSS algorithm): over the document's ordered word `k`-grams, slide
  * a window of `w` consecutive gram hashes and record each window's
  * minimum (rightmost position on hash ties — the robust-winnowing rule,
  * encoded by packing so larger positions compare smaller). Guarantees:
  * any shared substring of at least `w + k - 1` words between two
  * documents produces at least one identical selected (hash, aligned
  * position) pair, while only ~2/(w+1) of grams are kept — the
  * position-robust sketch for partial-overlap detection that a global
  * min-sketch (minhash) cannot provide.
  *
  * One codegen pass per document: gram assembly, md5 h60 per gram, and
  * an O(n) monotonic-deque sliding minimum, emitting the sorted distinct
  * PACKED selections `hash·2^21 + (2^20 − pos)` (hash already reduced
  * mod M < 2^31, pos < 2^20, so packed < 2^52). Decoding is plain
  * integer arithmetic, identical in any engine. Documents with fewer
  * than `k` words have no grams and fingerprint to an empty array;
  * fewer than `w` grams form a single clipped window (its overall min).
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprints expects a string column, got ${child.dataType.simpleString}")
    else if (k < 1 || w < 1)
      TypeCheckResult.TypeCheckFailure(s"winnow_fingerprints: k ($k) and w ($w) must be >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(v: Any): Any =
    WinnowFingerprints.compute(v.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.WinnowFingerprints.compute($v, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "winnow_fingerprints"
}

object WinnowFingerprints {

  import PortableHashKernel.M

  val posBits = 20
  val packShift = 21

  /** Kernel invoked from generated code. */
  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val count = words.length - k + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Long])
    require(count < (1 << posBits),
      s"winnow_fingerprints: document has $count grams, max ${(1 << posBits) - 1}")
    val md = PortableHashKernel.md()
    val packed = new Array[Long](count)
    val sb = new java.lang.StringBuilder()
    var p = 0
    while (p < count) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(p + j))
        j += 1
      }
      val h = PortableHashKernel.h60(md,
        UTF8String.fromString(sb.toString).getBytes) % M
      packed(p) = (h << packShift) + ((1L << posBits) - p)
      p += 1
    }
    // O(n) monotonic-deque sliding minimum; packed values are unique
    // (distinct pos), so the min is unambiguous and ties in HASH resolve
    // to the rightmost position by construction of the packing.
    val dq = new java.util.ArrayDeque[Int]()
    val sel = new java.util.TreeSet[java.lang.Long]()
    p = 0
    while (p < count) {
      while (!dq.isEmpty && packed(dq.peekLast) >= packed(p)) dq.pollLast()
      dq.addLast(p)
      if (dq.peekFirst <= p - w) dq.pollFirst()
      if (p >= w - 1 || p == count - 1) sel.add(packed(dq.peekFirst))
      p += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }
}

/** Rolling 64-bit hashes of every `n`-code-point character gram of a
  * text, as one codegen'd O(len) pass — the PREFILTER key of
  * [[graft.operators.Dedup.substringPairs]], replacing the per-position
  * `substring(t, i, n)` explode (an O(n) copy per position, ~40× the
  * text volume in transient allocation, which the r16 probe measured as
  * the gate's dominant stage) for the unique-gram majority that never
  * survives the occurrence-count filter.
  *
  * hash(i) = Σ_{k=0..n-1} cp(i+k) · B^(n-1-k) in wrapping 64-bit
  * arithmetic (B a fixed odd multiplier), computed left-to-right then
  * rolled. Windows are CODE POINTS, matching `length()`/`substring()`
  * SQL semantics, so equal substring-grams always collide — the filter
  * is a provable superset — while unequal grams collide only accidentally
  * and a collision can only ADMIT an extra candidate, never drop one:
  * every downstream decision re-checks the raw string. The hash never
  * crosses an engine boundary (the oracle caps on raw strings), so it
  * needs no portability contract.
  *
  * Returns array<long> of length max(0, len − n + 1); null input → null.
  */
case class CharGramHashes(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"char_gram_hashes expects a string column, got ${child.dataType.simpleString}")
    else if (n < 2)
      TypeCheckResult.TypeCheckFailure(s"char_gram_hashes n must be >= 2, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override protected def nullSafeEval(v: Any): Any =
    CharGramHashes.compute(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.plans.CharGramHashes.compute($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "char_gram_hashes"
}

object CharGramHashes {

  /** Odd (hence invertible mod 2^64) golden-ratio multiplier. */
  private val B = 0x9E3779B97F4A7C15L

  def compute(text: UTF8String, n: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val count = cps.length - n + 1
    if (count <= 0) return new GenericArrayData(Array.emptyLongArray)
    var bn = 1L
    var j = 0
    while (j < n) { bn *= B; j += 1 } // B^n
    val out = new Array[Long](count)
    var h = 0L
    j = 0
    while (j < n) { h = h * B + cps(j); j += 1 }
    out(0) = h
    var i = 1
    while (i < count) {
      h = h * B + cps(i + n - 1) - bn * cps(i - 1)
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }
}
