package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import scala.util.Random

/** Randomized equivalence of [[SpatialOps.convoyPairs]] and
  * [[SpatialOps.interContactTimes]] against driver-side transcriptions of
  * their window formulations, per (user_a, user_b) pair:
  *  - convoys: meetings map to band ranges [b_s, b_f] ordered by
  *    (b_s, b_f), nulls first; a row breaks the run when the running max
  *    of the previous rows' b_f is null or b_s > that max + 1 (a null b_s
  *    never breaks after a non-null max); each run reports min(b_s) and
  *    max(b_f) − min(b_s) + 1 over its non-null values and is kept at
  *    >= minConsecutive bands;
  *  - inter-contact times: meetings ordered by (m_s_us, m_f_us), nulls
  *    first; each row's gap is `((m_s − previous m_f) / 1000000L)` as a
  *    double cast to long, kept when >= 1 s and bucketed by
  *    `length(bin(gap)) − 1`.
  *
  * Seeded pairs mix tied starts, exact duplicates, overlapping and
  * back-to-back meetings, null starts or ends, gaps from seconds to
  * days, and many pairs per shuffle partition. Every output row and the
  * schema are compared.
  */
class ContactScanKernelSpec extends SparkSpec {
  import ContactScanKernelSpec._
  import spark.implicits._

  private val minute = 60000000L
  private val t0 = 1672560000000000L // 2023-01-01 08:00 UTC

  private def randomMeetings(rnd: Random, pairs: Int): Seq[Meeting] = {
    val out = Seq.newBuilder[Meeting]
    for (p <- 0 until pairs) {
      val (a, b) = (p.toLong / 5, 100L + p)
      var s = t0 + rnd.nextInt(2000) * minute
      for (_ <- 0 until 1 + rnd.nextInt(12)) {
        // zero steps tie starts; the rest span seconds to days
        s += Seq(0L, 1000000L, 59 * 1000000L, 30 * minute, 90 * minute, 119 * minute,
          5 * 60 * minute, 3 * 24 * 60 * minute)(rnd.nextInt(8)) + rnd.nextInt(3) * 500000L
        val f = s + Seq(0L, 1L, 1000000L, 40 * minute, 2 * 60 * minute, 6 * 60 * minute)(rnd.nextInt(6))
        val ms = if (rnd.nextInt(15) == 0) None else Some(s)
        val mf = if (rnd.nextInt(15) == 0) None else Some(f)
        out += Meeting(a, b, ms, mf)
        if (rnd.nextInt(10) == 0) out += Meeting(a, b, ms, mf) // exact duplicate
      }
    }
    out.result()
  }

  private def meetingsFrame(ms: Seq[Meeting]): DataFrame =
    ms.map(m => (m.a, m.b, m.s, m.f)).toDF("user_a", "user_b", "m_s_us", "m_f_us")

  private def checkConvoys(ms: Seq[Meeting], bandMinutes: Double, minConsecutive: Int): Unit = {
    val got = SpatialOps.convoyPairs(meetingsFrame(ms), bandMinutes, minConsecutive)
    assert(got.schema == StructType(Seq(
      StructField("user_a", LongType, nullable = false), StructField("user_b", LongType, nullable = false),
      StructField("run_start_band", LongType), StructField("n_bands", LongType))))
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = convoyOracle(ms, (bandMinutes * 60e6).toLong, minConsecutive)
    assert(rows.sorted == want.sorted)
  }

  private def checkInterContacts(ms: Seq[Meeting]): Unit = {
    val got = SpatialOps.interContactTimes(meetingsFrame(ms))
    assert(got.schema == StructType(Seq(
      StructField("bucket", LongType), StructField("n_gaps", LongType, nullable = false),
      StructField("sum_sec", LongType))))
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows.sorted == interContactOracle(ms).sorted)
  }

  for (seed <- 1 to 4) {
    test(s"convoy pairs equal the window formulation on random pairs (seed $seed)") {
      val ms = randomMeetings(new Random(seed), pairs = 40)
      val bands = Seq(120.0, 30.0, 60.0, 7.5)(seed - 1)
      val runs = convoyOracle(ms, (bands * 60e6).toLong, 1)
      // the data reaches the cases that matter: multi-band runs, and
      // pairs with more than one run
      assert(runs.exists(_._4 >= 2) && runs.groupBy(r => (r._1, r._2)).exists(_._2.size >= 2))
      for (k <- 1 to 3) checkConvoys(ms, bands, k)
    }

    test(s"inter-contact times equal the window formulation on random pairs (seed $seed)") {
      val ms = randomMeetings(new Random(seed), pairs = 40)
      assert(interContactOracle(ms).size >= 8)
      checkInterContacts(ms)
    }
  }

  test("convoy and inter-contact scans on a single pair and on an empty table") {
    val ms = randomMeetings(new Random(11), pairs = 1)
    checkConvoys(ms, 120.0, 1)
    checkInterContacts(ms)
    checkConvoys(Nil, 120.0, 2)
    checkInterContacts(Nil)
  }
}

object ContactScanKernelSpec {
  final case class Meeting(a: Long, b: Long, s: Option[Long], f: Option[Long])

  private def floorDiv(x: Long, by: Long): Long = math.floor(x.toDouble / by.toDouble).toLong

  /** The window formulation of `convoyPairs`, row by row. */
  def convoyOracle(ms: Seq[Meeting], bandUs: Long, minConsecutive: Int): Seq[(Long, Long, Long, Long)] =
    ms.groupBy(m => (m.a, m.b)).toSeq.flatMap { case ((a, b), rows) =>
      val ranges = rows.map { m =>
        // greatest(m_f - 1, m_s) skips a null argument
        val end = (m.f.map(_ - 1).toSeq ++ m.s.toSeq).reduceOption(_ max _)
        (m.s.map(floorDiv(_, bandUs)), end.map(floorDiv(_, bandUs)))
      }.sorted
      var pmax: Option[Long] = None
      var run = 0
      val keyed = ranges.map { case (bs, bf) =>
        val brk = pmax.isEmpty || bs.exists(_ > pmax.get + 1)
        if (brk) run += 1
        pmax = (pmax.toSeq ++ bf.toSeq).reduceOption(_ max _)
        run -> ((bs, bf))
      }
      keyed.groupBy(_._1).values.flatMap { members =>
        val starts = members.flatMap(_._2._1)
        val ends = members.flatMap(_._2._2)
        if (starts.isEmpty || ends.isEmpty) None
        else {
          val n = ends.max - starts.min + 1
          if (n >= minConsecutive) Some((a, b, starts.min, n)) else None
        }
      }
    }

  /** The window formulation of `interContactTimes`, row by row. */
  def interContactOracle(ms: Seq[Meeting]): Seq[(Long, Long, Long)] = {
    val gaps = ms.groupBy(m => (m.a, m.b)).values.toSeq.flatMap { rows =>
      val sorted = rows.map(m => (m.s, m.f)).sorted
      sorted.indices.drop(1).flatMap { i =>
        for {
          s <- sorted(i)._1
          pf <- sorted(i - 1)._2
          g = ((s - pf).toDouble / 1000000L.toDouble).toLong
          if g >= 1
        } yield g
      }
    }
    gaps.groupBy(g => 63L - java.lang.Long.numberOfLeadingZeros(g)).toSeq.map { case (bucket, gs) =>
      (bucket, gs.size.toLong, gs.sum)
    }
  }
}
