package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** Randomized equivalence of [[StaypointMerger.mergeStaypoints]] against a
  * driver-side transcription of its window formulation: a `lead` over the
  * staypoint ∪ tripleg stream per user, ordered by (started_at,
  * staypoint < tripleg, id), marks the staypoints a tripleg follows; then
  * per user, in (started_at, id) order, a staypoint continues its
  * predecessor's run iff `started_at − previous finished_at <= gap`, the
  * locations are equal (SQL `=`, so a null never matches) and no tripleg
  * followed the predecessor; the run key is the running count of
  * non-continuing rows, and each run aggregates with the row-position
  * `first`/`last` (by (started_at, id), nulls first) and the `aggExtra`
  * reductions.
  *
  * Seeded users mix tied `started_at`, null `started_at`/`finished_at`/
  * `location_id`, overlapping staypoints, triplegs interleaved with or
  * tied to a staypoint's `started_at` (and some with a null one), a null
  * `user_id` group, and many users per shuffle partition. Every output
  * row, every column and the schema are compared.
  */
class StaypointMergeKernelSpec extends SparkSpec {
  import StaypointMergeKernelSpec._
  import spark.implicits._

  private val gapMin = 10.0
  private val gapUs = (gapMin * 60e6).toLong
  private val minute = 60000000L
  private val t0 = 1672560000000000L // 2023-01-01 08:00 UTC

  private def randomInput(rnd: Random, users: Int): (Seq[Sp], Seq[Tp]) = {
    val sps = Seq.newBuilder[Sp]; val tps = Seq.newBuilder[Tp]
    // the two id spaces overlap on purpose: the tables are independent
    val spIds = rnd.shuffle((0L until users * 20L).toVector).iterator
    val tpIds = rnd.shuffle((0L until users * 20L).toVector).iterator
    for (u <- 0 until users) {
      val user = if (u == 0) None else Some(u.toLong)
      var t = t0 + rnd.nextInt(1000) * minute
      var prevS: Option[Long] = None
      for (_ <- 0 until 1 + rnd.nextInt(14)) {
        // zero steps tie started_at; 10 min is the gap's inclusive edge
        t += Seq(0L, 1L, 5L, 10L, 11L, 60L)(rnd.nextInt(6)) * minute
        val s = if (rnd.nextInt(12) == 0) None else Some(t)
        val f = if (rnd.nextInt(12) == 0) None else Some(t + Seq(0L, 2L, 10L, 30L)(rnd.nextInt(4)) * minute)
        val loc = if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(2).toLong)
        val v = if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(50).toLong)
        sps += Sp(spIds.next(), user, s, f, loc, v, ('a' + rnd.nextInt(4)).toChar.toString)
        // a tripleg tied to this staypoint's start, to the previous one's,
        // strictly between two staypoints, or with a null start
        if (rnd.nextInt(4) == 0) {
          val at = rnd.nextInt(4) match {
            case 0 => s
            case 1 => prevS
            case 2 => Some(t + minute / 2)
            case _ => None
          }
          tps += Tp(tpIds.next(), user, at)
        }
        prevS = s
      }
    }
    (sps.result(), tps.result())
  }

  private def spFrame(sps: Seq[Sp]): DataFrame =
    sps.map(p => (p.id, p.user, p.s, p.f, p.loc, p.v, p.name))
      .toDF("id", "user_id", "s", "f", "location_id", "v", "name")
      .select(col("id"), col("user_id"), timestamp_micros(col("s")).as("started_at"),
        timestamp_micros(col("f")).as("finished_at"), col("location_id"), col("v"), col("name"))

  private def tplFrame(tps: Seq[Tp]): DataFrame =
    tps.map(p => (p.id, p.user, p.s)).toDF("id", "user_id", "s")
      .select(col("id"), col("user_id"), timestamp_micros(col("s")).as("started_at"),
        lit("x").as("mode"))

  /** A cell as the oracle writes it: timestamps as epoch micros. */
  private def cell(v: Any): Any = v match {
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000
    case other => other
  }

  private def check(sps: Seq[Sp], tps: Seq[Tp], aggExtra: Map[String, String]): Unit = {
    val got = StaypointMerger.mergeStaypoints(spFrame(sps), tplFrame(tps), gapMin, aggExtra)
    val want = mergeOracle(sps, tps, gapUs, aggExtra)

    val src = spFrame(sps).schema
    val extra = aggExtra.keys.filterNot(baseCols.toSet).toSeq
    assert(got.schema == StructType((baseCols ++ extra).map { c =>
      aggExtra.getOrElse(c, baseDefaults(c)) match {
        case "mean" => StructField(c, DoubleType)
        case "sum" => StructField(c, LongType)
        case "count" => StructField(c, LongType, nullable = false)
        case _ => StructField(c, src(c).dataType)
      }
    }))

    val rows = got.collect().map(r => got.columns.map(c => c -> cell(r.get(r.fieldIndex(c)))).toMap)
    assert(rows.length == want.length)
    assert(rows.toSet == want.toSet)
  }

  private val extras = Seq(
    Map.empty[String, String],
    Map("finished_at" -> "first", "v" -> "sum", "name" -> "max"),
    Map("user_id" -> "last", "id" -> "last", "started_at" -> "last", "location_id" -> "max",
      "v" -> "mean", "name" -> "first"),
    Map("v" -> "count", "name" -> "min", "finished_at" -> "min"),
    Map("v" -> "max", "name" -> "last", "location_id" -> "min"))

  for (seed <- 1 to 5) {
    test(s"merge equals the window formulation on random users (seed $seed)") {
      val (sps, tps) = randomInput(new Random(seed), users = 24)
      val want = mergeOracle(sps, tps, gapUs, Map.empty)
      // the data reaches the cases that matter: runs merge, triplegs split
      // runs, and null starts/locations occur
      assert(want.length < sps.length)
      assert(mergeOracle(sps, Nil, gapUs, Map.empty).length < want.length)
      assert(sps.exists(_.s.isEmpty) && sps.exists(_.loc.isEmpty) && tps.exists(_.s.isEmpty))
      check(sps, tps, extras((seed - 1) % extras.length))
    }
  }

  test("merge with no triplegs and a single user equals the window formulation") {
    val (sps, _) = randomInput(new Random(7), users = 2)
    for (aggExtra <- extras) check(sps.filter(_.user.contains(1L)), Nil, aggExtra)
  }
}

object StaypointMergeKernelSpec {
  final case class Sp(id: Long, user: Option[Long], s: Option[Long], f: Option[Long],
                      loc: Option[Long], v: Option[Long], name: String)
  final case class Tp(id: Long, user: Option[Long], s: Option[Long])

  val baseCols: Seq[String] = Seq("id", "user_id", "started_at", "finished_at", "location_id")
  val baseDefaults: Map[String, String] = Map(
    "user_id" -> "first", "id" -> "first", "started_at" -> "first",
    "finished_at" -> "last", "location_id" -> "first")

  private def field(p: Sp, c: String): Option[Any] = c match {
    case "id" => Some(p.id)
    case "user_id" => p.user
    case "started_at" => p.s
    case "finished_at" => p.f
    case "location_id" => p.loc
    case "v" => p.v
    case "name" => Some(p.name)
  }

  private def reduce(run: Seq[Sp], c: String, how: String): Any = {
    val vs = run.flatMap(field(_, c))
    def ord(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: String, y: String) => x < y
      case _ => sys.error(s"no order for $a, $b")
    }
    how match {
      case "first" => field(run.head, c).orNull
      case "last" => field(run.last, c).orNull
      case "count" => vs.size.toLong
      case _ if vs.isEmpty => null
      case "sum" => vs.map(_.asInstanceOf[Long]).sum
      case "mean" => vs.map(_.asInstanceOf[Long]).sum.toDouble / vs.size
      case "min" => vs.reduce((a, b) => if (ord(b, a)) b else a)
      case "max" => vs.reduce((a, b) => if (ord(a, b)) b else a)
    }
  }

  /** The window formulation, row by row (see the class doc). */
  def mergeOracle(sps: Seq[Sp], tps: Seq[Tp], gapUs: Long,
                  aggExtra: Map[String, String]): Seq[Map[String, Any]] = {
    val users = (sps.map(_.user) ++ tps.map(_.user)).distinct
    users.flatMap { u =>
      // lead over the union: which staypoints a tripleg follows
      val stream = sps.filter(_.user == u).map(p => (p.s, 0, p.id)) ++
        tps.filter(_.user == u).map(p => (p.s, 1, p.id))
      val sorted = stream.sortBy(r => (r._1, r._2, r._3)).toVector
      val tplNext = sorted.indices.collect {
        case i if sorted(i)._2 == 0 && i + 1 < sorted.size && sorted(i + 1)._2 == 1 => sorted(i)._3
      }.toSet
      // run keys in (started_at, id) order
      val ordered = sps.filter(_.user == u).sortBy(p => (p.s, p.id))
      var run = 0
      val keyed = ordered.indices.map { i =>
        val p = ordered(i)
        val continues = i > 0 && {
          val q = ordered(i - 1)
          p.s.isDefined && q.f.isDefined && p.s.get - q.f.get <= gapUs &&
            p.loc.isDefined && p.loc == q.loc && !tplNext(q.id)
        }
        if (!continues) run += 1
        run -> p
      }
      val cols = baseCols ++ aggExtra.keys.filterNot(baseCols.toSet)
      keyed.groupBy(_._1).values.map { members =>
        val runRows = members.map(_._2).sortBy(p => (p.s, p.id))
        cols.map(c => c -> reduce(runRows, c, aggExtra.getOrElse(c, baseDefaults.getOrElse(c, "first")))).toMap
      }
    }
  }
}
