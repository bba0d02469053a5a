package graft.operators

import graft.model.Tables
import graft.util.{Ids, SortedScan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Trip generation: aggregate staypoints + triplegs into trips — movement
  * between two activity staypoints, split at temporal gaps.
  *
  * Reference: trackintel/preprocessing/triplegs.py:12-230 (generate_trips).
  * The reference interleaves both tables, flags trip starts with shift(),
  * assigns ids with arange+ffill, then re-sorts a union with synthetic
  * "gap"/"user_change" filler rows to pick origin/destination via shift.
  * Here all of that is one per-user [[SortedScan]] run over the
  * interleaved stream in (started_at, staypoint before tripleg, id)
  * order, the same shape as [[StaypointGenerator]]. Only each tripleg's
  * first and last point travel through the shuffle.
  *
  * Semantics:
  *  - a new trip starts at a user change, after the last staypoint of an
  *    activity run, or after a recording gap (> gapThreshold between one
  *    record's finish and the next one's start);
  *  - non-activity staypoints and triplegs are trip members; trips with
  *    no tripleg are dropped;
  *  - origin/destination staypoint ids come from the neighboring activity
  *    staypoints; trips bordering a gap or the tracking edge keep nulls;
  *  - trip geometry is (origin point, destination point), falling back to
  *    the first/last coordinate of the first/last member tripleg when the
  *    corresponding activity staypoint is unknown.
  * `is_activity` follows SQL three-valued logic: a null flag is neither a
  * member nor an activity, and an activity followed by one does not end
  * its run. Staypoint ids are unique, as the joins back to the inputs
  * require.
  */
object TripGenerator {

  /** @param sp staypoints with `is_activity` (see Labelling.createActivityFlag)
    * @param tpls triplegs
    * @param share applied to the scan output (which the id sort samples
    *        and then sorts) and to the id-assigned trip table (which all
    *        three outputs read) — pass a persist so the scan runs once.
    * @return (sp + [trip_id, prev_trip_id, next_trip_id], tpls + [trip_id], trips)
    */
  def generate(sp: DataFrame, tpls: DataFrame, gapThresholdMinutes: Double = 15.0,
               share: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame, DataFrame) = {
    Tables.staypoints.validate(sp)
    Tables.triplegs.validate(tpls)
    require(sp.columns.contains("is_activity"),
      "staypoints need the column 'is_activity' to be able to generate trips")

    val tripsNumbered = Ids.withSequentialId(share(scan(sp, tpls, gapThresholdMinutes)),
      "trip_id", col("user_id"), col("trip_key"))
    val trips = share(tripsNumbered.select(
      // the trips schema declares a nullable id
      ColumnShim.column(KnownNullable(ColumnShim.expression(col("trip_id")))).as("id"),
      col("user_id"),
      timestamp_micros(col("started_us")).as("started_at"),
      timestamp_micros(col("finished_us")).as("finished_at"),
      col("origin_staypoint_id"), col("destination_staypoint_id"), col("geom"),
      col("sp_ids").as("_sp_ids"), col("tpl_ids").as("_tpl_ids")))

    // --- propagate ids back to the inputs. An activity staypoint's
    // previous trip is the trip it is the destination of; its next trip
    // the one it is the origin of.
    val spMembership = trips.select(col("id").as("trip_id"), explode(col("_sp_ids")).as("_m_id"))
    val prevTrip = trips.select(col("destination_staypoint_id").as("_p_id"), col("id").as("prev_trip_id"))
    val nextTrip = trips.select(col("origin_staypoint_id").as("_n_id"), col("id").as("next_trip_id"))
    val spOut = sp
      .join(spMembership, sp("id") === spMembership("_m_id"), "left")
      .join(prevTrip, sp("id") === prevTrip("_p_id"), "left")
      .join(nextTrip, sp("id") === nextTrip("_n_id"), "left")
      .drop("_m_id", "_p_id", "_n_id")

    val tplMembership = trips.select(col("id").as("trip_id"), explode(col("_tpl_ids")).as("_m_id"))
    val tplsOut = tpls
      .join(tplMembership, tpls("id") === tplMembership("_m_id"), "left")
      .drop("_m_id")

    (spOut, tplsOut, trips.drop("_sp_ids", "_tpl_ids"))
  }

  /** The scan kernel: one row per trip with (user_id, trip_key,
    * started_us, finished_us, origin/destination_staypoint_id, geom,
    * sp_ids, tpl_ids), before ids. `trip_key` rises with time per user.
    */
  private[graft] def scan(sp: DataFrame, tpls: DataFrame, gapThresholdMinutes: Double): DataFrame = {
    val gapUs = (gapThresholdMinutes * 60e6).toLong
    val noPoint = lit(null).cast(Tables.point)
    val spPart = sp.select(
      col("user_id"), unix_micros(col("started_at")).as("s_us"), unix_micros(col("finished_at")).as("f_us"),
      lit(0).as("kind"), col("id").cast(LongType).as("rid"), col("is_activity").as("act"),
      struct(col("lon").cast(DoubleType).as("lon"), col("lat").cast(DoubleType).as("lat")).as("pt"),
      noPoint.as("first_pt"), noPoint.as("last_pt"))
    val tplPart = tpls.select(
      col("user_id"), unix_micros(col("started_at")).as("s_us"), unix_micros(col("finished_at")).as("f_us"),
      lit(1).as("kind"), col("id").cast(LongType).as("rid"), lit(false).as("act"), noPoint.as("pt"),
      element_at(col("points"), 1).cast(Tables.point).as("first_pt"),
      element_at(col("points"), -1).cast(Tables.point).as("last_pt"))
    val stream = spPart.unionByName(tplPart)

    // the trips schema declares nullable started_at/finished_at
    val ids = ArrayType(LongType, containsNull = false)
    val schema = StructType(Seq(
      stream.schema("user_id"),
      StructField("trip_key", LongType, nullable = false),
      StructField("started_us", LongType),
      StructField("finished_us", LongType),
      StructField("origin_staypoint_id", LongType),
      StructField("destination_staypoint_id", LongType),
      StructField("geom", StructType(Seq(
        StructField("origin", Tables.point), StructField("destination", Tables.point))), nullable = false),
      StructField("sp_ids", ids, nullable = false),
      StructField("tpl_ids", ids, nullable = false)))

    SortedScan(stream, Seq("user_id"), Seq("s_us", "kind", "rid"), schema)(tripScan(gapUs))
  }

  /** A trip being built: members in stream order, the latest finish, and
    * the endpoints of its first and last tripleg.
    */
  private final class OpenTrip(val key: Long, val startUs: Long) {
    var finishUs = Long.MinValue
    val spIds = mutable.ArrayBuffer.empty[Long]
    val tplIds = mutable.ArrayBuffer.empty[Long]
    var firstPt: Row = null
    var lastPt: Row = null
    var closed = false
    var before: Mark = null
  }

  /** One row of the origin/destination order: a trip (ord 0, at its
    * first member's start), an activity staypoint (1), a gap marker (2,
    * halfway into the gap) or the user-change marker (3, half a gap
    * before the user's first record). Ordered by (at, ord, id).
    */
  private final class Mark(val at: Long, val ord: Int, val id: Long, val pt: Row, val trip: OpenTrip)

  private def compare(a: Mark, b: Mark): Int = {
    val c = java.lang.Long.compare(a.at, b.at)
    if (c != 0) c
    else if (a.ord != b.ord) Integer.compare(a.ord, b.ord)
    else java.lang.Long.compare(a.id, b.id)
  }

  /** One user's (user_id, s_us, f_us, kind, rid, act, pt, first_pt,
    * last_pt) records in (s_us, kind, rid) order → its trips.
    *
    * Trip membership follows the record order directly. Origin and
    * destination are the neighbours of a trip in the mark order, which
    * differs from the record order at ties (a trip sorts before an
    * activity that starts at the same instant) and wherever a gap marker
    * falls. Marks wait in a small sorted buffer until no later record can
    * sort before them — every later mark is at or after the current
    * record's start, since records start in order and finish after they
    * start — and until the open trip, which may still be dropped, has
    * closed. A mark that would sort before one already passed (a record
    * finishing before it starts, or a negative gap threshold) is an
    * error, not a silent reorder. At the user's end every mark passes.
    */
  private def tripScan(gapUs: Long)(rows: Iterator[Row]): Iterator[Row] = {
    var first = true
    var user: Any = null
    var prevFinish = 0L
    var prevAct = 0 // is_activity of the previous record: 1 true, 0 false, -1 null
    var key = 0L
    var open: OpenTrip = null
    val pending = mutable.ArrayDeque.empty[Mark]
    var passed: Mark = null   // the last mark released
    var waiting: OpenTrip = null // a released trip waiting for the mark after it

    def insert(m: Mark): Unit = {
      if (passed != null && compare(m, passed) < 0)
        throw new IllegalStateException(
          s"trip stream out of order for user $user: a record finishes before it starts, " +
            "or the gap threshold is negative")
      var i = pending.length
      while (i > 0 && compare(pending(i - 1), m) > 0) i -= 1
      pending.insert(i, m)
    }

    def closeTrip(): Unit = if (open != null) {
      open.closed = true
      if (open.tplIds.isEmpty) pending.remove(pending.indexWhere(_.trip eq open))
      open = null
    }

    def newTrip(): Unit = { closeTrip(); key += 1 }

    def emit(t: OpenTrip, after: Mark): Row = {
      val origin: Any = if (t.before != null && t.before.ord == 1) t.before.id else null
      val dest: Any = if (after != null && after.ord == 1) after.id else null
      val originPt = if (origin == null) t.firstPt else t.before.pt
      val destPt = if (dest == null) t.lastPt else after.pt
      Row(user, t.key, t.startUs, t.finishUs, origin, dest, Row(originPt, destPt),
        t.spIds.toArray, t.tplIds.toArray)
    }

    /** Pass marks before `bound` (all when `bound` is None), stopping at
      * the open trip's mark; each passed mark completes the trip before it.
      */
    def release(bound: Option[Long]): mutable.ArrayBuffer[Row] = {
      val done = mutable.ArrayBuffer.empty[Row]
      while (pending.nonEmpty && bound.forall(pending.head.at < _) &&
             (pending.head.trip == null || pending.head.trip.closed)) {
        val m = pending.removeHead()
        if (waiting != null) { done += emit(waiting, m); waiting = null }
        if (m.trip != null) { m.trip.before = passed; waiting = m.trip }
        passed = m
      }
      done
    }

    def step(r: Row): mutable.ArrayBuffer[Row] = {
      if (r.isNullAt(1) || r.isNullAt(2) || r.isNullAt(4))
        throw new IllegalArgumentException("staypoints and triplegs need non-null id, started_at and finished_at")
      val s = r.getLong(1)
      val f = r.getLong(2)
      val id = r.getLong(4)
      val act = if (r.isNullAt(5)) -1 else if (r.getBoolean(5)) 1 else 0
      if (first) {
        first = false; user = r.get(0)
        newTrip()
        insert(new Mark(s - gapUs / 2, 3, 0L, null, null))
      } else {
        if (prevAct == 1 && act == 0) newTrip() // the previous record ended an activity run
        if (s - prevFinish > gapUs) {
          insert(new Mark(prevFinish + gapUs / 2, 2, 0L, null, null))
          newTrip()
        }
      }
      val done = release(Some(s))
      if (act == 1) insert(new Mark(s, 1, id, r.getStruct(6), null))
      else if (act == 0) {
        if (open == null) {
          open = new OpenTrip(key, s)
          insert(new Mark(s, 0, 0L, null, open))
        }
        open.finishUs = math.max(open.finishUs, f)
        if (r.getInt(3) == 0) open.spIds += id
        else {
          if (open.tplIds.isEmpty) open.firstPt = r.getStruct(7)
          open.tplIds += id
          open.lastPt = r.getStruct(8)
        }
      }
      prevFinish = f; prevAct = act
      done
    }

    def finish(): mutable.ArrayBuffer[Row] = {
      closeTrip()
      val done = release(None)
      if (waiting != null) done += emit(waiting, null)
      done
    }

    rows.flatMap(step) ++ finish()
  }
}
