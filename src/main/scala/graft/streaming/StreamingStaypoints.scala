package graft.streaming

import graft.functions.GeoFunctions
import graft.operators.StaypointGenerator
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming staypoint detection: the Li et al. sliding scan
  * from [[graft.operators.StaypointGenerator]] re-expressed as
  * per-user keyed state over an unbounded positionfix stream.
  *
  * The reference is batch-only (SURVEY.md §1.4); this is the engine's
  * stream-native extension. State per user is the same bounded candidate
  * buffer as the batch scan (fixes since the current anchor), so state
  * size tracks staypoint length, not stream length. An idle-processing-
  * timeout flushes the tail like the batch `includeLast`.
  *
  * Caveat: `flatMapGroupsWithState` delivers each micro-batch's rows
  * without a global time sort; fixes are buffered per batch and sorted
  * before the scan, so per-user order holds if a user's fixes arrive
  * in-order across batches (standard device-stream assumption; late data
  * beyond that needs an upstream watermark sort).
  */
object StreamingStaypoints {

  final case class Fix(userId: Long, id: Long, tUs: Long, lon: Double, lat: Double)
  final case class Candidate(ids: List[Long], lons: List[Double], lats: List[Double],
                             anchorTs: Long, prevTs: Long)
  final case class Staypoint(user_id: Long, started_us: Long, finished_us: Long,
                             lon: Double, lat: Double, n_pfs: Int)

  /** @param idleFlushMinutes when > 0, an idle processing-time timeout
    *        flushes a user's tail candidate like batch `includeLast`.
    *        Note: processing-time timeouts keep the query permanently
    *        "busy" (timeout batches), which breaks processAllAvailable-
    *        style draining in tests — hence off by default.
    */
  final case class Params(distThresholdMeters: Double = 100.0,
                          timeThresholdMinutes: Double = 5.0,
                          gapThresholdMinutes: Double = 15.0,
                          idleFlushMinutes: Double = 0.0)

  /** @param pfsStream streaming DataFrame with (id, user_id, tracked_at, lon, lat)
    * @return streaming Dataset of detected staypoints (append-style)
    */
  def detect(pfsStream: DataFrame, params: Params = Params()): Dataset[Staypoint] = {
    val spark = pfsStream.sparkSession
    import spark.implicits._

    val gapUs = (params.gapThresholdMinutes * 60e6).toLong
    val timeUs = (params.timeThresholdMinutes * 60e6).toLong
    val distM = params.distThresholdMeters
    val idleMs = (params.idleFlushMinutes * 60e3).toLong
    val timeoutConf =
      if (idleMs > 0) GroupStateTimeout.ProcessingTimeTimeout() else GroupStateTimeout.NoTimeout()

    val fixes = pfsStream.select(
      col("user_id").cast("long"), col("id").cast("long"),
      unix_micros(col("tracked_at")).as("t_us"),
      col("lon").cast("double"), col("lat").cast("double"))
      .as[(Long, Long, Long, Double, Double)]
      .map { case (u, i, t, lo, la) => Fix(u, i, t, lo, la) }

    fixes
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(
        (userId: Long, batch: Iterator[Fix], state: GroupState[Candidate]) => {
          val out = scala.collection.mutable.ArrayBuffer.empty[Staypoint]

          def emit(c: Candidate, finishedTs: Long): Unit = {
            val (cl, cla) = StaypointGenerator.centroid(c.lons, c.lats, planar = false)
            out += Staypoint(userId, c.anchorTs, finishedTs, cl, cla, c.ids.length)
          }

          if (state.hasTimedOut) {
            // idle user: flush the tail like batch includeLast
            state.getOption.foreach { c =>
              if (c.prevTs - c.anchorTs >= timeUs) emit(c, c.prevTs)
            }
            state.remove()
          } else {
            var cur = state.getOption.orNull
            for (f <- batch.toSeq.sortBy(p => (p.tUs, p.id))) {
              if (cur == null) {
                cur = Candidate(List(f.id), List(f.lon), List(f.lat), f.tUs, f.tUs)
              } else if (f.tUs - cur.prevTs > gapUs) {
                cur = Candidate(List(f.id), List(f.lon), List(f.lat), f.tUs, f.tUs) // gap: discard
              } else {
                val d = GeoFunctions.haversineMeters(cur.lons.head, cur.lats.head, f.lon, f.lat)
                if (d >= distM) {
                  if (f.tUs - cur.anchorTs >= timeUs) emit(cur, f.tUs)
                  cur = Candidate(List(f.id), List(f.lon), List(f.lat), f.tUs, f.tUs)
                } else {
                  cur = cur.copy(ids = cur.ids :+ f.id, lons = cur.lons :+ f.lon,
                    lats = cur.lats :+ f.lat, prevTs = f.tUs)
                }
              }
            }
            if (cur != null) {
              state.update(cur)
              if (idleMs > 0) state.setTimeoutDuration(idleMs)
            }
          }
          out.iterator
        })
  }
}
