package graft.streaming

import graft.functions.GeoFunctions.quantizedCell
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming co-location (meeting) detection: the live form of
  * [[graft.operators.SpatialOps.colocationMeetings]] — two users'
  * staypoint intervals overlapping in time inside the same spatial grid
  * cell, detected as the stream arrives (the contact-tracing /
  * proximity-alert shape, where the batch answer a day later is too
  * late).
  *
  * The batch operator needs the (cell, time-band) trick because within
  * one cell the candidate volume grows with the whole table; a
  * watermarked stream-stream SELF-JOIN gets the same bound from time
  * itself — Catalyst's symmetric hash join keeps only the watermark
  * horizon of each side's intervals per cell, so the plain cell
  * equi-join is both correct and state-bounded. Same pairing rule as
  * batch (user_a < user_b, strict interval overlap), same meeting
  * window output.
  *
  * State boundedness: overlap alone bounds nothing — an interval could
  * match arbitrarily old rows. The declared maximum interval duration
  * closes both directions (overlap + duration cap ⟹ |a_s − b_s| <
  * maxDuration), written explicitly into the join condition so the
  * planner can derive state-eviction bounds for BOTH sides. Like
  * [[StreamingIntervalJoin]], the duration cap is a contract on the
  * input and therefore an explicit parameter.
  */
object StreamingColocation {

  /** @param intervals streaming (user_id, started_at/finished_at
    *                  timestamps, lon, lat), each interval no longer
    *                  than `maxDurationMinutes`
    * @return append stream (user_a, user_b, m_started_at,
    *         m_finished_at) — one row per co-located interval pair per
    *         shared cell, windows clipped to the overlap
    */
  def meetings(intervals: DataFrame, cellMicroDeg: Long = 10000L,
               maxDurationMinutes: Int = 480, watermarkMinutes: Int = 60): DataFrame = {
    require(cellMicroDeg > 0 && maxDurationMinutes > 0, "cell and duration must be positive")
    def side(p: String): DataFrame = intervals
      .select(col("user_id").as(s"${p}_user"),
        col("started_at").as(s"${p}_s"), col("finished_at").as(s"${p}_f"),
        quantizedCell(col("lon"), cellMicroDeg).as(s"${p}_cx"),
        quantizedCell(col("lat"), cellMicroDeg).as(s"${p}_cy"))
      .withWatermark(s"${p}_s", s"$watermarkMinutes minutes")
    // the join condition carries ONLY equi-keys and event-time ranges.
    // The pair-ordering rule (a_user < b_user) must genuinely stay OUT
    // of the join condition: StreamingJoinHelper walks every conjunct
    // when deriving state-eviction bounds and logs an INTERNAL_ERROR
    // stack trace per batch for any non-time conjunct (benign — the
    // time conjuncts still yield both sides' eviction bounds — but it
    // buries the log). A plain .filter does NOT suffice: Catalyst's
    // PushPredicateThroughJoin folds a deterministic post-join filter
    // straight back into the join condition. Marking the (perfectly
    // deterministic) comparison non-deterministic is the documented
    // optimizer barrier — non-deterministic predicates are never pushed
    // through joins, so the filter stays a post-join node, the helper
    // sees only time conjuncts, and the log stays clean.
    // StreamingColocationSpec still measures state eviction (≤4 rows).
    val userOrdered = udf((a: Long, b: Long) => a < b).asNondeterministic()
    side("a").join(side("b"),
        col("a_cx") === col("b_cx") && col("a_cy") === col("b_cy") &&
          col("a_s") < col("b_f") && col("b_s") < col("a_f") &&
          col("b_s") >= col("a_s") - expr(s"INTERVAL $maxDurationMinutes MINUTES") &&
          col("b_s") <= col("a_s") + expr(s"INTERVAL $maxDurationMinutes MINUTES"))
      .filter(userOrdered(col("a_user"), col("b_user")))
      .select(col("a_user").as("user_a"), col("b_user").as("user_b"),
        greatest(col("a_s"), col("b_s")).as("m_started_at"),
        least(col("a_f"), col("b_f")).as("m_finished_at"))
  }
}
