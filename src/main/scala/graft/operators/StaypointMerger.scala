package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, EqualNullSafe, EqualTo, Expression,
  GenericInternalRow, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnShim
import org.apache.spark.sql.types.{DataType, LongType}

/** Merge temporally-close staypoints at the same location, unless a
  * tripleg lies between them.
  *
  * Reference: trackintel/preprocessing/staypoints.py:250-370. The
  * reference runs a while-changed label-propagation loop; merging is
  * transitive only over *consecutive* rows, which is exactly
  * run-grouping (see SURVEY.md §4, an algorithmic improvement over the
  * reference) — so the loop collapses into one sorted pass per user:
  * hash-partition the staypoint ∪ tripleg stream by `user_id`, sort each
  * partition by (user_id, started_at, staypoint before tripleg, id), and
  * number the runs in one scan ([[MergeRunKey]]). The run aggregate
  * reuses that partitioning: one shuffle, no window, no join.
  *
  * Semantics: per user, in (started_at, id) order (nulls first), a
  * staypoint continues its predecessor's run iff `started_at − previous
  * finished_at <= gap`, the locations are equal (SQL `=`: a null never
  * matches), and no tripleg sorts between the two. Staypoint ids are
  * unique and non-null; a null id throws.
  */
object StaypointMerger {

  /** @param sp staypoints with `location_id`
    * @param tpls triplegs (pass an empty frame to allow merging across triplegs)
    * @param aggExtra extra output columns: name → "first" | "last" |
    *        "mean" | "sum" | "min" | "max" | "count" — the engine twin of
    *        the reference's pandas agg dict (staypoints.py:346-358),
    *        which forwards to DataFrame.agg
    */
  def mergeStaypoints(sp: DataFrame, tpls: DataFrame, maxTimeGapMinutes: Double = 10.0,
                      aggExtra: Map[String, String] = Map.empty): DataFrame = {
    require(sp.columns.contains("location_id"), "staypoints must contain column location_id")
    val gapUs = (maxTimeGapMinutes * 60e6).toLong

    // The staypoints carry every column (the aggregate reads them); a
    // tripleg row only marks its place in the user's stream.
    val spCols = sp.schema.fields.toSeq
    val keep = Set("id", "user_id", "started_at")
    val stream = sp.withColumn("_tpl", lit(false)).unionByName(
      tpls.select(spCols.map(f =>
        (if (keep(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)) :+
        lit(true).as("_tpl"): _*))
    def e(c: Column): Expression = ColumnShim.expression(c)
    val runKey = ColumnShim.column(MergeRunKey(e(col("user_id")), e(unix_micros(col("started_at"))),
      e(unix_micros(col("finished_at"))), e(col("location_id")), e(col("_tpl")), e(col("id")), gapUs))
    val runs = stream
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("started_at"), col("_tpl"), col("id"))
      .withColumn("_run", runKey)
      .filter(!col("_tpl"))

    // "first"/"last" are row-position semantics in the reference's
    // time-ordered frame — made deterministic here with min_by/max_by on
    // the (started_at, id) sort key.
    val rowKey = struct(col("started_at"), col("id"))
    def firstBy(c: Column): Column = min_by(c, rowKey)
    def lastBy(c: Column): Column = max_by(c, rowKey)

    // Base columns carry default aggregations, but — as in the reference,
    // where the user agg dict is merged over the defaults
    // (staypoints.py:346-358) — an aggExtra entry for a base column
    // overrides it (e.g. finished_at -> "first"). user_id is one of the
    // reference's defaults too (staypoints.py:349): grouping happens on a
    // hidden copy so an override aggregates the column instead of
    // colliding with the grouping key.
    val baseDefaults = Seq(
      "user_id" -> "first", "id" -> "first", "started_at" -> "first",
      "finished_at" -> "last", "location_id" -> "first")
    val baseNames = baseDefaults.map(_._1).toSet
    val resolved: Seq[(String, String)] =
      baseDefaults.map { case (c, d) => c -> aggExtra.getOrElse(c, d) } ++
        aggExtra.toSeq.filterNot { case (c, _) => baseNames(c) }
    val aggs: Seq[Column] = resolved.map {
      case (c, "first") => firstBy(col(c)).as(c)
      case (c, "last")  => lastBy(col(c)).as(c)
      case (c, "mean")  => avg(col(c)).as(c)
      case (c, "sum")   => sum(col(c)).as(c)
      case (c, "min")   => min(col(c)).as(c)
      case (c, "max")   => max(col(c)).as(c)
      case (c, "count") => count(col(c)).as(c)
      case (c, how) => throw new IllegalArgumentException(
        s"agg '$how' for $c not supported (first/last/mean/sum/min/max/count)")
    }

    val outCols = Seq("id", "user_id", "started_at", "finished_at", "location_id") ++
      aggExtra.keys.filterNot(baseNames)
    runs.withColumn("_uid", col("user_id"))
      .groupBy(col("_uid"), col("_run"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("_uid", "_run")
      .select(outCols.map(col): _*)
  }
}

/** The merge scan: evaluated row by row over a partition sorted by
  * (user, started_at, staypoint before tripleg, id), it returns the key
  * of the run each staypoint belongs to (tripleg rows get the current
  * key; the merge drops them). A staypoint opens a new run unless the
  * previous staypoint of the same user finished at most `gapUs` before
  * it started, both locations are non-null and equal (Spark's `=`), and
  * no tripleg row came between them. Keys are unique within the
  * partition, so (user, key) names a run.
  *
  * It is an expression in the sorted stage rather than a `mapPartitions`
  * because a typed map re-serializes its rows under new attributes:
  * Spark then no longer knows the rows are hash-partitioned by user and
  * shuffles again for the run aggregate. As a projection it keeps the
  * partitioning, and `Nondeterministic` keeps the optimizer from moving
  * it or the tripleg filter across the sort.
  */
private[operators] case class MergeRunKey(user: Expression, startUs: Expression, finishUs: Expression,
                                          location: Expression, isTripleg: Expression, id: Expression,
                                          gapUs: Long)
    extends Expression with Nondeterministic with CodegenFallback {

  override def children: Seq[Expression] = Seq(user, startUs, finishUs, location, isTripleg, id)
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "merge_run_key"

  private def equality(dt: DataType, nullSafe: Boolean): Expression = {
    val (a, b) = (BoundReference(0, dt, nullable = true), BoundReference(1, dt, nullable = true))
    if (nullSafe) EqualNullSafe(a, b) else EqualTo(a, b)
  }
  @transient private lazy val sameUser = equality(user.dataType, nullSafe = true)
  @transient private lazy val sameLocation = equality(location.dataType, nullSafe = false)
  private def holds(eq: Expression, a: Any, b: Any): Boolean =
    eq.eval(new GenericInternalRow(Array[Any](a, b))) == true

  @transient private var key = 0L
  @transient private var seen = false
  @transient private var prevUser: Any = null
  // the previous staypoint of the current user, if any
  @transient private var prevSp = false
  @transient private var prevFinish: Any = null
  @transient private var prevLocation: Any = null
  @transient private var tplSince = false

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    key = 0L; seen = false; prevUser = null; prevSp = false
  }

  override protected def evalInternal(input: InternalRow): Any = {
    val u = user.eval(input)
    if (!seen || !holds(sameUser, prevUser, u)) {
      seen = true; prevUser = InternalRow.copyValue(u); prevSp = false
    }
    if (isTripleg.eval(input) == true) {
      tplSince = true
    } else {
      if (id.eval(input) == null) throw new IllegalArgumentException("staypoints.id must not be null")
      val s = startUs.eval(input)
      val loc = location.eval(input)
      val continues = prevSp && !tplSince && s != null && prevFinish != null &&
        s.asInstanceOf[Long] - prevFinish.asInstanceOf[Long] <= gapUs &&
        loc != null && prevLocation != null && holds(sameLocation, prevLocation, loc)
      if (!continues) key += 1
      prevSp = true; tplSince = false
      prevFinish = finishUs.eval(input)
      prevLocation = InternalRow.copyValue(loc)
    }
    key
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(user = c(0), startUs = c(1), finishUs = c(2), location = c(3), isTripleg = c(4), id = c(5))
}
