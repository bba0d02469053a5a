package graft.util

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The sorted-scan contract every per-key kernel relies on: one call of
  * the scan per run of equal key (composite, non-leading and null keys
  * included), rows in `order` within a run, nothing of one run visible
  * to the next however much of it the scan reads, empty partitions
  * harmless, and the scan's own output order kept.
  */
class SortedScanSpec extends SparkSpec {
  import SortedScanSpec.collectRuns

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // (id, a, b, t): ids 0..n-1, keys from small domains, t shuffled
  private val abSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("a", LongType),
    StructField("b", StringType), StructField("t", LongType, nullable = false)))

  private val abRows: Seq[Row] = {
    val rnd = new scala.util.Random(5)
    (0 until 400).map { i =>
      val a: Any = if (rnd.nextInt(10) == 0) null else rnd.nextInt(7).toLong
      val b: Any = if (rnd.nextInt(10) == 0) null else s"b${rnd.nextInt(3)}"
      Row(i.toLong, a, b, rnd.nextInt(1000).toLong)
    }
  }

  /** Expected runs: rows grouped by key, each in (t, id) order. */
  private def expectedRuns(key: Row => Seq[Any]): Map[Seq[Any], Seq[Long]] =
    abRows.groupBy(key).map { case (k, rs) =>
      k -> rs.sortBy(r => (r.getLong(3), r.getLong(0))).map(_.getLong(0))
    }

  private val runSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType),
    StructField("ids", ArrayType(LongType, containsNull = false), nullable = false)))

  test("composite keys with nulls: one scan call per (a, b) run, rows in order within it") {
    withConf("spark.sql.shuffle.partitions" -> "3") {
      val out = SortedScan(frame(abSchema, abRows), Seq("a", "b"), Seq("t", "id"), runSchema)(collectRuns)
      assert(out.schema == runSchema)
      val got = out.collect().map(r => Seq(r.get(0), r.get(1)) -> r.getSeq[Long](2)).toSeq
      assert(got.map(_._1).distinct.length == got.length, "a key split over two scan calls")
      assert(got.toMap == expectedRuns(r => Seq(r.get(1), r.get(2))))
      assert(got.exists { case (k, _) => k.contains(null) }, "the case must hold null keys")
    }
  }

  test("null keys form one run") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("t", LongType, nullable = false)))
    val rows = Seq(Row(null, 3L), Row(1L, 1L), Row(null, 1L), Row(null, 2L), Row(1L, 0L))
    val outSchema = StructType(Seq(StructField("k", LongType), StructField("n", LongType, nullable = false)))
    val out = SortedScan(frame(schema, rows), Seq("k"), Seq("t"), outSchema) { run =>
      val rs = run.toVector
      Iterator.single(Row(rs.head.get(0), rs.length.toLong))
    }
    assert(out.collect().map(r => (Option(r.get(0)), r.getLong(1))).toSet == Set((None, 3L), (Some(1L), 2L)))
  }

  test("key columns that are not the leading columns (datasetDbscan's _gx, _gy)") {
    val schema = StructType(Seq(
      StructField("sp_id", LongType, nullable = false), StructField("v", DoubleType, nullable = false),
      StructField("_gx", LongType, nullable = false), StructField("_gy", LongType, nullable = false)))
    val rows = for (id <- 0L until 60L) yield Row(id, id * 0.5, id % 3, (id / 3) % 2)
    val outSchema = StructType(Seq(
      StructField("cell", StringType, nullable = false), StructField("first", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    val out = SortedScan(frame(schema, rows), Seq("_gx", "_gy"), Seq("sp_id"), outSchema) { run =>
      val rs = run.toVector
      Iterator.single(Row(s"${rs.head.getLong(2)}:${rs.head.getLong(3)}", rs.head.getLong(0), rs.length.toLong))
    }
    val got = out.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = rows.groupBy(r => s"${r.getLong(2)}:${r.getLong(3)}")
      .map { case (c, rs) => c -> (rs.map(_.getLong(0)).min, rs.length.toLong) }
    assert(got == want)
  }

  test("a scan that reads none or part of its run: the rest is skipped, never seen by the next run") {
    withConf("spark.sql.shuffle.partitions" -> "2") {
      val df = frame(abSchema, abRows)
      val want = expectedRuns(r => Seq(r.get(1), r.get(2)))
      // part: the first two rows of each run
      val part = SortedScan(df, Seq("a", "b"), Seq("t", "id"), runSchema) { run =>
        val firstTwo = run.take(2).toVector
        Iterator.single(Row(firstTwo.head.get(1), firstTwo.head.get(2), firstTwo.map(_.getLong(0)).toArray))
      }
      val got = part.collect().map(r => Seq(r.get(0), r.get(1)) -> r.getSeq[Long](2)).toSeq
      assert(got.length == want.size, "unread rows must not start a run of their own")
      assert(got.toMap == want.map { case (k, ids) => k -> ids.take(2) })
      // none: one marker per run, no row read
      val markerSchema = StructType(Seq(StructField("m", LongType, nullable = false)))
      val none = SortedScan(df, Seq("a", "b"), Seq("t", "id"), markerSchema)(_ => Iterator.single(Row(1L)))
      assert(none.count() == want.size)
    }
  }

  test("empty partitions and an empty input") {
    withConf("spark.sql.shuffle.partitions" -> "16", "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val few = abRows.filter(r => r.get(1) == 1L && r.get(2) != null)
      val out = SortedScan(frame(abSchema, few), Seq("a", "b"), Seq("t", "id"), runSchema)(collectRuns)
      assert(out.rdd.getNumPartitions == 16)
      val got = out.collect().map(r => Seq(r.get(0), r.get(1)) -> r.getSeq[Long](2)).toMap
      assert(got.nonEmpty && got == expectedRuns(r => Seq(r.get(1), r.get(2))).filter(_._1.head == 1L)
        .filter(_._1(1) != null))
      val empty = SortedScan(frame(abSchema, Nil), Seq("a", "b"), Seq("t", "id"), runSchema)(collectRuns)
      assert(empty.collect().isEmpty)
    }
  }

  test("within a run, output rows keep the scan's own order") {
    withConf("spark.sql.shuffle.partitions" -> "3") {
      val outSchema = StructType(Seq(
        StructField("a", LongType), StructField("b", StringType), StructField("id", LongType, nullable = false)))
      // each run emitted newest first, and one extra row per run at its end
      val out = SortedScan(frame(abSchema, abRows), Seq("a", "b"), Seq("t", "id"), outSchema) { run =>
        val rs = run.toVector
        rs.reverseIterator.map(r => Row(r.get(1), r.get(2), r.getLong(0))) ++
          Iterator.single(Row(rs.head.get(1), rs.head.get(2), -1L))
      }
      val byKey = out.collect().toSeq.groupBy(r => Seq(r.get(0), r.get(1))).map { case (k, rs) => k -> rs.map(_.getLong(2)) }
      assert(byKey == expectedRuns(r => Seq(r.get(1), r.get(2))).map { case (k, ids) => k -> (ids.reverse :+ -1L) })
    }
  }
}

object SortedScanSpec {
  /** One output row per run: its key and its ids in scan order (a
    * top-level function, so the scan closure does not capture the suite).
    */
  def collectRuns(rows: Iterator[Row]): Iterator[Row] = {
    val run = rows.toVector
    Iterator.single(Row(run.head.get(1), run.head.get(2), run.map(_.getLong(0)).toArray))
  }
}
