package graft.plans

import graft.SparkSpec
import graft.operators.CorpusOps
import graft.sources.Storage
import org.apache.spark.sql.functions._

/** Storage-layout composition at 100 TB: id-keyed joins (corpusDiff,
  * enrichment joins) go shuffle-free when both sides are bucketed on the
  * id — the layout a production corpus store would use. This pins that
  * the operators' plain equi-joins actually pick up bucketed scans (no
  * Exchange on either side), i.e. the engine composes with the layout
  * instead of fighting it.
  */
class BucketedJoinSpec extends SparkSpec {
  import spark.implicits._

  test("corpusDiff over snapshots bucketed by doc_id runs with zero exchanges") {
    // saveAsTable writes under the session's warehouse dir (./spark-warehouse
    // in tests — gitignored); tables are dropped in finally
    val old = (0L until 200L).map(i => (i, s"doc $i body")).toDF("doc_id", "text")
    val next = (0L until 200L).filter(_ % 7 != 0)
      .map(i => (i, if (i % 5 == 0) s"doc $i body v2" else s"doc $i body")).toDF("doc_id", "text")
    old.write.mode("overwrite").bucketBy(8, "doc_id").saveAsTable("snap_old")
    next.write.mode("overwrite").bucketBy(8, "doc_id").saveAsTable("snap_new")
    try {
      val diff = CorpusOps.corpusDiff(spark.table("snap_old"), spark.table("snap_new"))
      val plan = diff.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed-by-id snapshots must join without a shuffle:\n$plan")
      val statuses = diff.groupBy(col("status")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(statuses("removed") == 29L) // ids % 7 == 0 among 0..199
      assert(statuses("changed") == 34L) // % 5 == 0 survivors: 40 - 6 multiples of 35
      assert(statuses.getOrElse("added", 0L) == 0L)
      assert(statuses("same") == 200L - 29L - 34L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS snap_old")
      spark.sql("DROP TABLE IF EXISTS snap_new")
    }
  }

  test("id-keyed enrichment join over one bucketed side shuffles only the other") {
    (0L until 100L).map(i => (i, s"text $i")).toDF("doc_id", "text")
      .write.mode("overwrite").bucketBy(8, "doc_id").saveAsTable("docs_b")
    try {
      val meta = (0L until 100L).map(i => (i, i % 5)).toDF("doc_id", "grp")
      val joined = spark.table("docs_b").join(meta, Seq("doc_id"))
      val plan = joined.queryExecution.executedPlan.toString
      // the bucketed side must NOT re-shuffle; the plain side may
      val exchanges = plan.split("\n").count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"bucketed side re-shuffled:\n$plan")
      assert(joined.count() == 100L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS docs_b")
    }
  }

  test("staypoints written by Storage.writeUserBucketed group by user_id with zero exchanges") {
    val sp = (0L until 60L).map(i =>
        (i, i % 6, ts("2023-01-01 08:00:00"), ts("2023-01-01 09:00:00"), 8.5 + i * 1e-3, 47.3))
      .toDF("id", "user_id", "started_at", "finished_at", "lon", "lat")
    Storage.writeUserBucketed(sp, "sp_bucketed", buckets = 4)
    try {
      val perUser = spark.table("sp_bucketed").groupBy(col("user_id")).count()
      val plan = perUser.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"user-bucketed staypoints must group without a shuffle:\n$plan")
      assert(perUser.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        (0L until 6L).map(_ -> 10L).toMap)
    } finally {
      spark.sql("DROP TABLE IF EXISTS sp_bucketed")
    }
  }
}
