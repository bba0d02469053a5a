package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical storage layout for the engine at scale (SURVEY.md §4):
  * parquet bucketed by `user_id`. Every preprocessing operator shuffles
  * on `user_id`; reading a user-bucketed table lets Catalyst skip that
  * shuffle entirely (bucket join / bucket-preserving aggregation), which
  * at 100 TB is the difference between one wide shuffle per stage and
  * none.
  */
object Storage {

  /** Write a domain table bucketed by user_id (saveAsTable — bucketing
    * metadata needs the catalog; read it back with `spark.table`, and a
    * `groupBy(user_id)` over it plans with no Exchange).
    */
  def writeUserBucketed(df: DataFrame, tableName: String, buckets: Int = 256,
                        sortCols: Seq[String] = Seq("user_id")): Unit =
    df.write
      .format("parquet")
      .bucketBy(buckets, "user_id")
      .sortBy(sortCols.head, sortCols.tail: _*)
      .mode("overwrite")
      .saveAsTable(tableName)

  /** Write an event-grain table hive-partitioned by UTC day (derived
    * from the micro-second epoch column). Day partitioning is the other
    * half of the §4 layout: time-ranged queries — the dominant access
    * pattern on an append-only event log — prune to the touched
    * directories at PLANNING time (PartitionFilters in the scan), and a
    * join against a filtered date dimension prunes at RUNTIME via
    * dynamic partition pruning. At 100 TB with ~3 years of history, a
    * one-week query reads 7/1000 of the files instead of all of them.
    */
  def writeDayPartitioned(df: DataFrame, path: String, tsCol: String = "t_us",
                          mode: String = "errorifexists"): Unit =
    // floor division, not `div`: integer `div` truncates toward zero, so a
    // pre-epoch timestamp (-1 µs) would land in day 0 instead of day -1
    df.withColumn("event_date",
        org.apache.spark.sql.functions.expr(
          s"date_add(date'1970-01-01', cast(floor($tsCol / 86400000000.0) as int))"))
      .write.partitionBy("event_date").mode(mode).parquet(path)

  def readDayPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
