package graft.sources

import graft.util.Ids
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GPX track reader (reference: trackintel/io/dataset_reader.py:689-736):
  * all `*.gpx` files under a directory become positionfixes for a single
  * user, tracks re-ID'd across files.
  *
  * Files are read whole (`wholetext`) and track points extracted with a
  * regex over the document — no XML library dependency, fully
  * distributed (one task per file).
  */
object Gpx {

  // whole <trkpt …>…</trkpt> elements; lat/lon pulled out separately so
  // attribute order doesn't matter
  private val TrkptPattern = "(?s)<trkpt[^>]*>.*?</trkpt>"
  private val LatPattern = "lat=\"([^\"]+)\""
  private val LonPattern = "lon=\"([^\"]+)\""
  private val TimePattern = "<time>([^<]+)</time>"

  def readPositionfixes(spark: SparkSession, gpxPath: String, userId: Long = 0L): DataFrame = {
    val raw = spark.read.option("wholetext", "true").text(s"$gpxPath/*.gpx")
      .withColumn("_file", input_file_name())

    val points = raw.select(col("_file"),
        explode(expr(s"regexp_extract_all(value, '$TrkptPattern', 0)")).as("_pt"))
      .select(col("_file"),
        expr(s"try_cast(regexp_extract(_pt, '$LatPattern', 1) as double)").as("lat"),
        expr(s"try_cast(regexp_extract(_pt, '$LonPattern', 1) as double)").as("lon"),
        expr(s"try_to_timestamp(replace(replace(regexp_extract(_pt, '$TimePattern', 1), 'T', ' '), 'Z', ''))")
          .as("tracked_at"))
      .filter(col("lat").isNotNull && col("lon").isNotNull && col("tracked_at").isNotNull)
      .withColumn("user_id", lit(userId))

    Ids.withSequentialId(points, "id", col("_file"), col("tracked_at"))
      .select("id", "user_id", "tracked_at", "lon", "lat")
  }
}
