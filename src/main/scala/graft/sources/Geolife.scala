package graft.sources

import graft.operators.IntervalJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Geolife dataset reader (reference: trackintel/io/dataset_reader.py:24-194)
  * re-expressed as one distributed text scan.
  *
  * The reference loops over per-user directories with pandas; here a
  * single `spark.read.text` over `<root>/STAR/Trajectory/STAR.plt` reads every
  * file in parallel, `input_file_name()` provides the user id, and the
  * 6-line header is dropped by filtering malformed rows (header lines
  * don't parse as 7-field records with numeric lat/lon — same effect as
  * skiprows=6 without per-file driver work).
  */
object Geolife {

  private val Feet2Meter = 0.3048

  /** @return positionfixes (id, user_id, tracked_at, lon, lat, elevation) */
  def readPositionfixes(spark: SparkSession, geolifePath: String): DataFrame = {
    val raw = spark.read.textFile(s"$geolifePath/*/Trajectory/*.plt")
      .withColumn("_file", input_file_name())

    val fields = split(col("value"), ",")
    val userId = regexp_extract(col("_file"), "/(\\d+)/Trajectory/", 1)

    val parsed = raw
      .filter(size(fields) === 7) // header lines have fewer fields
      .select(
        userId.cast(LongType).as("user_id"),
        expr("try_cast(element_at(split(value, ','), 1) as double)").as("lat"),
        expr("try_cast(element_at(split(value, ','), 2) as double)").as("lon"),
        (expr("try_cast(element_at(split(value, ','), 4) as double)") * Feet2Meter).as("elevation"),
        expr("try_to_timestamp(concat(element_at(split(value, ','), 6), ' ', element_at(split(value, ','), 7)), 'yyyy-MM-dd HH:mm:ss')").as("tracked_at"))
      .filter(col("lat").isNotNull && col("lon").isNotNull && col("tracked_at").isNotNull)

    // dense ids in (user, time) order like the reference's concat order
    graft.util.Ids.withSequentialId(parsed, "id",
      col("user_id"), col("tracked_at"), col("lon"), col("lat"))
      .select("id", "user_id", "tracked_at", "lon", "lat", "elevation")
  }

  /** labels.txt per user → (user_id, started_at, finished_at, mode)
    * (reference _get_labels, dataset_reader.py:124-157).
    */
  def readLabels(spark: SparkSession, geolifePath: String): DataFrame = {
    val raw = spark.read.textFile(s"$geolifePath/*/labels.txt")
      .withColumn("_file", input_file_name())
    val fields = split(col("value"), "\t")
    val userId = regexp_extract(col("_file"), "/(\\d+)/labels\\.txt", 1)
    val parsed = raw
      .filter(size(fields) === 3)
      .select(
        userId.cast(LongType).as("user_id"),
        expr("try_to_timestamp(element_at(split(value, '\\t'), 1), 'yyyy/MM/dd HH:mm:ss')").as("started_at"),
        expr("try_to_timestamp(element_at(split(value, '\\t'), 2), 'yyyy/MM/dd HH:mm:ss')").as("finished_at"),
        element_at(fields, 3).as("mode"))
      .filter(col("started_at").isNotNull) // drops the header line
    graft.util.Ids.withSequentialId(parsed, "id", col("user_id"), col("started_at"))
  }

  /** Attach transport-mode labels to triplegs by best temporal overlap
    * (reference geolife_add_modes_to_triplegs, dataset_reader.py:197-300):
    * per user, the label interval covering the largest share (>= ratio
    * threshold) of the tripleg wins. The reference's kNN prefilter is
    * replaced by the interval-join range predicate.
    */
  def addModesToTriplegs(tpls: DataFrame, labels: DataFrame,
                         ratioThreshold: Double = 0.5): DataFrame = {
    val matched = IntervalJoin.bestOverlapMatch(tpls, labels, minOverlapRatio = ratioThreshold)
    val modeMap = labels.select(col("id").as("_label_id"), col("mode"))
    tpls
      .join(matched.select(col("left_id"), col("right_id"), col("overlap_ratio")),
        tpls("id") === col("left_id"), "left")
      .join(modeMap, col("right_id") === col("_label_id"), "left")
      .drop("left_id", "right_id", "_label_id")
  }
}
