package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.immutable.ListMap

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Writes each named gate's output as parquet the way graft.Verify does,
  * with the gates' oracle SQL, and each output's [[Fingerprint]]: the
  * inputs perfbench/bless.py checks against the DuckDB oracle.
  *
  * Arguments: data directory (one scale), output directory.
  */
object Bless {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    // every gate but the Louvain family, whose DuckDB oracle does not fit
    // in the memory of a small box
    val louvain = Set("colocation_louvain", "colocation_louvain_l2", "louvain_connectivity", "louvain_refined")
    val gates = SparkEntry.queries.keys.filterNot(louvain).toSeq.sorted
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").config("spark.sql.warehouse.dir", s"$out/warehouse"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.register(spark)
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      Json(ListMap(gates.map(g => g -> SparkEntry.oracleSql(g)): _*)))
    val pool = Executors.newFixedThreadPool(math.min(4, cores))
    val rows = gates.map { g =>
      pool.submit(() => {
        try {
          SparkEntry.queries(g)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$g")
          s"$g\t${Fingerprint.of(spark.read.parquet(s"$out/$g"))}"
        } catch { case e: Throwable => s"$g\t!${e.getClass.getSimpleName}: ${e.getMessage}".replace('\n', ' ') }
      })
    }.map(_.get())
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
    Files.writeString(Paths.get(s"$out/fingerprints.tsv"), rows.mkString("", "\n", "\n"))
    spark.stop()
  }
}
