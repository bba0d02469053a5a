package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Per-query medians over `runs` full-suite repetitions: back-to-back
    // runs on shared hardware vary ±30%, which made cross-round per-query
    // diffs judgment calls; the median of 3 is the artifact. Pipeline
    // memoization resets between repetitions so every run pays the same
    // cold-stage materialization a single run would (same attribution
    // semantics as earlier rounds' single-run numbers).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]"), shufflePartitions = cpus.toInt
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: exercise scheduler/codegen/shuffle machinery once so
    // the first measured query doesn't absorb JVM session start-up. The
    // parquet leg writes and reads a small *synthetic* frame (temp dir) —
    // pure datasource/codec class-loading, no test-data precompute.
    locally {
      import org.apache.spark.sql.functions._
      spark.range(1000000).groupBy((col("id") % 7).as("k")).count().count()
      val tmp = java.nio.file.Files.createTempDirectory("graft-warmup").toString
      spark.range(1000).select(col("id"), (col("id") % 3).as("k"), rand(7).as("v"))
        .write.mode("overwrite").parquet(tmp)
      spark.read.parquet(tmp).filter(col("k") === 1).agg(sum(col("v"))).count()
    }
    // Deterministic name order so per-query timings compare across rounds.
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts to a sublist for targeted
    // re-benches (totals from a filtered run are NOT cross-round
    // comparable; the filter is for per-query investigation).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').map(_.trim).toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // A query that throws must NOT masquerade as a fast one (round 7: 47
    // broken queries benched as innocent 0.06 s fail-fasts). Failures are
    // collected, reported as -1 in the JSON plus a "failed" list, and
    // counted loudly on stderr.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val samples = (1 to runs).map { _ =>
      Pipeline.reset()
      names.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // toRdd.count(): force evaluation of EVERY output column. A bare
        // count() lets column pruning skip projection-only work entirely
        // (a scan-stage feature query would time the scan, not the
        // feature kernels) — same undermeasure class as counting an
        // ungrouped aggregate. Rows stay on executors; nothing collects.
        val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          failed.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
          false
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else Double.NaN)
      }.toMap
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val results = names.map { case (name, _) =>
      val xs = samples.map(_(name))
      name -> (if (xs.exists(_.isNaN)) -1.0 else median(xs))
    }
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} QUERIES FAILED (timed as -1):")
      failed.foreach { case (n, m) => System.err.println(s"[bench]   $n: $m") }
    }
    // SLOWEST-FIRST in every emitted map: the driver's capture window
    // truncates the long line (BENCH_r13 kept only names ≥ "sp…"), so
    // ordering by cost keeps the informative head under any truncation;
    // failures (-1) sort last — they're already named in "failed".
    val byTime = results.sortBy { case (_, v) => -v }
    def qjson(fmt: Double => String) = byTime
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // the streaming replay gates carry state-store/checkpoint machinery
    // the batch queries don't — reported as their own subtotal so batch
    // medians stay cross-round comparable (r9 verdict: a new replay gate
    // made the round total read as a 2.8x regression)
    val streamingTotal = results
      .filter(_._1.startsWith("streaming_")).map(_._2).filter(_ >= 0).sum
    val failedJson = failed.keys.map("\"" + _ + "\"").mkString("[", ",", "]")
    def line(fmt: Double => String) =
      s"""{"queries":${qjson(fmt)},"failed":$failedJson,"failed_count":${failed.size},"metric":"total","value":${fmt(total)},"streaming_subtotal":${fmt(streamingTotal)},"batch_value":${fmt(total - streamingTotal)},"unit":"sec","runs":$runs,"sf":"$sfDir"}"""
    // The driver keeps only the TAIL of stdout (BENCH_r05.json lost its
    // total and first queries to a 2000-char cap), so (a) the stdout line
    // prints timings at 2 decimals to stay under the cap, (b) the headline
    // metric/value fields come AFTER "queries" so they survive a front
    // truncation regardless, and (c) the complete ms-resolution JSON is
    // also written to a file (SPARK_GRAFT_BENCH_OUT, default
    // BENCH_LOCAL.json in the cwd) for cross-round per-query tracking,
    // plus a per-core-count file, so runs at different $SPARK_GRAFT_CPUS
    // in the same cwd each keep their own full map.
    val outs = Seq(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"),
      s"BENCH_LOCAL_c$cpus.json")
    outs.foreach { out =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(out),
        line(v => "%.3f".format(v)).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { // bench result still goes to stdout; fatal errors propagate
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] could not write $out: $e")
      }
    }
    println(line(v => "%.2f".format(v)))
    // (d) a COMPLETE compact headline line last: with 282 queries the full
    // line is ~7 KB, so a strict json parse of the 2000-byte tail window
    // fails even though the headline fields are visible (r10/r11 driver
    // artifacts recorded "parsed": null) — a tail-line scanner now finds
    // one short, strictly-parseable JSON object; the per-query map stays
    // in the full line above and in BENCH_LOCAL.json
    def f2(v: Double) = "%.2f".format(v)
    // the failed-names list is capped here (failed_count keeps the true
    // total): under mass failure an unbounded list would push this line
    // past the tail window exactly when it matters most
    val failedCompact = failed.keys.take(20).map("\"" + _ + "\"").mkString("[", ",", "]")
    // the 20 slowest queries ride INSIDE the compact tail line (~600 B
    // extra): the driver artifact then names the heaviest gates even if
    // every longer line is lost — r13's "done" bar for the bench artifact
    val slowest = byTime.take(20)
      .map { case (k, v) => s"\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
    // widen the per-query channel the driver can actually capture (r15
    // verdict item 2: PERF per_query came back empty because only the
    // compact slowest-20 line survives the tail window): BEFORE the
    // canonical compact line, emit short strictly-parseable JSON lines
    // covering the next slowest gates ("slowest2" = ranks 21-40,
    // "slowest3" = 41-60). The canonical compact line stays LAST and
    // byte-compatible, so any last-line/scan-from-end parser is
    // unaffected; a parser that wants more per-query medians can take
    // the extra lines, and the complete map is still in the full line
    // above and in BENCH_LOCAL*.json.
    Seq("slowest2" -> byTime.slice(20, 40), "slowest3" -> byTime.slice(40, 60))
      .filter(_._2.nonEmpty).foreach { case (key, qs) =>
        val m = qs.map { case (k, v) => s"\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
        println(s"""{"metric":"$key","$key":$m,"unit":"sec","runs":$runs,"sf":"$sfDir"}""")
      }
    val compact = s"""{"metric":"total","value":${f2(total)},"streaming_subtotal":${f2(streamingTotal)},"batch_value":${f2(total - streamingTotal)},"unit":"sec","runs":$runs,"queries_count":${results.size},"slowest":$slowest,"failed":$failedCompact,"failed_count":${failed.size},"sf":"$sfDir"}"""
    println(compact)
    // Belt-and-braces against harness log decoration (build.sbt routes
    // forked stdout through verbatim, but a driver that captures merged
    // streams or a different launcher may still prefix stdout): the same
    // compact line also goes to stderr — sbt never decorates forked
    // stderr under StdoutOutput — and to its own tiny file.
    System.err.println(compact)
    try java.nio.file.Files.write(java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HEADLINE_OUT", "BENCH_HEADLINE.json")),
      compact.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write headline file: $e")
    }
    spark.stop()
  }
}
