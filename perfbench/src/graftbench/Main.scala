package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.{GraftSession, Pipeline, SparkEntry}
import graft.sources.EventsAdapter
import org.apache.commons.math3.special.Beta
import org.apache.spark.{BenchShim, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{col, rand, sum}

/** One gate of a pass: its timestamps (System.nanoTime), result and error. */
final class GateRun(val name: String) {
  @volatile var startNs, builtNs, endNs, blockedMs = 0L
  @volatile var df: DataFrame = _
  @volatile var error: String = _
  def ok: Boolean = error == null
  def latencyS: Double = (endNs - startNs) / 1e9
  def buildS: Double = (builtNs - startNs) / 1e9
}

/** Runs one workload pass of graft's gates from outside the engine and
  * prints its metrics as JSON. See perfbench/README.md.
  *
  * Arguments (all required, as `--key value`): workload, seed, seconds,
  * trace (0|1), data (directory holding sf0.01/), work (scratch
  * directory), expected (blessed fingerprints), launch-ms (epoch ms at
  * which the JVM was started), end-ms (epoch ms by which the JVM must be
  * done), result (JSON file to write), spans (span dump file, traced run).
  */
object Main extends AdaptiveSparkPlanHelper {

  /** The scale factor of every workload's input tables. */
  private val Sf = "sf0.01"

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = o("work")
    val wl = Workloads(o("workload"), o("seed").toLong)
    val dir = s"${o("data")}/$Sf"
    val expected = Files.readAllLines(Paths.get(o("expected"))).asScala
      .map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val threads = if (wl.parallel) math.min(4, cores) else 1

    // run.py passes wall-clock epoch times; read them as System.nanoTime values
    def fromEpochMs(ms: Long) = System.nanoTime() + (ms - System.currentTimeMillis()) * 1000000L
    val endNs = fromEpochMs(o("end-ms").toLong)

    // Set-up, from the JVM's launch to the warmup's end.
    val launchNs = fromEpochMs(o("launch-ms").toLong)
    val spark = session(cores, work, traced)
    graft.plans.GraftExtensions.register(spark)
    val builtNs = System.nanoTime()
    warmup(spark, work)
    val (startS, warmupS) = ((builtNs - launchNs) / 1e9, (System.nanoTime() - builtNs) / 1e9)
    val sc = spark.sparkContext
    val sparkTrace = new SparkTrace
    val queryTrace = new QueryTrace

    val runs = wl.gates.map(new GateRun(_))
    val canaryBefore = canary(spark)
    if (traced) {
      sc.addSparkListener(sparkTrace)
      spark.listenerManager.register(queryTrace)
      Host.monitorContention()
    }
    val passId = Spans.nextId()
    val passStartUs = Spans.nowUs
    val ticks0 = Host.cpuTicks
    val cpu0 = Host.cpuNs
    val gc0 = Host.gcMs
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    Host.resetPeaks()

    // Traced run only: the input and every memo the workload reads, each
    // forced alone and in dependency order, before the gates.
    val memoS = ListMap.newBuilder[String, Double]
    var positionfixesS = 0.0
    if (traced) wl.memos.foreach { key =>
      val s = Spans.span(passId, key, if (key == "positionfixes") "sources" else "memo") { _ =>
        val t0 = System.nanoTime()
        forceMemo(spark, dir, key)
        (System.nanoTime() - t0) / 1e9
      }
      if (key == "positionfixes") positionfixesS = s else memoS += key -> s
    }
    val blocksMb = if (traced) storedMb(sc) else 0.0
    // On the pool the memos start cold, as in the untraced run, so the
    // prologs build them concurrently and contend for the memo lock.
    if (traced && wl.parallel) Pipeline.reset()

    val passT0 = System.nanoTime()

    // The prologs run to completion before the other gates start, as the
    // memo families do in graft.Verify's warm phase: the prologs contend
    // for the memo locks, the gates after them read built memos. The
    // output check after the pass gets the last 30 s before the end.
    val (prologRuns, gateRuns) = runs.partition(_.name.contains("__prolog"))
    val errors = Seq(prologRuns, gateRuns).flatMap(rs => runTasks(sc, threads, seconds, endNs - 30000000000L, rs.map { r =>
      r.name -> (() => {
        StreamTrace.currentGate = r.name
        r.startNs = System.nanoTime()
        val blocked0 = if (traced) Host.blockedMs else 0L
        try {
          val df = SparkEntry.queries(r.name)(spark, dir)
          r.builtNs = System.nanoTime()
          if (wl.parallel) df.coalesce(1).write.mode("overwrite").parquet(s"$work/out/${r.name}")
          else df.queryExecution.toRdd.count()
          r.df = df
        } finally {
          if (r.builtNs == 0L) r.builtNs = System.nanoTime()
          r.endNs = System.nanoTime()
          if (traced) r.blockedMs = Host.blockedMs - blocked0
        }
      })
    })).toMap
    runs.foreach(r => r.error = errors(r.name))

    val cpuS = (Host.cpuNs - cpu0) / 1e9
    val gcS = (Host.gcMs - gc0) / 1000.0
    val rssMb = Host.rssPeakMb
    val heapMb = Host.heapPeakMb
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMeanMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    val stealFrac = Host.stealFrac(ticks0, Host.cpuTicks)
    val passEndUs = Spans.nowUs
    if (traced) {
      BenchShim.drainListeners(sc)
      sc.removeSparkListener(sparkTrace)
      spark.listenerManager.unregister(queryTrace)
    }
    val canaryAfter = canary(spark)

    // Untimed from here: funnels, plan inspection, then the output check.
    val funnels = if (traced) funnelCounts(spark, dir, wl, runs) else Nil
    val banded = if (traced) runs.count(r => r.ok && bandedPlan(r.df)) else 0
    val checkErrors = runTasks(sc, math.min(4, cores), seconds, endNs - 12000000000L, runs.filter(_.ok).map { r =>
      r.name -> (() => {
        val out = if (wl.parallel) spark.read.parquet(s"$work/out/${r.name}") else r.df
        val got = Fingerprint.of(out)
        expected.get(r.name) match {
          case Some(want) if want == got => ()
          case Some(want) => throw new IllegalStateException(s"output mismatch: got $got, want $want")
          case None => throw new IllegalStateException(s"no blessed fingerprint (got $got)")
        }
      })
    })
    runs.foreach(r => if (r.ok) r.error = checkErrors(r.name))
    val streamQueries = StreamTrace.all
    if (traced) runs.filter(r => r.ok && r.name.startsWith("streaming_")).foreach { r =>
      if (!streamQueries.exists(q => q.gate == r.name && q.batches > 0))
        r.error = "no micro-batch progress seen by the streaming listener"
    }

    val failed = runs.filterNot(_.ok)
    failed.foreach(r => System.err.println(s"[graftbench] ${r.name} FAILED: ${r.error}"))
    val lat = runs.filter(_.ok).map(_.latencyS)
    val tailPct = 100.0 * math.max(0, lat.size - 10) / math.max(1, lat.size)
    val passWallS = (runs.map(_.endNs).max - passT0) / 1e9

    val endToEnd = ListMap(
      "wall_s" -> (passWallS, "s"),
      "gate_p50_s" -> (quantile(lat, 0.5), "s"),
      "gate_tail_s" -> (quantile(lat, tailPct / 100.0), "s"),
      "cpu_s" -> (cpuS, "s"),
      "ok_frac" -> (1.0 - failed.size.toDouble / runs.size, "ratio"),
      "setup_s" -> (startS + warmupS, "s"))

    val metrics = if (!traced) endToEnd else {
      val jobs = sparkTrace.jobs.asScala.toMap
      val stages = sparkTrace.stages.asScala.filter(_._2.completedMs >= 0).toMap
      val execS = Spans.covered(jobs.values.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).toSeq) / 1000.0
      val taskRunS = sparkTrace.runMs.sum / 1000.0
      val skew = stages.values.map(_.taskMs.asScala.map(_.toDouble).toSeq)
        .filter(_.size >= 2).map(t => if (median(t) > 0) t.max / median(t) else 1.0)
      val qs = streamQueries
      val gatePhases = runs.filter(r => r.ok && !wl.parallel).map(_.df.queryExecution.tracker.phases)
      def phaseS(p: String) = queryTrace.seconds(p) +
        gatePhases.flatMap(_.get(p)).map(_.durationMs).sum / 1000.0
      val written = if (wl.parallel) runs.filter(_.ok).map(r => dirBytes(s"$work/out/${r.name}")).sum else 0L
      val writeS = if (wl.parallel) runs.filter(_.ok).map(r => (r.endNs - r.builtNs) / 1e9).sum else 0.0
      val (cand, emitted) = (funnels.map(_._2).sum, funnels.map(_._3).sum)
      val passS = (passEndUs - passStartUs) / 1e6
      val mb = 1048576.0
      ListMap[String, (Double, String)](
        "session.start_s" -> (startS, "s"),
        "session.warmup_s" -> (warmupS, "s"),
        "sources.positionfixes_s" -> (positionfixesS, "s"),
        "sources.input_mb" -> (sparkTrace.inputBytes.sum / mb, "MB"),
        "sources.input_rows" -> (sparkTrace.inputRecords.sum.toDouble, "count"),
        "pipeline.memo_s" -> (memoS.result().values.sum, "s")) ++
        Seq("staypoints", "triplegs", "trips", "tours", "locations", "colocation_meetings",
          "contact_graph", "minhash_pairs", "bpe_learned", "classifier_w", "pq_model",
          "kmeans_model", "dsir_weights").map(k => s"pipeline.${k}_s" -> (memoS.result().getOrElse(k, 0.0), "s")) ++
        ListMap(
        "pipeline.blocks_mb" -> (blocksMb, "MB"),
        "pipeline.build_wait_s" -> (runs.map(_.blockedMs).sum / 1000.0, "s"),
        "entry.build_s" -> (runs.map(_.buildS).sum, "s"),
        "catalyst.analysis_s" -> (phaseS("analysis"), "s"),
        "catalyst.optimization_s" -> (phaseS("optimization"), "s"),
        "catalyst.planning_s" -> (phaseS("planning"), "s"),
        "plans.banded_rewrites" -> (banded.toDouble, "count"),
        "plans.funnel_candidates" -> (cand.toDouble, "count"),
        "plans.funnel_emitted" -> (emitted.toDouble, "count"),
        "plans.funnel_yield" -> (if (cand > 0) emitted.toDouble / cand else 0.0, "ratio"),
        "codegen.compiles" -> (compiles.toDouble, "count"),
        "codegen.compile_s" -> (compiles * compileMeanMs / 1000.0, "s"),
        "exec.s" -> (execS, "s"),
        "exec.jobs" -> (jobs.size.toDouble, "count"),
        "exec.stages" -> (stages.size.toDouble, "count"),
        "exec.tasks" -> (sparkTrace.tasks.sum.toDouble, "count"),
        "exec.task_run_s" -> (taskRunS, "s"),
        "exec.task_cpu_s" -> (sparkTrace.cpuNs.sum / 1e9, "s"),
        "exec.task_gc_s" -> (sparkTrace.gcMs.sum / 1000.0, "s"),
        "exec.shuffle_write_mb" -> (sparkTrace.shuffleWriteBytes.sum / mb, "MB"),
        "exec.shuffle_read_mb" -> (sparkTrace.shuffleReadBytes.sum / mb, "MB"),
        "exec.shuffle_records" -> (sparkTrace.shuffleRecords.sum.toDouble, "count"),
        "exec.spill_mb" -> (sparkTrace.spillBytes.sum / mb, "MB"),
        "exec.slot_util" -> (if (execS > 0) taskRunS / (execS * cores) else 0.0, "ratio"),
        "exec.stage_skew" -> (if (skew.nonEmpty) skew.max else 1.0, "ratio"),
        "streaming.queries" -> (qs.size.toDouble, "count"),
        "streaming.batches" -> (qs.map(_.batches).sum.toDouble, "count"),
        "streaming.start_s" -> (qs.filter(_.firstProgressMs >= 0).map(q => q.firstProgressMs - q.startMs).sum / 1000.0, "s"),
        "streaming.planning_s" -> (qs.map(_.planningMs).sum / 1000.0, "s"),
        "streaming.wal_commit_s" -> (qs.map(_.walMs).sum / 1000.0, "s"),
        "streaming.add_batch_s" -> (qs.map(_.addBatchMs).sum / 1000.0, "s"),
        "streaming.state_rows" -> (qs.map(_.stateRows).sum.toDouble, "count"),
        "streaming.state_mb" -> (qs.map(_.stateBytes).sum / mb, "MB"),
        "output.write_s" -> (writeS, "s"),
        "output.mb" -> (written / mb, "MB"),
        "jvm.gc_s" -> (gcS, "s"),
        "jvm.heap_peak_mb" -> (heapMb, "MB"),
        "jvm.rss_peak_mb" -> (rssMb, "MB"),
        "host.canary_s" -> ((canaryBefore + canaryAfter) / 2, "s"),
        "host.steal_frac" -> (stealFrac, "ratio"),
        "trace.overhead_frac" -> (TraceCost.nanos.sum / 1e9 / passS, "ratio"))
    }

    if (traced) writeSpans(o("spans"), passId, passStartUs, passEndUs, wl, runs, sparkTrace)

    val result = ListMap(
      "correct" -> failed.isEmpty,
      "attempted" -> runs.size,
      "failed" -> failed.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "detail" -> ListMap(
        "workload" -> wl.name, "seed" -> o("seed").toLong, "trace" -> traced, "cores" -> cores,
        "threads" -> threads, "sf" -> Sf,
        "failed_frac" -> failed.size.toDouble / runs.size,
        "gate_tail_percentile" -> tailPct, "gate_tail_samples" -> lat.size,
        "host.canary_before_s" -> canaryBefore, "host.canary_after_s" -> canaryAfter,
        "host.steal_frac" -> stealFrac, "cpu_s" -> cpuS, "peak_rss_mb" -> rssMb,
        "session.start_s" -> startS, "session.warmup_s" -> warmupS,
        "funnels" -> funnels.map { case (n, c, e) => ListMap("gate" -> n, "candidates" -> c, "emitted" -> e) },
        "streaming_batches" -> streamQueries.groupBy(_.gate).map { case (g, q) => g -> q.map(_.batches).sum },
        "gates" -> ListMap(runs.map(r => r.name -> ListMap(
          "latency_s" -> r.latencyS, "build_s" -> r.buildS, "error" -> r.error)): _*)))
    Files.writeString(Paths.get(o("result")), Json(result))
    spark.stop()
  }

  private def session(cores: Int, work: String, traced: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
    if (traced) b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
    val spark = GraftSession.configure(b, shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** graft.Bench's untimed warmup: scheduler, codegen and shuffle once,
    * plus a small parquet round trip for the datasource classes.
    */
  private def warmup(spark: SparkSession, work: String): Unit = {
    spark.range(1000000).groupBy((col("id") % 7).as("k")).count().count()
    val tmp = s"$work/warmup"
    spark.range(1000).select(col("id"), (col("id") % 3).as("k"), rand(7).as("v"))
      .write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).filter(col("k") === 1).agg(sum(col("v"))).count()
  }

  /** A fixed small job; its time drifts with the host, not with graft. */
  private def canary(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1000000).groupBy((col("id") % 7).as("k")).count().count()
    (System.nanoTime() - t0) / 1e9
  }

  private def forceMemo(spark: SparkSession, dir: String, key: String): Unit = {
    def force(df: DataFrame): Unit = df.queryExecution.toRdd.count()
    key match {
      case "positionfixes" => force(EventsAdapter.positionfixes(spark, dir))
      case "staypoints" => force(Pipeline.staypoints(spark, dir))
      case "triplegs" => force(Pipeline.triplegs(spark, dir))
      case "trips" => force(Pipeline.trips(spark, dir))
      case "tours" => force(Pipeline.tours(spark, dir))
      case "locations" =>
        force(Pipeline.locations(spark, dir))
        force(Pipeline.staypointsWithLocation(spark, dir))

      case "colocation_meetings" => force(Pipeline.colocationMeetings(spark, dir))
      case "contact_graph" =>
        val g = Pipeline.contactGraph(spark, dir)
        Seq(g.pairs, g.edgesW, g.degW, g.degU).foreach(force)
      case "minhash_pairs" => force(Pipeline.minhashPairs(spark, dir))
      case "bpe_learned" => Pipeline.bpeLearned(spark, dir)
      case "classifier_w" => Pipeline.classifierWeights4(spark, dir)
      case "pq_model" => Pipeline.pqModel(spark, dir)
      case "kmeans_model" => Pipeline.kmeansModel(spark, dir)
      case "dsir_weights" => force(Pipeline.dsirWeights(spark, dir))
    }
  }

  /** Memory and disk held by stored blocks (the memos' localCheckpoints). */
  private def storedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Candidate and emitted row counts of each funnel gate, read from
    * the executed plan after the action: candidates are the largest
    * join output, emitted the rows the gate returns.
    */
  private def funnelCounts(spark: SparkSession, dir: String, wl: Workload,
                           runs: Seq[GateRun]): Seq[(String, Long, Long)] = {
    def counts(name: String, df: DataFrame): (String, Long, Long) = {
      val plan = df.queryExecution.executedPlan
      def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      val cand = collectWithSubqueries(plan) { case j: BaseJoinExec => rows(j) }
      (name, if (cand.isEmpty) 0L else cand.max, df.queryExecution.toRdd.count())
    }
    val gates = wl.funnels.map { n =>
      runs.find(r => r.name == n && r.ok && !wl.parallel) match {
        case Some(r) => counts(n, r.df)
        case None =>
          val df = SparkEntry.queries(n)(spark, dir)
          df.queryExecution.toRdd.count()
          counts(n, df)
      }
    }
    val ivf = if (!wl.ivfFunnel) Nil else {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val df = graft.operators.Ann.ivfTopK(emb.filter(col("vec_id") < 10), emb, k = 5, nlist = 32, nprobe = 4)
      df.queryExecution.toRdd.count()
      Seq(counts("ivf_top5", df))
    }
    gates ++ ivf
  }

  /** Whether the banded distance-join rewrite fired on the gate's plan. */
  private def bandedPlan(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.output.exists(_.name.startsWith("__graft_band")))

  /** Runs the tasks on `threads` worker threads, each task under its own
    * job group. A task still running `deadlineS` after it started, or at
    * `endNs`, gets its jobs cancelled and its thread interrupted, and fails
    * as a timeout. A worker that has not unwound 10 s after the cancel is
    * abandoned and a fresh one takes its place, so the queued tasks still
    * run, each under its own deadline. No task starts after `endNs`.
    * Returns each task's error, or null.
    */
  private def runTasks(sc: SparkContext, threads: Int, deadlineS: Double, endNs: Long,
                       tasks: Seq[(String, () => Unit)]): Map[String, String] = {
    val queue = new ConcurrentLinkedQueue[(String, () => Unit)](tasks.asJava)
    val errors = new ConcurrentHashMap[String, String]()
    val started = ConcurrentHashMap.newKeySet[String]()
    val deadlineNs = (deadlineS * 1e9).toLong

    final class Worker extends Thread("graftbench-gate") {
      setDaemon(true)
      // the running task and its deadline, or null; guarded by `this`
      var task: String = _
      var startNs, dueNs, cancelNs = 0L
      var abandoned = false

      private def take(): (String, () => Unit) = synchronized {
        task = null
        val next = if (abandoned || System.nanoTime() >= endNs) null else queue.poll()
        if (next != null) {
          task = next._1
          startNs = System.nanoTime()
          dueNs = math.min(startNs + deadlineNs, endNs)
          cancelNs = 0L
          started.add(task)
        }
        next
      }

      override def run(): Unit = {
        var next = take()
        while (next != null) {
          val (name, body) = next
          Thread.interrupted()
          sc.setJobGroup(name, name, interruptOnCancel = true)
          try body()
          catch { case e: Throwable =>
            errors.putIfAbsent(name, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          } finally sc.clearJobGroup()
          next = take()
        }
      }

      /** Cancels an overdue task; abandons the worker if it did not unwind. */
      def police(now: Long): Option[Worker] = synchronized {
        if (task == null || abandoned) None
        else if (cancelNs == 0L && now >= dueNs) {
          errors.putIfAbsent(task, f"timeout after ${(now - startNs) / 1e9}%.1f s")
          sc.cancelJobGroup(task)
          interrupt()
          cancelNs = now
          None
        } else if (cancelNs != 0L && now - cancelNs > 10000000000L) {
          abandoned = true
          Some(new Worker)
        } else None
      }
    }

    val workers = scala.collection.mutable.ArrayBuffer.fill(threads)(new Worker)
    workers.foreach(_.start())
    while (workers.exists(w => w.isAlive && !w.synchronized(w.abandoned))) {
      Thread.sleep(20)
      val fresh = workers.toSeq.flatMap(_.police(System.nanoTime()))
      fresh.foreach(_.start())
      workers ++= fresh
    }
    tasks.map { case (name, _) =>
      name -> Option(errors.get(name)).getOrElse(
        if (started.contains(name)) null else "not started: the run's time was spent")
    }.toMap
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The Harrell–Davis estimate of quantile `p`: a weighted mean of all
    * order statistics, with the weights a beta distribution puts around
    * `p`. At a few dozen gates it varies far less between runs than the
    * single middle sample does.
    */
  private def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN else if (n == 1) s.head else {
      val (a, b) = (p * (n + 1), (1 - p) * (n + 1))
      def cdf(x: Double) = if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
    }
  }

  private def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L else {
      val w = Files.walk(p)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally w.close()
    }
  }

  /** pass → memo/gate → build/exec/write, and Spark's jobs and stages
    * under the gate that ran them; each span with its self time.
    */
  private def writeSpans(path: String, passId: Int, startUs: Long, endUs: Long, wl: Workload,
                         runs: Seq[GateRun], trace: SparkTrace): Unit = {
    def us(ns: Long) = Spans.usOf(ns)
    Spans.add(Span(passId, 0, wl.name, "pass", startUs, endUs))
    val gateIds = runs.map { r =>
      val id = Spans.nextId()
      Spans.add(Span(id, passId, r.name, "gate", us(r.startNs), us(r.endNs)))
      Spans.add(Span(Spans.nextId(), id, r.name, "build", us(r.startNs), us(r.builtNs)))
      Spans.add(Span(Spans.nextId(), id, r.name, if (wl.parallel) "write" else "exec", us(r.builtNs), us(r.endNs)))
      r.name -> id
    }.toMap
    val timed = Spans.all.filter(s => s.kind == "gate" || s.kind == "memo" || s.kind == "sources")
    def owner(group: String, atUs: Long): Int = gateIds.getOrElse(group,
      if (wl.parallel) passId
      else timed.find(s => s.startUs <= atUs && atUs <= s.endUs).map(_.id).getOrElse(passId))
    val jobIds = trace.jobs.asScala.map { case (jobId, j) =>
      val id = Spans.nextId()
      val end = if (j.endMs >= 0) j.endMs else j.startMs
      Spans.add(Span(id, owner(j.group, j.startMs * 1000L), s"job $jobId", "job", j.startMs * 1000L, end * 1000L))
      jobId -> id
    }.toMap
    trace.stages.asScala.foreach { case (stageId, s) =>
      if (s.completedMs >= 0) jobIds.get(s.jobId).foreach { parent =>
        Spans.add(Span(Spans.nextId(), parent, s"stage $stageId", "stage", s.submittedMs * 1000L, s.completedMs * 1000L))
      }
    }
    val all = Spans.all.map { s =>
      if (s.parent == 0 && s.kind == "plan") s.copy(parent = owner(null, s.startUs)) else s
    }
    val self = Spans.selfTimes(all)
    val rows = all.sortBy(_.startUs).map { s =>
      ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "self_us" -> self(s.id))
    }
    val selfByKind = all.groupBy(_.kind).map { case (k, ss) => k -> ss.map(s => self(s.id)).sum / 1e6 }
    Files.writeString(Paths.get(path), Json(ListMap("self_s_by_kind" -> selfByKind, "spans" -> rows)))
  }
}
