package graft

import graft.operators.Share
import graft.sources.EventsAdapter
import org.apache.spark.sql.functions.{col, sum, udf}

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Pipeline's memos under concurrency: many threads racing every memo in
  * different orders must neither deadlock nor build a memo twice. Only
  * the memo calls run — no action on the returned frames — so the test
  * exercises the memo layer, plus the trainers that run eagerly.
  */
class PipelineConcurrencySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def memos: Seq[(String, () => AnyRef)] = Seq(
    "positionfixes" -> (() => EventsAdapter.positionfixes(spark, dir)),
    "pfsWithStaypoints" -> (() => Pipeline.pfsWithStaypoints(spark, dir)),
    "staypoints" -> (() => Pipeline.staypoints(spark, dir)),
    "triplegs" -> (() => Pipeline.triplegs(spark, dir)),
    "pfsWithTriplegs" -> (() => Pipeline.pfsWithTriplegs(spark, dir)),
    "triplegsOverlap" -> (() => Pipeline.triplegsOverlap(spark, dir)),
    "staypointsWithActivity" -> (() => Pipeline.staypointsWithActivity(spark, dir)),
    "trips" -> (() => Pipeline.trips(spark, dir)),
    "locations" -> (() => Pipeline.locations(spark, dir)),
    "staypointsWithLocation" -> (() => Pipeline.staypointsWithLocation(spark, dir)),
    "minhashPairs" -> (() => Pipeline.minhashPairs(spark, dir)),
    "colocationMeetings" -> (() => Pipeline.colocationMeetings(spark, dir)),
    "colocationPairs" -> (() => Pipeline.colocationPairs(spark, dir)),
    "contactGraph" -> (() => Pipeline.contactGraph(spark, dir)),
    "louvainLabels" -> (() => Pipeline.louvainLabels(spark, dir)),
    "tours" -> (() => Pipeline.tours(spark, dir)),
    "classifierWeights4" -> (() => Pipeline.classifierWeights4(spark, dir)),
    "bpeMerges" -> (() => Pipeline.bpeMerges(spark, dir)),
    "bpeLearned" -> (() => Pipeline.bpeLearned(spark, dir)),
    "bpeTokenCounts" -> (() => Pipeline.bpeTokenCounts(spark, dir)),
    "dsirWeights" -> (() => Pipeline.dsirWeights(spark, dir)),
    "imagePhash" -> (() => Pipeline.imagePhash(spark, dir)),
    "scoredDocs" -> (() => Pipeline.scoredDocs(spark, dir)),
    "annBruteTop5" -> (() => Pipeline.annBruteTop5(spark, dir)),
    "annIvfTop5" -> (() => Pipeline.annIvfTop5(spark, dir)),
    "pqModel" -> (() => Pipeline.pqModel(spark, dir)),
    "kmeansModel" -> (() => Pipeline.kmeansModel(spark, dir)),
  )

  test("8 threads racing every memo in shuffled orders: no deadlock, each memo built once") {
    Pipeline.reset()
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "memo-race"); t.setDaemon(true); t
    })
    val go = new CountDownLatch(1)
    try {
      val runs = (0 until threads).map { i =>
        val order = new scala.util.Random(i).shuffle(memos)
        pool.submit(new Callable[Map[String, AnyRef]] {
          def call(): Map[String, AnyRef] = {
            go.await()
            order.map { case (name, memo) => name -> memo() }.toMap
          }
        })
      }
      go.countDown()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(180)
      // a hang surfaces as a TimeoutException, a failed build as an
      // ExecutionException carrying the build's error
      val seen = runs.map(_.get(math.max(0L, deadline - System.nanoTime()), TimeUnit.NANOSECONDS))
      memos.foreach { case (name, _) =>
        val first = seen.head(name)
        assert(first != null, name)
        assert(seen.forall(_(name) eq first), s"$name was built more than once")
      }
    } finally pool.shutdownNow()
  }

  test("positionfixes is one Pipeline memo: the same frame until reset(), a new one after") {
    val first = EventsAdapter.positionfixes(spark, dir)
    assert(EventsAdapter.positionfixes(spark, dir) eq first)
    Pipeline.reset()
    val rebuilt = EventsAdapter.positionfixes(spark, dir)
    assert(!(rebuilt eq first), "reset() must drop the positionfix memo")
    assert(EventsAdapter.positionfixes(spark, dir) eq rebuilt)
  }

  test("two threads reading one lazily checkpointed memo at once evaluate each source row once") {
    // Both jobs ask the block manager for the same checkpoint blocks; the
    // second writer of a block waits for the first and reads its block
    // (the "Block rdd_N_M already exists" warning), it never recomputes.
    // Two partitions per job on four cores, and a slow UDF, so the two
    // jobs' tasks for one partition run at the same time.
    val n = 2000L
    val pool = Executors.newFixedThreadPool(2)
    try {
      for (round <- 1 to 4) {
        PipelineConcurrencySpec.evaluations.set(0L)
        val counted = udf { (x: Long) =>
          PipelineConcurrencySpec.evaluations.incrementAndGet()
          if (x % 100 == 0) Thread.sleep(30)
          x * 2
        }
        val memo = Share.materialize(spark.range(0L, n, 1L, 2).select(counted(col("id")).as("v")))
        val go = new CountDownLatch(1)
        val reads = (0 until 2).map { _ =>
          pool.submit(new Callable[Long] {
            def call(): Long = { go.await(); memo.agg(sum(col("v"))).head().getLong(0) }
          })
        }
        go.countDown()
        reads.foreach(r => assert(r.get(120, TimeUnit.SECONDS) == n * (n - 1)))
        assert(PipelineConcurrencySpec.evaluations.get == n,
          s"round $round: ${PipelineConcurrencySpec.evaluations.get} evaluations of $n source rows")
      }
    } finally pool.shutdownNow()
  }
}

object PipelineConcurrencySpec {
  /** Evaluations of the counting UDF (local-mode tasks run in the test JVM). */
  val evaluations = new AtomicLong(0L)
}
