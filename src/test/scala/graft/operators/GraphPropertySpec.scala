package graft.operators

import graft.SparkSpec

import scala.collection.mutable

/** Property tests for the round-12 graph operators: seeded random graphs
  * checked against exact sequential references — Batagelj–Zaveršnik
  * peeling for coreness, a brute-force induced-subgraph count for the
  * rich-club curve, and a BigInt replay of the shifted power-iteration
  * recurrence for the spectral estimate.
  */
class GraphPropertySpec extends SparkSpec {
  import spark.implicits._

  private def randomGraph(seed: Int, n: Int, pPct: Int): Set[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (for {
      a <- 0L until n; b <- (a + 1) until n
      if rnd.nextInt(100) < pPct
    } yield (a, b)).toSet
  }

  private def weighted(edges: Set[(Long, Long)], seed: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    edges.toSeq.sorted.map { case (a, b) => (a, b, 1L + rnd.nextInt(5)) }
  }

  /** Exact coreness by iterative peeling. */
  private def peelCoreness(edges: Set[(Long, Long)]): Map[Long, Int] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    for ((a, b) <- edges) {
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    }
    val core = mutable.Map.empty[Long, Int]
    var k = 0
    while (adj.nonEmpty) {
      k = math.max(k, adj.values.map(_.size).min)
      var changed = true
      while (changed) {
        val peel = adj.collect { case (n, nb) if nb.size <= k => n }.toSeq
        changed = peel.nonEmpty
        for (n <- peel) { core(n) = k; adj.remove(n); adj.values.foreach(_ -= n) }
      }
    }
    core.toMap
  }

  test("kCoreHistogram equals exact peeling on random graphs (and is a fixed point)") {
    for (seed <- Seq(1, 7, 23, 91)) {
      val edges = randomGraph(seed, n = 14, pPct = 25)
      if (edges.nonEmpty) {
        val df = weighted(edges, seed).toDF("user_a", "user_b", "n_meetings")
        val expect = peelCoreness(edges).values.groupBy(identity)
          .map { case (c, xs) => (c.toLong, xs.size.toLong) }.toSeq.sorted
        val got = ContactGraph.from(df).kCoreHistogram(rounds = 24).collect()
          .map(r => (r.getAs[Long]("coreness"), r.getAs[Long]("n_users"))).toSeq.sorted
        assert(got == expect, s"seed=$seed edges=${edges.size}")
        // convergence: more rounds change nothing (the pinned-rounds
        // contract is safe for any rounds >= the fixture's chain)
        val more = ContactGraph.from(df).kCoreHistogram(rounds = 30).collect()
          .map(r => (r.getAs[Long]("coreness"), r.getAs[Long]("n_users"))).toSeq.sorted
        assert(more == expect, s"seed=$seed not converged by 24 rounds")
      }
    }
  }

  test("richClub equals the brute-force induced-subgraph census on random graphs") {
    for (seed <- Seq(3, 17, 42)) {
      val edges = randomGraph(seed, n = 12, pPct = 30)
      if (edges.nonEmpty) {
        val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
        val grid = deg.values.toSeq.distinct.sorted
        val expect = (for {
          k <- grid
          nn = deg.count(_._2 > k).toLong if nn >= 2
        } yield {
          val ne = edges.count(e => deg(e._1) > k && deg(e._2) > k).toLong
          (k, nn, ne, 2.0 * ne / (nn.toDouble * (nn - 1).toDouble))
        }).sorted
        val df = weighted(edges, seed).toDF("user_a", "user_b", "n_meetings")
        val got = ContactGraph.from(df).richClub().collect()
          .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_nodes"),
            r.getAs[Long]("n_edges"), r.getAs[Double]("phi"))).toSeq.sorted
        assert(got == expect, s"seed=$seed edges=${edges.size}")
      }
    }
  }

  test("spectralRadius equals the BigInt recurrence replay on random weighted graphs") {
    for (seed <- Seq(5, 29)) {
      val edges = randomGraph(seed, n = 10, pPct = 35)
      if (edges.nonEmpty) {
        val w = weighted(edges, seed)
        val adj = mutable.Map.empty[Long, mutable.Buffer[(Long, Long)]]
        for ((a, b, ww) <- w) {
          adj.getOrElseUpdate(a, mutable.Buffer.empty) += ((b, ww))
          adj.getOrElseUpdate(b, mutable.Buffer.empty) += ((a, ww))
        }
        var x = adj.keys.map(_ -> BigInt(1000000)).toMap
        var m = BigInt(0)
        for (_ <- 1 to 4) {
          val t = adj.map { case (n, nb) =>
            n -> (nb.map { case (v, ww) => BigInt(ww) * x(v) }.sum + x(n)) }.toMap
          m = t.values.max
          x = t.map { case (n, tv) => n -> tv * 1000000 / m }
        }
        val got = ContactGraph.from(w.toDF("user_a", "user_b", "n_meetings"))
          .spectralRadius(rounds = 4).collect().head
        assert(got.getAs[String]("m_q") == m.toString, s"seed=$seed")
        assert(got.getAs[Long]("n_nodes") == adj.size.toLong)
      }
    }
  }
}
