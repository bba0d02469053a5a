package graft.operators

import graft.SparkSpec

class KCoreRichClubSpec extends SparkSpec {
  import spark.implicits._

  // triangle {1,2,3} with a tail 3–4–5: peeling removes 5 (deg 1), then 4
  // (deg drops to 1), leaving the triangle as the 2-core — coreness
  // (1,2,3)→2, (4,5)→1
  private val trianglePlusTail = Seq(
    (1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (4L, 5L, 1L))
    .toDF("user_a", "user_b", "n_meetings")

  test("iterated h-index reaches the peeling coreness on triangle+tail") {
    val hist = ContactGraph.from(trianglePlusTail).kCoreHistogram(rounds = 4)
      .orderBy("coreness").collect()
      .map(r => (r.getAs[Long]("coreness"), r.getAs[Long]("n_users")))
    assert(hist.toSeq == Seq((1L, 2L), (2L, 3L)))
  }

  test("star graph is 1-core everywhere despite the hub's high degree") {
    val star = Seq((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L), (0L, 4L, 1L))
      .toDF("user_a", "user_b", "n_meetings")
    val hist = ContactGraph.from(star).kCoreHistogram(rounds = 4).collect()
    assert(hist.length == 1)
    assert(hist.head.getAs[Long]("coreness") == 1L)
    assert(hist.head.getAs[Long]("n_users") == 5L)
  }

  test("h-index trajectory is already fixed after round 2 on the fixture") {
    // rounds beyond convergence must not change the histogram (the gate
    // pins rounds = 4; this guards the engine-exact convention)
    val h2 = ContactGraph.from(trianglePlusTail).kCoreHistogram(rounds = 2)
      .orderBy("coreness").collect().toSeq.map(_.toSeq)
    val h6 = ContactGraph.from(trianglePlusTail).kCoreHistogram(rounds = 6)
      .orderBy("coreness").collect().toSeq.map(_.toSeq)
    assert(h2 == h6)
  }

  test("rich club curve matches the hand computation on triangle+tail") {
    // degrees: 1→2, 2→2, 3→3, 4→2, 5→1; thresholds k=1 and k=2 qualify
    // k=1: nodes {1,2,3,4} (deg>1), induced edges {12,13,23,34} → φ=8/12
    val rows = ContactGraph.from(trianglePlusTail).richClub()
      .orderBy("k").collect()
    assert(rows.length == 1) // k=2 leaves a single node (3) → filtered
    val r = rows.head
    assert(r.getAs[Long]("k") == 1L)
    assert(r.getAs[Long]("n_nodes") == 4L)
    assert(r.getAs[Long]("n_edges") == 4L)
    assert(math.abs(r.getAs[Double]("phi") - 2.0 * 4 / (4 * 3)) < 1e-15)
  }

  test("spectral radius: exact on eigen-uniform fixtures, replay-exact on the star") {
    // K3, w=1: the uniform vector IS the (A+I) eigenvector, so every
    // round reads m = 3e6 exactly and λ = 3e6/1e6 − 1 = 2 (= λ_max(K3))
    val k3 = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L))
      .toDF("user_a", "user_b", "n_meetings")
    val r3 = ContactGraph.from(k3).spectralRadius(rounds = 4).collect().head
    assert(r3.getAs[String]("m_q") == "3000000" && r3.getAs[Double]("lambda_max") == 2.0)
    // single pair with weight 5: λ_max(A) = 5, exact at every round
    val pair = Seq((1L, 2L, 5L)).toDF("user_a", "user_b", "n_meetings")
    val rp = ContactGraph.from(pair).spectralRadius(rounds = 2).collect().head
    assert(rp.getAs[Double]("lambda_max") == 5.0)
    // star K1,4 (bipartite — the +I shift prevents the period-2
    // oscillation): operator trajectory equals a BigInt replay of the
    // same recurrence, floor renormalization and all
    val star = Seq((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L), (0L, 4L, 1L))
      .toDF("user_a", "user_b", "n_meetings")
    val adj: Map[Long, Seq[(Long, Long)]] =
      (1L to 4L).map(l => l -> Seq((0L, 1L))).toMap + (0L -> (1L to 4L).map((_, 1L)))
    var x = adj.keys.map(_ -> BigInt(1000000)).toMap
    var m = BigInt(0)
    for (_ <- 1 to 4) {
      val t = adj.map { case (n, nb) =>
        n -> (nb.map { case (v, w) => BigInt(w) * x(v) }.sum + x(n)) }
      m = t.values.max
      x = t.map { case (n, tv) => n -> tv * 1000000 / m }
    }
    val rs = ContactGraph.from(star).spectralRadius(rounds = 4).collect().head
    assert(rs.getAs[String]("m_q") == m.toString, s"got ${rs.getAs[String]("m_q")}, want $m")
    assert(rs.getAs[Long]("n_nodes") == 5L)
  }

  test("rich club on a clique is density 1 at every reported threshold") {
    val k4 = (for { a <- 0L to 3L; b <- (a + 1) to 3L } yield (a, b, 1L))
      .toDF("user_a", "user_b", "n_meetings")
    val rows = ContactGraph.from(k4).richClub().collect()
    // all degrees are 3 → the only threshold strictly below is absent;
    // the merged domain is {3} alone with zero nodes above it → filtered
    assert(rows.isEmpty)
    // clique + one pendant: thresholds {1, 3}; k=1 keeps the clique
    val k4p = k4.union(Seq((3L, 9L, 1L)).toDF("user_a", "user_b", "n_meetings"))
    val rs = ContactGraph.from(k4p).richClub().orderBy("k").collect()
    assert(rs.map(_.getAs[Long]("k")).toSeq == Seq(1L))
    assert(rs.head.getAs[Long]("n_nodes") == 4L)
    assert(rs.head.getAs[Long]("n_edges") == 6L)
    assert(math.abs(rs.head.getAs[Double]("phi") - 1.0) < 1e-15)
  }
}
