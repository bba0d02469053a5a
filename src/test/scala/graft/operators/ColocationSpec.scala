package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ColocationSpec extends SparkSpec {
  import spark.implicits._

  // (id, user_id, s_us, f_us, lon, lat)
  private def df(rows: (Long, Long, Long, Long, Double, Double)*) =
    rows.toDF("id", "user_id", "s_us", "f_us", "lon", "lat")

  private val M = 60000000L // one minute in us

  test("overlapping stays in the same cell pair up; different cells or disjoint times don't") {
    val intervals = df(
      (0L, 1L, 0L, 60 * M, -122.4, 47.6),        // A: 0-60min at cell X
      (1L, 2L, 30 * M, 90 * M, -122.4, 47.6),    // B: 30-90min at cell X -> meets A 30min
      (2L, 3L, 0L, 60 * M, -122.3, 47.6),        // C: same time, different cell
      (3L, 4L, 120 * M, 180 * M, -122.4, 47.6))  // D: same cell, later
    val got = SpatialOps.colocationPairs(intervals, bandMinutes = 120.0)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 1L, 30 * M)))
  }

  test("pairs spanning multiple time bands count exactly once") {
    val intervals = df(
      (0L, 1L, 0L, 300 * M, -122.4, 47.6),   // 0-5h: touches bands 0,1,2 at 2h bands
      (1L, 2L, 10 * M, 290 * M, -122.4, 47.6))
    val got = SpatialOps.colocationPairs(intervals, bandMinutes = 120.0)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 1L, 280 * M)))
  }

  test("colocationDegrees: endpoint explode gives each user its distinct-contact count") {
    // star: user 1 meets 2, 3, 4; plus the isolated pair (5, 6)
    val intervals = df(
      (0L, 1L, 0L, 100 * M, -122.4, 47.6),
      (1L, 2L, 10 * M, 20 * M, -122.4, 47.6),
      (2L, 3L, 30 * M, 40 * M, -122.4, 47.6),
      (3L, 4L, 50 * M, 60 * M, -122.4, 47.6),
      (4L, 5L, 0L, 30 * M, -122.2, 47.6),
      (5L, 6L, 10 * M, 40 * M, -122.2, 47.6))
    val hist = ContactGraph.from(
      SpatialOps.colocationPairs(intervals, bandMinutes = 120.0)).colocationDegrees()
      .select("bucket", "n_users", "sum_degree", "bucket_lo")
      .as[(Long, Long, Long, Long)].collect().toSet
    // degrees: user1 -> 3 (bucket 1), users 2,3,4,5,6 -> 1 (bucket 0)
    assert(hist == Set((1L, 1L, 3L, 2L), (0L, 5L, 5L, 1L)))
  }

  test("hotspotCells: focal sums count the 3x3 neighborhood, share sums to the total") {
    // 1-degree cells: (0,0) x3, (1,0) x2 (adjacent), (3,3) x1 (isolated)
    val pts = Seq(
      (0.5, 0.5), (0.4, 0.6), (0.6, 0.4),
      (1.5, 0.5), (1.4, 0.6),
      (3.5, 3.5)).toDF("lon", "lat")
    val got = SpatialOps.hotspotCells(pts, cellMicroDeg = 1000000L)
      .select("cell_x", "cell_y", "n_points", "focal_points", "focal_share")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got((0L, 0L)) == ((3L, 5L, 5.0 / 6.0)))
    assert(got((1L, 0L)) == ((2L, 5L, 5.0 / 6.0)))
    assert(got((3L, 3L)) == ((1L, 1L, 1.0 / 6.0)))
    assert(got.size == 3) // neighbor-only cells don't appear in the output
  }

  test("colocationComponents: star and isolated pair give sizes 4 and 2") {
    val intervals = df(
      (0L, 1L, 0L, 100 * M, -122.4, 47.6),
      (1L, 2L, 10 * M, 20 * M, -122.4, 47.6),
      (2L, 3L, 30 * M, 40 * M, -122.4, 47.6),
      (3L, 4L, 50 * M, 60 * M, -122.4, 47.6),
      (4L, 5L, 0L, 30 * M, -122.2, 47.6),
      (5L, 6L, 10 * M, 40 * M, -122.2, 47.6))
    val got = SpatialOps.colocationComponents(
      SpatialOps.colocationPairs(intervals, bandMinutes = 120.0))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(4L -> 1L, 2L -> 1L))
  }

  test("interContactTimes: gaps between successive meetings; back-to-back and sub-second drop") {
    val meetings = Seq(
      (1L, 2L, 0L, 10 * M),            // pair (1,2): meeting 1
      (1L, 2L, 20 * M, 30 * M),        // gap 10 min = 600 s -> bucket 9
      (1L, 2L, 30 * M, 35 * M),        // back-to-back: gap 0 -> dropped
      (1L, 2L, 35 * M + 500000L, 40 * M), // 0.5 s gap -> dropped
      (3L, 4L, 0L, 1 * M),
      (3L, 4L, 3 * M, 4 * M))          // gap 2 min = 120 s -> bucket 6
      .toDF("user_a", "user_b", "m_s_us", "m_f_us")
    val got = SpatialOps.interContactTimes(meetings)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(9L -> ((1L, 600L)), 6L -> ((1L, 120L))))
  }

  test("colocationPagerank: ranks equal a local integer replay; hub ranks highest") {
    // path graph 1 -(w2)- 2 -(w1)- 3 plus leaf 4 -(w1)- 2: node 2 is the hub
    val pairs = Seq((1L, 2L, 2L, 0L), (2L, 3L, 1L, 0L), (2L, 4L, 1L, 0L))
      .toDF("user_a", "user_b", "n_meetings", "overlap_us")
    val iters = 3
    val got = ContactGraph.from(pairs).colocationPagerank(iters = iters)
      .as[(Long, Long)].collect().toMap
    // replay: symmetric edges, weighted degrees, floor-division flow
    val edges = Seq((1L, 2L, 2L), (2L, 1L, 2L), (2L, 3L, 1L), (3L, 2L, 1L),
      (2L, 4L, 1L), (4L, 2L, 1L))
    val deg = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = deg.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (s, _, w) =>
        (BigInt(r(s)) * 85 * w / (100 * deg(s))).toLong
      }.sum).toMap
      r = deg.keys.map(u => u -> (150000L + in.getOrElse(u, 0L))).toMap
    }
    assert(got == r)
    assert(got(2L) > got(1L) && got(1L) > got(3L) && got(3L) == got(4L))
  }

  test("matches a brute-force pair scan on a random-ish fixture") {
    val rows = (0 until 80).map { i =>
      val u = (i % 7).toLong + 1
      val s = (i * 17 % 50).toLong * M
      val len = ((i * 13) % 40 + 1).toLong * M
      val lon = -122.4 + ((i * 3) % 4) * 0.01
      (i.toLong, u, s, s + len, lon, 47.6)
    }
    val got = SpatialOps.colocationPairs(df(rows: _*), bandMinutes = 30.0)
      .as[(Long, Long, Long, Long)].collect().toSet
    def cell(c: Double): Long =
      math.floor(math.floor(c * 1e6 + 0.5) / 10000.0).toLong
    val want = (for {
      a <- rows; b <- rows
      if a._2 < b._2
      if cell(a._5) == cell(b._5) && cell(a._6) == cell(b._6)
      if a._3 < b._4 && b._3 < a._4
    } yield (a._2, b._2, math.min(a._4, b._4) - math.max(a._3, b._3)))
      .groupBy(p => (p._1, p._2))
      .map { case ((ua, ub), ps) => (ua, ub, ps.size.toLong, ps.map(_._3).sum) }.toSet
    assert(got == want)
  }

  test("spreadFactor tiles the pair space without changing the output") {
    // the random-ish fixture again: meetings at g = 1 (plain join) must
    // equal g = 3 and g = 8 (every pair meets exactly once, at tile
    // (hash(a) mod g, hash(b) mod g)), and the spread join must key on
    // the grid columns
    val rows = (0 until 80).map { i =>
      val u = (i % 7).toLong + 1
      val s = (i * 17 % 50).toLong * M
      val len = ((i * 13) % 40 + 1).toLong * M
      val lon = -122.4 + ((i * 3) % 4) * 0.01
      (i.toLong, u, s, s + len, lon, 47.6)
    }
    def meet(g: Int) = SpatialOps.colocationMeetings(df(rows: _*), bandMinutes = 30.0,
      spreadFactor = g).as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val plain = meet(1)
    assert(plain.nonEmpty)
    assert(meet(3) == plain && meet(8) == plain)
    val plan = SpatialOps.colocationMeetings(df(rows: _*), bandMinutes = 30.0, spreadFactor = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_ga") && plan.contains("_gb"), plan)
  }

  test("candidates meet through the (cell, band) equi-join — no cartesian product") {
    val rows = (0 until 50).map(i => (i.toLong, (i % 5).toLong, (i % 10).toLong * M,
      (i % 10 + 5).toLong * M, -122.4, 47.6))
    val plan = SpatialOps.colocationPairs(df(rows: _*)).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("LPA communities: two triangles over a weak bridge split exactly; modularity rational") {
    // triangles {1,2,3} and {4,5,6} with w=10 edges, bridge (3,4) w=1;
    // 3 synchronous rounds converge to labels 1 and 4 (hand-traced with
    // the weight-desc/label-asc tie-break)
    val pairs = Seq(
      (1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
      (3L, 4L, 1L)).toDF("user_a", "user_b", "n_meetings")
    val got = ContactGraph.from(pairs).colocationCommunities(rounds = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // W = 61; each community: w_in = 30, degree_sum = 61
    // Q = 2 * (4*61*30 - 61^2) / (4*61^2) = 7198 / 14884
    assert(got.keySet == Set(1L, 4L))
    assert(got(1L) === ((3L, 30L, 61L, 7198.0 / 14884.0)))
    assert(got(4L) === ((3L, 30L, 61L, 7198.0 / 14884.0)))
  }

  test("Louvain one-level: triangle pair converges under the parity schedule; Q matches LPA") {
    import spark.implicits._
    // same fixture as LPA. Schedule classes come from the parity of the
    // node's 0-based dense rank in id order (1,3,5 → class 0 move in
    // even rounds; 2,4,6 → class 1 move in odd rounds), so the two
    // triangles converge to the class-0 anchors: c1={1,2,3}, c5={4,5,6}
    // — the fully synchronous sweep oscillates on this graph (1↔2 and
    // 5↔6 swap forever), which is what the two-coloring schedule exists
    // to prevent.
    val pairs = Seq(
      (1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
      (3L, 4L, 1L)).toDF("user_a", "user_b", "n_meetings")
    val g = ContactGraph.from(pairs)
    val got = g.colocationLouvain(g.louvainLabels(rounds = 4))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set(1L, 5L), got.keySet)
    assert(got(1L) === ((3L, 30L, 61L, 7198.0 / 14884.0)))
    assert(got(5L) === ((3L, 30L, 61L, 7198.0 / 14884.0)))
    // the gain objective recovers the same partition LPA's plurality
    // rule finds here — equal exact-rational modularity
    val qLpa = ContactGraph.from(pairs).colocationCommunities(rounds = 3)
      .select("modularity").as[Double].head()
    assert(got(1L)._4 == qLpa)
  }

  test("Louvain schedule is rank-based: an all-even id population still alternates classes") {
    import spark.implicits._
    // the triangle-pair fixture with every id doubled: raw-id parity
    // would put ALL nodes in one class (every id even) and run the fully
    // synchronous sweep the coloring exists to prevent; dense-rank
    // parity alternates regardless of the id population, so the result
    // is the relabeled image of the 1..6 fixture's optimum
    val even = Seq(
      (2L, 4L, 10L), (2L, 6L, 10L), (4L, 6L, 10L),
      (8L, 10L, 10L), (8L, 12L, 10L), (10L, 12L, 10L),
      (6L, 8L, 1L)).toDF("user_a", "user_b", "n_meetings")
    val g = ContactGraph.from(even)
    val got = g.colocationLouvain(g.louvainLabels(rounds = 4))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set(2L, 10L), got.keySet)
    assert(got.values.toSet == Set((3L, 30L, 61L, 7198.0 / 14884.0)), got)
  }

  test("Louvain level 2: collapse keeps a good partition and improves an under-merged one") {
    import spark.implicits._
    // (a) the triangle-pair fixture: level 1 already finds the optimal
    // split, merging the two supernodes would drop Q to 0 — level 2 must
    // keep them apart and reproduce level 1's stats exactly
    val barbell = Seq(
      (1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
      (3L, 4L, 1L)).toDF("user_a", "user_b", "n_meetings")
    val gb = ContactGraph.from(barbell)
    val l2a = gb.colocationLouvainL2(gb.louvainLabels(rounds = 4), rounds2 = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(l2a.keySet.size == 2, l2a.keySet)
    assert(l2a.values.toSet == Set((3L, 30L, 61L, 7198.0 / 14884.0)), l2a)

    // (b) a uniform path P12: the parity-schedule one-level pass leaves
    // small chain fragments; phase 2 on the collapsed graph merges them
    // — Q strictly improves and the community count drops
    val path = (1L to 11L).map(i => (i, i + 1, 1L)).toDF("user_a", "user_b", "n_meetings")
    def q(df: org.apache.spark.sql.DataFrame): (Double, Long) = {
      val rows = df.select("modularity", "community").collect()
      (rows.head.getDouble(0), rows.length.toLong)
    }
    val gp = ContactGraph.from(path)
    val (q1, n1) = q(gp.colocationLouvain(gp.louvainLabels(rounds = 4)))
    val (q2, n2) = q(gp.colocationLouvainL2(gp.louvainLabels(rounds = 4), rounds2 = 4))
    assert(q2 >= q1, s"Q(l2)=$q2 < Q(l1)=$q1")
    assert(n2 <= n1, s"communities grew: $n1 -> $n2")
    assert(q2 > q1, s"expected strict improvement on P12: $q1 -> $q2 ($n1 -> $n2 communities)")

    // (c) the resolution-limit case phase 2 exists for (Blondel et al.
    // 2008 §2; Fortunato & Barthélemy 2007): two w=10 triangles over a
    // w=9 bridge plus a remote heavy pair inflating W — no single NODE
    // gains by crossing the bridge (own-clique k_in 10 beats bridge
    // k_in 9), but merging the two cliques as BLOCKS gains exactly
    // 4W·w_b − 2·d₁·d₂ = 4·1069·9 − 2·69² > 0. Hand-traced: level 1
    // finds {1,2,3}, {4,5,6}, {7,8} (qn 523038); level 2 merges the
    // cliques (qn 552000)
    val cliques = Seq(
      (1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
      (3L, 4L, 9L), (7L, 8L, 1000L)).toDF("user_a", "user_b", "n_meetings")
    val gc = ContactGraph.from(cliques)
    val (q1c, n1c) = q(gc.colocationLouvain(gc.louvainLabels(rounds = 4)))
    assert(n1c == 3, s"level 1 should find the 3 groups, got $n1c")
    val l2c = gc.colocationLouvainL2(gc.louvainLabels(rounds = 4), rounds2 = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val qExp = 552000.0 / 4571044.0 // (4W·69 − 138² + 4W·1000 − 2000²) / 4W², W = 1069
    assert(l2c.values.map(_._1).toSeq.sorted == Seq(2L, 6L), l2c)
    assert(l2c.values.find(_._1 == 6L).get == ((6L, 69L, 138L, qExp)), l2c)
    assert(l2c.values.find(_._1 == 2L).get == ((2L, 1000L, 2000L, qExp)), l2c)
    assert(qExp > q1c)
  }

  test("Louvain level 1: driver-side small-graph pass is bit-identical to the distributed pass") {
    import spark.implicits._
    val fixtures = Seq(
      (1L to 11L).map(i => (i, i + 1, 1L)),
      Seq((1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
        (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
        (3L, 4L, 9L), (7L, 8L, 1000L)),
      (1L to 24L).flatMap(i => Seq((i, i % 24 + 1, 2L), (i, (i + 7) % 24 + 1, 1L))),
    )
    for ((fx, i) <- fixtures.zipWithIndex) {
      val pairs = fx.toDF("user_a", "user_b", "n_meetings")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity)
      val local = rows(ContactGraph.from(pairs).louvainLabels(rounds = 3))
      val dist = rows(ContactGraph.from(pairs).louvainLabels(rounds = 3, localThreshold = 0L))
      assert(local.toSeq == dist.toSeq, s"fixture $i: local != distributed")
    }
  }

  test("Louvain level 2: driver-side small-graph pass is bit-identical to the distributed pass") {
    import spark.implicits._
    // the local fallback must be an EXACT replica (same schedule, same
    // tie-breaks, same integer gains): run both paths — localThreshold=0
    // forces the distributed pass — over fixtures that exercise merges,
    // parity fragments, and the resolution-limit block move
    val fixtures = Seq(
      (1L to 11L).map(i => (i, i + 1, 1L)),
      Seq((1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
        (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
        (3L, 4L, 9L), (7L, 8L, 1000L)),
      (1L to 24L).flatMap(i => Seq((i, i % 24 + 1, 2L), (i, (i + 7) % 24 + 1, 1L))),
    )
    for ((fx, i) <- fixtures.zipWithIndex) {
      val pairs = fx.toDF("user_a", "user_b", "n_meetings")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).sortBy(t => (t._1, t._2))
      val g = ContactGraph.from(pairs)
      val local = rows(g.colocationLouvainL2(g.louvainLabels(rounds = 3), rounds2 = 3))
      val dist = rows(g.colocationLouvainL2(g.louvainLabels(rounds = 3), rounds2 = 3,
        localThreshold = 0L))
      assert(local.toSeq == dist.toSeq, s"fixture $i: local != distributed")
    }
  }

  test("Leiden refinement: a vacated-hub community splits into components, Q strictly up") {
    import spark.implicits._
    // hand-traced under the rank-parity schedule with rounds = 2: nodes
    // {0,1,2,8,9} get ranks {0,1,2,3,4}, so {1,8} (rank-odd) move in r1
    // and {0,2,9} in r2. The hub 0 bridges leaves 1 and 2 (w=1 each) but
    // is pulled away by the heavy pair edge 0–9 (w=10, 9–8 w=10).
    // r1: 1→c0, 8→c9; r2: 0→c9 (gain 80 beats staying, 32) and 2→c0 —
    // leaving community 0 = {1, 2}, whose members share NO edge (they
    // only connected through the departed hub). W = 22; qn(louvain) =
    // (0 − 2²) + (4·22·20 − 42²) = −8; refined splits {1,2} → {1},{2}:
    // qn = −1 − 1 − 4 = −6 (the +2·d₁·d₂ = +2 split bonus).
    val pairs = Seq(
      (0L, 1L, 1L), (0L, 2L, 1L), (0L, 9L, 10L), (8L, 9L, 10L))
      .toDF("user_a", "user_b", "n_meetings")
    val g = ContactGraph.from(pairs)
    val audit = g.louvainConnectivity(g.louvainLabels(rounds = 2))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(audit(0L) == ((2L, 2L, false)), s"community 0 must audit disconnected: $audit")
    assert(audit(9L) == ((3L, 1L, true)), audit)

    val refined = g.colocationLouvainRefined(g.louvainLabels(rounds = 2))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val qRef = -6.0 / 1936.0
    assert(refined.keySet == Set(0L, 1L, 2L), refined.keySet)
    assert(refined(1L) == ((1L, 0L, 1L, qRef)), refined)
    assert(refined(2L) == ((1L, 0L, 1L, qRef)), refined)
    assert(refined(0L) == ((3L, 20L, 42L, qRef)), refined)
    val qL1 = g.colocationLouvain(g.louvainLabels(rounds = 2))
      .select("modularity").as[Double].head()
    assert(qRef > qL1, s"refinement must strictly improve: $qL1 -> $qRef")

    // on a fixture whose communities are already connected, refinement
    // is the identity
    val barbell = Seq(
      (1L, 2L, 10L), (1L, 3L, 10L), (2L, 3L, 10L),
      (4L, 5L, 10L), (4L, 6L, 10L), (5L, 6L, 10L),
      (3L, 4L, 1L)).toDF("user_a", "user_b", "n_meetings")
    val gb = ContactGraph.from(barbell)
    val rb = gb.colocationLouvainRefined(gb.louvainLabels(rounds = 4))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSet
    assert(rb == Set((3L, 30L, 61L, 7198.0 / 14884.0)), rb)
  }

  test("clustering: triangle+pendant gives exact local and global coefficients") {
    import spark.implicits._
    // triangle {1,2,3} plus pendant 4 on 3: degrees 2,2,3,1;
    // wedges = 1+1+3+0 = 5, triangles = 1, global C = 3/5
    val pairs = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("user_a", "user_b", "n_meetings")
    val local = SpatialOps.colocationClustering(pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(local.keySet == Set(1L, 2L, 3L), local.keySet) // degree-1 node 4 drops
    assert(local(1L) == ((2L, 1L, 1.0)))
    assert(local(2L) == ((2L, 1L, 1.0)))
    assert(local(3L) == ((3L, 1L, 1.0 / 3.0)))
    val g = SpatialOps.colocationTransitivity(pairs)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(g == ((4L, 4L, 5L, 1L, 0.6)), g)
    // a 4-clique: every node cc = 1, global = 1 (4 triangles, 12 wedges)
    val k4 = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 1L),
      (2L, 3L, 1L), (2L, 4L, 1L), (3L, 4L, 1L)).toDF("user_a", "user_b", "n_meetings")
    val gk = SpatialOps.colocationTransitivity(k4)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(gk == ((4L, 6L, 12L, 4L, 1.0)), gk)
  }

  test("assortativity: star graph reads exactly -1, path graph exactly -0.5") {
    import spark.implicits._
    val star = Seq((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L))
      .toDF("user_a", "user_b", "n_meetings")
    val rStar = ContactGraph.from(star).colocationAssortativity()
      .select("assortativity").as[Double].head()
    assert(rStar == -1.0, s"hub-to-leaf only must be perfectly disassortative, got $rStar")
    val path = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L))
      .toDF("user_a", "user_b", "n_meetings")
    val rPath = ContactGraph.from(path).colocationAssortativity()
      .select("assortativity").as[Double].head()
    assert(rPath == -0.5, s"4-path: (4*3*8-100)/(2*3*18-100) = -0.5, got $rPath")
  }

  test("trajectoryNearPairs: banding lossless vs brute force, incl. a near-radius pair") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq((-122.4000, 47.6000), (-122.3990, 47.6005))),  // A
      (2L, Seq((-122.4001, 47.6001), (-122.3991, 47.6006))),  // ~13 m from A
      (3L, Seq((-122.3700, 47.6000), (-122.3690, 47.6005))),  // ~2.2 km away
      (4L, Seq((-122.4030, 47.6000), (-122.4020, 47.6005)))   // ~225 m from A: inside
                                                              // radius but bbox-disjoint,
                                                              // so only the PAD finds it
    ).toDF("id", "raw")
      .select(col("id"), transform(col("raw"),
        p => struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"))).as("points"))
    val got = SpatialOps.trajectoryNearPairs(df, radiusM = 300.0)
      .select("id_1", "id_2", "distance_m").as[(Long, Long, Long)].collect().toSet
    val brute = SpatialOps.distanceMatrixLinestrings(df, "hausdorff")
      .filter(col("distance_m") <= 300.0)
      .select(col("id_1"), col("id_2"), floor(col("distance_m")).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute, s"banded $got vs brute $brute")
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L), (1L, 4L), (2L, 4L)), got)
    // pair-space tiling (the hot-neighborhood lever) is output-identical
    val tiled = SpatialOps.trajectoryNearPairs(df, radiusM = 300.0, spreadFactor = 4)
      .select("id_1", "id_2", "distance_m").as[(Long, Long, Long)].collect().toSet
    assert(tiled == got, s"g=4 $tiled vs g=1 $got")
  }

  test("distanceMatrixLinestringsBounded delegates to the banded path — no cartesian") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq((-122.4000, 47.6000), (-122.3990, 47.6005))),
      (2L, Seq((-122.4001, 47.6001), (-122.3991, 47.6006))),
      (3L, Seq((-122.3700, 47.6000), (-122.3690, 47.6005))),
      (4L, Seq((-122.4030, 47.6000), (-122.4020, 47.6005)))
    ).toDF("id", "raw")
      .select(col("id"), transform(col("raw"),
        p => struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"))).as("points"))
    val bounded = SpatialOps.distanceMatrixLinestringsBounded(df, "hausdorff", maxDistanceM = 300.0)
    val plan = bounded.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
    val got = bounded.select("id_1", "id_2", "distance_m").as[(Long, Long, Long)].collect().toSet
    val brute = SpatialOps.distanceMatrixLinestrings(df, "hausdorff")
      .filter(col("distance_m") <= 300.0)
      .select(col("id_1"), col("id_2"), floor(col("distance_m")).cast("long"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute, s"bounded $got vs brute $brute")
    // the unbounded reference-parity form IS the cross join (fixture scale only)
    val full = SpatialOps.distanceMatrixLinestrings(df, "hausdorff")
      .queryExecution.executedPlan.toString
    assert(full.contains("CartesianProduct") || full.contains("BroadcastNestedLoopJoin"), full)
  }

  test("trajectoryNearPairs: pad contract is runtime-enforced; high latitude works when declared") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq((18.9500, 69.6500), (18.9510, 69.6505))),   // Tromsø, ~69.65°N
      (2L, Seq((18.9550, 69.6500), (18.9560, 69.6505)))    // ~194 m east of 1
    ).toDF("id", "raw")
      .select(col("id"), transform(col("raw"),
        p => struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"))).as("points"))
    // the old fixed 6000 µdeg default covers under 300 m above ~63°:
    // explicitly passing it with the latitude declared must THROW, not
    // silently drop the pair
    val ex = intercept[IllegalArgumentException] {
      SpatialOps.trajectoryNearPairs(df, radiusM = 300.0, padMicroDeg = 6000L,
        maxAbsLatDeg = 75.0)
    }
    assert(ex.getMessage.contains("padMicroDeg"), ex.getMessage)
    // derived pad at the declared latitude finds the near-radius pair
    val got = SpatialOps.trajectoryNearPairs(df, radiusM = 300.0, maxAbsLatDeg = 75.0)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)), got)
    // DATA above the declared envelope (default 66°) with default
    // parameters must fail LOUDLY at runtime — the parameter require
    // alone can't see the data, and the too-small derived pad would
    // otherwise silently drop near-radius pairs
    val thrown = intercept[Throwable] {
      SpatialOps.trajectoryNearPairs(df, radiusM = 300.0).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(thrown).exists(c =>
      String.valueOf(c.getMessage).contains("maxAbsLatDeg")), thrown.toString)
  }

  test("trajectoryNearPairs: candidates meet through the cell equi-join — no cartesian") {
    import spark.implicits._
    val df = Seq((1L, Seq((-122.4, 47.6), (-122.39, 47.6005))),
        (2L, Seq((-122.40, 47.6001), (-122.391, 47.6004))))
      .toDF("id", "raw")
      .select(col("id"), transform(col("raw"),
        p => struct(p.getField("_1").as("lon"), p.getField("_2").as("lat"))).as("points"))
    val plan = SpatialOps.trajectoryNearPairs(df).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("convoyPairs: consecutive band runs survive, interrupted contact does not") {
    import spark.implicits._
    val B = 7200000000L // 120-minute band in micros
    val meetings = Seq(
      (1L, 2L, 0L, 2 * B),          // one long meeting covering bands 0..1
      (1L, 2L, B / 2, B / 2 + 10L), // duplicate coverage of band 0 — distinct collapses
      (1L, 3L, 0L, 10L),            // band 0 ...
      (1L, 3L, 2 * B, 2 * B + 10L), // ... band 2: interrupted, both runs < 2
      (2L, 3L, 3 * B, 3 * B + 10L), // three adjacent short meetings chain a run
      (2L, 3L, 4 * B, 4 * B + 10L),
      (2L, 3L, 5 * B, 5 * B + 10L)
    ).toDF("user_a", "user_b", "m_s_us", "m_f_us")
    val got = SpatialOps.convoyPairs(meetings, bandMinutes = 120.0, minConsecutive = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 0L, 2L), (2L, 3L, 3L, 3L)))
  }
}
