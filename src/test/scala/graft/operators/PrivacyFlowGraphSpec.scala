package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Hand-computed fixtures for the round's privacy / flow-model / graph
  * cards: lDiversityCells, flowModelCpc, neighborhoodFunction,
  * degreeCorrelation.
  */
class PrivacyFlowGraphSpec extends SparkSpec {
  import spark.implicits._

  // ---- ℓ-diversity --------------------------------------------------

  test("lDiversityCells counts distinct visit hours per published cell only") {
    val h = 3600000000L
    val rows =
      // cell A (lon~0, lat~0): 5 distinct users, hours {1,1,2,2,3} -> l=3
      Seq((1L, 0.0001, 0.0001, 1 * h), (2L, 0.0002, 0.0001, 1 * h),
        (3L, 0.0001, 0.0002, 2 * h), (4L, 0.0003, 0.0001, 2 * h),
        (5L, 0.0002, 0.0002, 3 * h + 60000000L)) ++
      // cell B (lon~0.5): only 2 users -> suppressed at k=5
      Seq((1L, 0.5001, 0.0001, 4 * h), (2L, 0.5002, 0.0001, 5 * h))
    val pts = rows.toDF("user_id", "lon", "lat", "t_us")
    val got = SpatialOps.lDiversityCells(pts, cellMicroDeg = 10000L, k = 5).collect()
    assert(got.length == 1, "only the 5-user cell is published")
    val r = got.head
    assert(r.getAs[Long]("n_users") == 5L)
    assert(r.getAs[Long]("n_points") == 5L)
    assert(r.getAs[Long]("l_hours") == 3L)
  }

  test("tClosenessCells: hand-computed ordered EMD against the global hour distribution") {
    val h = 3600000000L
    // cell A: 4 points all at hour 0 (maximally skewed); cell B: 4 points
    // at hours 0/6/12/18. Global: h0->5, h6/h12/h18->1 each, N = 8.
    // For BOTH cells Σ_{i<23} |P_i·N − Q_i·n| = 6·12 + 6·8 + 6·4 = 144,
    // den = 4·8·23 = 736 → EMD = 144/736 ≈ 0.1957 → 195652 ppm (floor).
    val rows =
      Seq((1L, 0.0001, 0.0001, 0L), (2L, 0.0002, 0.0001, 0L),
        (3L, 0.0001, 0.0002, 0L), (4L, 0.0002, 0.0002, 0L)) ++
      Seq((5L, 0.5001, 0.0001, 0L), (6L, 0.5002, 0.0001, 6 * h),
        (7L, 0.5001, 0.0002, 12 * h), (8L, 0.5002, 0.0002, 18 * h))
    val pts = rows.toDF("user_id", "lon", "lat", "t_us")
    val got = SpatialOps.tClosenessCells(pts, cellMicroDeg = 10000L, k = 1, tPpm = 150000L)
      .collect().map(r => (r.getAs[Long]("cell_x"),
        r.getAs[Long]("emd_ppm"), r.getAs[Boolean]("t_ok"))).sortBy(_._1)
    assert(got.length == 2)
    assert(got.forall(_._2 == 195652L), got.mkString(","))
    assert(got.forall(!_._3), "195652 ppm must fail t = 0.15")
    // a uniform-with-the-corpus cell passes any t: one-cell corpus -> EMD 0
    val uni = SpatialOps.tClosenessCells(
      rows.take(4).toDF("user_id", "lon", "lat", "t_us"), cellMicroDeg = 10000L, k = 1)
      .collect().head
    assert(uni.getAs[Long]("emd_ppm") == 0L && uni.getAs[Boolean]("t_ok"))
  }

  test("lDiversityCells hour bucket is the floor-mod day hour") {
    val pts = Seq(
      (1L, 0.0001, 0.0001, 86400000000L + 3600000000L), // day 2, 01:00 -> hour 1
      (2L, 0.0001, 0.0002, 3600000000L),                //        01:30 -> hour 1
      (3L, 0.0002, 0.0001, 7200000000L),                //        02:00 -> hour 2
      (4L, 0.0002, 0.0002, 0L),
      (5L, 0.0003, 0.0001, 100L)
    ).toDF("user_id", "lon", "lat", "t_us")
    val r = SpatialOps.lDiversityCells(pts, cellMicroDeg = 10000L, k = 5).collect().head
    assert(r.getAs[Long]("l_hours") == 3L) // {1, 2, 0}
  }

  // ---- flow-model CPC ------------------------------------------------

  private def visit(user: Long, id: Long, tMin: Long, loc: Long, lonDeg: Double) =
    (user, id, ts(f"2023-01-01 ${tMin / 60}%02d:${tMin % 60}%02d:00"), lonDeg, 0.0, loc)

  test("flowModelCpc hand-computed radiation CPC on a 3-location fixture") {
    // locations 0,1,2 at lon 0 / 0.01 / 0.03 (lat 0); visits m = (3,2,1);
    // flows 0->1 (obs 2), 0->2 (obs 1). Radiation weights: s(0,1)=0 ->
    // w=floor(1e6*3*2/(3*5))=400000; s(0,2)=m1=2 -> w=floor(1e6*3/(5*6))
    // =100000. O_0=3 -> pred_u = (2.4e6, 0.6e6); obs_u = (2e6, 1e6);
    // CPC = floor(2e6*(2e6+0.6e6)/(3e6+3e6)) = 866666 ppm
    val spLoc = Seq(
      visit(1L, 1L, 0, 0L, 0.0), visit(1L, 2L, 10, 1L, 0.01),
      visit(2L, 3L, 0, 0L, 0.0), visit(2L, 4L, 10, 1L, 0.01),
      visit(3L, 5L, 0, 0L, 0.0), visit(3L, 6L, 10, 2L, 0.03)
    ).toDF("user_id", "id", "started_at", "lon", "lat", "location_id")
    val got = Metrics.flowModelCpc(spLoc).collect()
      .map(r => r.getAs[String]("model") -> (r.getAs[Long]("n_pairs"), r.getAs[Long]("cpc_ppm")))
      .toMap
    assert(got("radiation") == (2L, 866666L))
    // gravity2 weights depend on floored haversine meters; replicate the
    // exact integer math with BigInt as the sequential reference
    val d01 = math.floor(graft.functions.GeoFunctions.haversineMeters(0.0, 0.0, 0.01, 0.0)).toLong
    val d02 = math.floor(graft.functions.GeoFunctions.haversineMeters(0.0, 0.0, 0.03, 0.0)).toLong
    val w1 = BigInt("1000000000000") * 3 * 2 / (BigInt(d01) * d01)
    val w2 = BigInt("1000000000000") * 3 * 1 / (BigInt(d02) * d02)
    val p1 = BigInt(3) * 1000000 * w1 / (w1 + w2)
    val p2 = BigInt(3) * 1000000 * w2 / (w1 + w2)
    val cpc = BigInt(2000000) * (p1.min(BigInt(2000000)) + p2.min(BigInt(1000000))) /
      (p1 + p2 + 3000000)
    assert(got("gravity2") == (2L, cpc.toLong))
  }

  test("flowModelCpc reads exactly 1e6 when every origin has one destination") {
    val spLoc = Seq(
      visit(1L, 1L, 0, 0L, 0.0), visit(1L, 2L, 10, 1L, 0.01),
      visit(2L, 3L, 0, 1L, 0.01), visit(2L, 4L, 10, 2L, 0.03)
    ).toDF("user_id", "id", "started_at", "lon", "lat", "location_id")
    val got = Metrics.flowModelCpc(spLoc).collect()
    assert(got.length == 2)
    got.foreach(r => assert(r.getAs[Long]("cpc_ppm") == 1000000L, r.toString))
  }

  // ---- neighborhood function ----------------------------------------

  private val path = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    .toDF("user_a", "user_b")

  // the graph fixtures carry no weights; the BFS and degree diagnostics
  // never read them
  private def unweighted(pairs: DataFrame): ContactGraph =
    ContactGraph.from(pairs.withColumn("n_meetings", lit(1L)))

  test("neighborhoodFunction on a 6-path with all seeds matches hand counts") {
    val got = unweighted(path).neighborhoodFunction(seedsMod = 1L, maxHops = 3)
      .collect().map(r => r.getAs[Long]("h") -> r.getAs[Long]("n_pairs")).toMap
    // ordered (seed, node) pairs at distance <= h on P6:
    // dist 1: 10, dist 2: +8, dist 3: +6
    assert(got == Map(1L -> 10L, 2L -> 18L, 3L -> 24L))
  }

  test("neighborhoodFunction seed slice bounds the closure (seed 0 only)") {
    val got = unweighted(path).neighborhoodFunction(seedsMod = 8L, maxHops = 3)
      .collect().map(r => r.getAs[Long]("h") -> r.getAs[Long]("n_pairs")).toMap
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("neighborhoodFunction saturates on a star at h=2") {
    val star = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L)).toDF("user_a", "user_b")
    val got = unweighted(star).neighborhoodFunction(seedsMod = 1L, maxHops = 3)
      .collect().map(r => r.getAs[Long]("h") -> r.getAs[Long]("n_pairs")).toMap
    assert(got == Map(1L -> 8L, 2L -> 20L, 3L -> 20L))
  }

  // ---- knn(k) curve ---------------------------------------------------

  test("degreeCorrelation on a star: hub sees degree-1, leaves see degree-4") {
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("user_a", "user_b")
    val got = unweighted(star).degreeCorrelation().collect()
      .map(r => r.getAs[Long]("degree") ->
        ((r.getAs[Long]("n_nodes"), r.getAs[Long]("sum_neighbor_degree"), r.getAs[Long]("knn_ppm"))))
      .toMap
    assert(got(4L) == ((1L, 4L, 1000000L)))
    assert(got(1L) == ((4L, 16L, 4000000L)))
  }

  test("degreeCorrelation on a triangle is flat at its own degree") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("user_a", "user_b")
    val got = unweighted(tri).degreeCorrelation().collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("degree") == 2L && r.getAs[Long]("n_nodes") == 3L &&
      r.getAs[Long]("sum_neighbor_degree") == 12L && r.getAs[Long]("knn_ppm") == 2000000L)
  }
}
