package graft.operators

import graft.functions.GeoFunctions
import graft.model.Tables
import graft.util.{Ids, SortedScan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Location generation: cluster staypoints with DBSCAN (haversine metric)
  * and dissolve each cluster to a center + convex-hull extent.
  *
  * Reference: trackintel/preprocessing/staypoints.py:13-239. Spark-native
  * plan for `agg_level="user"` (the default): users are independent, so
  * each user's staypoints are one [[SortedScan]] run on `user_id` (the
  * same shuffle axis as the rest of the pipeline). Per-user staypoint
  * counts are small, so an exact in-memory DBSCAN per user is the right
  * trade: zero cross-node communication.
  * The dissolve/centroid/hull step is a plain groupBy aggregation.
  *
  * `agg_level="dataset"` can't partition by user; the scalable
  * formulation (SURVEY.md §7.4) is ε-grid bucketing + local DBSCAN +
  * connected-component border merge, implemented in [[datasetDbscan]].
  * The 3×3 halo replication keeps every point's full ε-neighborhood
  * visible in its home cell, so core/border classification is exact for
  * any numSamples; clusters touching across cells merge through shared
  * points (verified against the in-memory kernel in DatasetDbscanSpec).
  */
object LocationGenerator {

  final case class Params(
      epsilonMeters: Double = 100.0,
      numSamples: Int = 1,
      aggLevel: String = "user")

  private val labelledSchema = StructType(Seq(
    StructField("sp_id", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("cluster", LongType, nullable = false))) // -1 = noise

  /** @return (sp with nullable `location_id`, locations table
    *         (id, user_id, center_lon, center_lat, extent_hull))
    */
  def generate(sp: DataFrame, params: Params = Params(),
               share: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    Tables.staypoints.validate(sp)
    require(params.aggLevel == "user" || params.aggLevel == "dataset",
      s"agg_level unknown: ${params.aggLevel}")

    val input = sp.select(
      col("id").cast(LongType).as("sp_id"), col("user_id").cast(LongType),
      col("lon").cast(DoubleType), col("lat").cast(DoubleType))

    // clustered feeds the key distinct, the label join, and (via withLoc)
    // the centroid, hull, pair, and staypoint outputs — share it so the
    // clustering scan runs once.
    val clustered: DataFrame = share(
      if (params.aggLevel == "user")
        SortedScan(input, Seq("user_id"), Seq("sp_id"), labelledSchema) { rows =>
          // one user's staypoints in id order, clustered together
          val run = rows.toArray
          val labels = dbscan(run.map(_.getDouble(2)), run.map(_.getDouble(3)),
            params.epsilonMeters, params.numSamples)
          run.iterator.zip(labels.iterator).map { case (r, label) =>
            Row(r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), label.toLong)
          }
        }
      else
        datasetDbscan(input, params.epsilonMeters, params.numSamples))

    // Globally-unique dense location ids per cluster key, ordered like the
    // reference's per-user offset pass (staypoints.py:124-137).
    val keyNames = if (params.aggLevel == "user") Seq("user_id", "cluster") else Seq("cluster")
    val clusterKeys = clustered.filter(col("cluster") =!= -1L)
      .select(keyNames.map(col): _*).distinct()
    val keyed = Ids.withSequentialId(clusterKeys, "location_id", keyNames.map(col): _*)
    val withLoc = share(clustered.join(keyed, keyNames, "left"))

    // Dissolve each location: wrap-aware centroid over *unique* member
    // points (the reference's point-union dedup, staypoints.py:163-177)
    // + convex hull extent. Scale shape: dedupe rows first, then the
    // centroid is a plain streaming aggregation (no arrays), and the
    // hull runs in two stages — salted partial hulls, then a final hull
    // over the (tiny) union of partial hull vertices. A location with
    // millions of staypoints never materializes them in one group:
    // hull(hull(A) ∪ hull(B)) == hull(A ∪ B).
    val uniquePts = share(withLoc.filter(col("location_id").isNotNull)
      .select(col("location_id"), col("lon"), col("lat")).distinct())

    val centers = uniquePts.groupBy(col("location_id"))
      .agg(
        avg(sin(radians(col("lon")))).as("_s"),
        avg(cos(radians(col("lon")))).as("_c"),
        avg(col("lat")).as("center_lat"))
      .withColumn("center_lon", GeoFunctions.wrapAwareMeanLon(col("_s"), col("_c")))
      .drop("_s", "_c")

    val hullUdf = udf { pts: Seq[Row] =>
      GeoFunctions.convexHull(pts.map(r => (r.getDouble(0), r.getDouble(1))))
    }

    val partialHulls = uniquePts
      .withColumn("_salt", pmod(xxhash64(col("lon"), col("lat")), lit(64L)))
      .groupBy(col("location_id"), col("_salt"))
      .agg(collect_list(struct(col("lon"), col("lat"))).as("_pts"))
      .select(col("location_id"), explode(hullUdf(col("_pts"))).as("_hp"))

    val hulls = partialHulls
      .groupBy(col("location_id"))
      .agg(collect_list(col("_hp")).as("_pts"))
      .withColumn("_hull_raw", hullUdf(expr("transform(_pts, p -> struct(p._1 as lon, p._2 as lat))")))
      // name the ring fields so WKT writers can address lon/lat
      .select(col("location_id"),
        expr("transform(_hull_raw, p -> struct(p._1 as lon, p._2 as lat))").as("extent_hull"))

    val locGeom = centers.join(hulls, "location_id")

    // user–location pairs: one row per pair (dataset-level locations are
    // shared across users, staypoints.py:218-230)
    val pairs = withLoc.filter(col("location_id").isNotNull)
      .select(col("user_id"), col("location_id")).distinct()

    val locs = pairs.join(locGeom, "location_id")
      .select(col("location_id").as("id"), col("user_id"),
        col("center_lon"), col("center_lat"), col("extent_hull"))

    val spOut = sp
      .join(withLoc.select(col("sp_id").as("_sp_id"), col("location_id")),
        sp("id") === col("_sp_id"), "left")
      .drop("_sp_id")

    (spOut, locs)
  }

  /** Classic DBSCAN; region queries accelerated by a latitude-sorted sweep
    * (a lat delta bounds the haversine ball — replaces sklearn's ball
    * tree). Labels are assigned in scan order, matching sklearn on
    * identically-ordered input.
    */
  private[operators] def dbscan(lons: Array[Double], lats: Array[Double], epsM: Double, minPts: Int): Array[Int] = {
    val n = lons.length
    val labels = Array.fill(n)(-1)
    val visited = new Array[Boolean](n)
    val epsLat = math.toDegrees(epsM / GeoFunctions.EarthRadiusMeters) + 1e-12
    val order = (0 until n).sortBy(lats(_)).toArray
    val pos = new Array[Int](n)
    for (r <- order.indices) pos(order(r)) = r

    def neighbors(i: Int): mutable.ArrayBuffer[Int] = {
      val res = mutable.ArrayBuffer.empty[Int]
      var r = pos(i)
      while (r >= 0 && lats(order(r)) >= lats(i) - epsLat) {
        val j = order(r)
        if (GeoFunctions.haversineMeters(lons(i), lats(i), lons(j), lats(j)) <= epsM) res += j
        r -= 1
      }
      r = pos(i) + 1
      while (r < n && lats(order(r)) <= lats(i) + epsLat) {
        val j = order(r)
        if (GeoFunctions.haversineMeters(lons(i), lats(i), lons(j), lats(j)) <= epsM) res += j
        r += 1
      }
      res
    }

    var cluster = -1
    var i = 0
    while (i < n) {
      if (!visited(i)) {
        visited(i) = true
        val ns = neighbors(i)
        if (ns.length >= minPts) {
          cluster += 1
          labels(i) = cluster
          val queue = mutable.Queue.empty[Int]
          queue.enqueueAll(ns)
          while (queue.nonEmpty) {
            val j = queue.dequeue()
            if (labels(j) == -1) labels(j) = cluster
            if (!visited(j)) {
              visited(j) = true
              val njs = neighbors(j)
              if (njs.length >= minPts) queue.enqueueAll(njs)
            }
          }
        }
      }
      i += 1
    }
    labels
  }

  /** Dataset-level distributed DBSCAN: 2ε-grid cells, each point is
    * replicated to its cell's 3×3 neighborhood, cells cluster locally,
    * and local clusters sharing any point are merged with an iterative
    * min-label connected-components pass. Noise stays -1.
    */
  private def datasetDbscan(input: DataFrame, epsM: Double, minPts: Int): DataFrame = {
    // The grid only *partitions* — the exact kernel inside each cell makes
    // every clustering decision — so the cell width can be clamped below
    // without affecting results: a degenerate epsilon (reference's
    // eps=1e-18 extreme, test_staypoints.py:314-326) would otherwise
    // produce cell indices beyond Long range (ANSI overflow). 1e-12° is
    // ~0.1 µm, far below any eps that can still cluster two floats, and
    // keeps |cell| < 4e14.
    val cellDeg = math.max(math.toDegrees(2 * epsM / GeoFunctions.EarthRadiusMeters), 1e-12)

    val withCell = input
      .withColumn("_cx", floor(col("lon") / cellDeg))
      .withColumn("_cy", floor(col("lat") / cellDeg))
    val halo = withCell
      .withColumn("_dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("_gx", col("_cx") + col("_dx"))
      .withColumn("_gy", col("_cy") + col("_dy"))
      .select("sp_id", "user_id", "lon", "lat", "_gx", "_gy")

    val localSchema = StructType(Seq(
      StructField("sp_id", LongType, nullable = false),
      StructField("local_cluster", StringType, nullable = true)))

    // each cell's points (its own and its halo copies) in id order,
    // clustered together; labels are namespaced by the cell
    val local = SortedScan(halo, Seq("_gx", "_gy"), Seq("sp_id"), localSchema) { rows =>
      val run = rows.toArray
      val cell = s"${run(0).getLong(4)}:${run(0).getLong(5)}"
      val labels = dbscan(run.map(_.getDouble(2)), run.map(_.getDouble(3)), epsM, minPts)
      run.iterator.zip(labels.iterator).map { case (r, label) =>
        Row(r.getLong(0), if (label >= 0) s"$cell:$label" else null)
      }
    }

    // border merge as connected components over the CLUSTER graph (two
    // local clusters are one DBSCAN cluster iff they share a point,
    // transitively): routed through Dedup.duplicateClusters' guarded
    // hook+compress loop — pointer doubling converges in O(log d)
    // rounds and THROWS if labels still move at the budget, where the
    // previous in-place min-label loop advanced one hop per round and
    // exited its 15-round cap SILENTLY, returning split clusters on a
    // borderline-chain geometry deeper than 15 cells (the adversarial
    // density probe's regime). Labels are identical by construction:
    // both converge to the component-min xxhash label.
    val assign = local.filter(col("local_cluster").isNotNull)
      .withColumn("_lbl", abs(xxhash64(col("local_cluster"))))
      .select(col("sp_id"), col("_lbl"))
      .localCheckpoint(eager = false)
    val clusterEdges = assign
      .join(assign.withColumnRenamed("_lbl", "_lbl2"), "sp_id")
      .filter(col("_lbl") < col("_lbl2"))
      .select(col("_lbl").as("id_a"), col("_lbl2").as("id_b"))
      .distinct()
    val comps = Dedup.duplicateClusters(clusterEdges)
      .select(col("doc_id").as("_lbl"), col("cluster_id"))
    // clusters sharing no point keep their own label (they never enter
    // the pair table)
    val clusterOfLocal = assign.select(col("_lbl")).distinct()
      .join(comps, Seq("_lbl"), "left")
      .select(col("_lbl"), coalesce(col("cluster_id"), col("_lbl")).as("_comp"))

    val clusterOfPoint = assign.join(clusterOfLocal, Seq("_lbl"))
      .groupBy("sp_id").agg(min("_comp").as("cluster"))
    input.join(clusterOfPoint, Seq("sp_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), lit(-1L)))
      .select("sp_id", "user_id", "lon", "lat", "cluster")
  }
}
