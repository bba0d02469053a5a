package graft.operators

import graft.functions.GeoFunctions.dq
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The contact graph of a co-location pair table and every diagnostic
  * computed on it (degrees, degree correlation, BFS balls,
  * assortativity, k-core, rich club, spectral radius, PageRank, LPA and
  * the Louvain family).
  *
  * The fields are the family's shared prolog: the projected pair table
  * (user_a, user_b, n_meetings), its symmetric weighted edge table
  * `edgesW` (src, dst, w) with both orientations of every pair, the
  * weighted degree `degW` (src, wdeg), the contact count `degU` (src, d),
  * and the node and pair counts. [[ContactGraph.from]] materializes them
  * once; every operator reads them instead of re-deriving them, so the
  * family shares ~2·|pairs| rows of checkpointed tables where each gate
  * used to rebuild its own (r13 verdict #7).
  * [[graft.Pipeline.contactGraph]] memoizes one graph per corpus
  * snapshot; standalone callers build one with `ContactGraph.from`.
  * The iterative operators materialize each round with
  * [[Share.materialize]], so a round reads its predecessor's rows, not
  * its lineage.
  */
final case class ContactGraph(pairs: DataFrame, edgesW: DataFrame,
                              degW: DataFrame, degU: DataFrame, nNodes: Long,
                              nPairs: Long) {
  import ContactGraph.{louvainPass, louvainPassLocal}

  /** Node-sized per-round frames (ranks/labels/h-values/iterates) are
    * broadcastable when the node set is small — checkpointed lineages
    * carry no size stats, so Catalyst never discovers this on its own
    * and every iterative round pays a full edge-table shuffle join
    * against a few-thousand-row frame. Threshold-gated at ≤ 1.5M nodes:
    * a broadcast hash relation costs ~50-80 B/row (UnsafeRow payload +
    * LongHashedRelation map overhead), so 1.5M nodes ≈ 75-120 MB —
    * inside Spark's own 8 GB hard cap with a wide margin and roughly
    * what `spark.sql.autoBroadcastJoinThreshold`-style sizing would
    * admit on default executor memory (the r14 4M-node bound priced
    * rows at 16 B and could approach ~300 MB at the boundary). The
    * shuffle join is the unchanged at-scale fallback — a billion-user
    * node table must NOT broadcast.
    */
  def broadcastNodeFrames: Boolean = nNodes <= 1500000L

  /** A node-sized frame as the build side of a join: broadcast under
    * [[broadcastNodeFrames]], shuffled otherwise.
    */
  private def nodeFrame(df: DataFrame): DataFrame =
    if (broadcastNodeFrames) broadcast(df) else df

  /** `edgesW` as (u, v, w), the Louvain family's column names. */
  private def edgesUV: DataFrame =
    edgesW.select(col("src").as("u"), col("dst").as("v"), col("w"))

  /** The total undirected weight W as a 1-row (_W) frame. */
  private def totalW: DataFrame =
    pairs.agg(sum(col("n_meetings")).cast("long").as("_W"))

  /** Contact-network degree distribution over the co-location pairs —
    * the first statistic of every epidemiological / social-tie study
    * built on meeting detection (how many distinct contacts does a
    * person have, and is the network's tail heavy). Degrees are the
    * graph's contact counts `degU`, the histogram from the
    * lengthHistogram bit-length trick.
    */
  def colocationDegrees(): DataFrame =
    degU.select(col("src").as("user_id"), col("d").as("degree"))
      .withColumn("bucket", (length(bin(col("degree"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("degree")).cast("long").as("sum_degree"))
      .withColumn("bucket_lo", expr("shiftleft(cast(1 as bigint), cast(bucket as int))"))

  /** Average-neighbor-degree curve knn(k) (Pastor-Satorras, Vázquez &
    * Vespignani 2001, "Dynamical and correlation properties of the
    * Internet"): for each degree class k, the mean degree of the
    * neighbors of degree-k nodes — the CURVE behind the one-number
    * assortativity r; rising knn(k) = assortative, falling =
    * disassortative (the signature of technological nets). Returned as
    * exact integers (Σ neighbor degrees, node count) plus the ratio
    * quantized to ppm via integer cross-multiply, so both engines agree
    * bit-for-bit.
    *
    * Scale shape: the directed edge list hash-joins the degree table
    * twice on its key (≤|users| rows each); one final groupBy(degree).
    * Never anything × anything.
    */
  def degreeCorrelation(): DataFrame = {
    edgesW.select(col("src"), col("dst"))
      .join(degU.select(col("src"), col("d").as("d_src")), Seq("src"))
      .join(degU.select(col("src").as("dst"), col("d").as("d_dst")), Seq("dst"))
      .groupBy(col("d_src").as("degree"))
      .agg(countDistinct(col("src")).as("n_nodes"),
        sum(col("d_dst")).cast("long").as("sum_neighbor_degree"),
        count(lit(1)).cast("long").as("n_slots"))
      .withColumn("knn_ppm",
        ((dq(lit(1000000L)) * dq(col("sum_neighbor_degree")) -
          pmod(dq(lit(1000000L)) * dq(col("sum_neighbor_degree")), dq(col("n_slots")))) /
          dq(col("n_slots"))).cast("long"))
      .select("degree", "n_nodes", "sum_neighbor_degree", "knn_ppm")
  }

  /** Neighborhood function N(h) from a deterministic seed slice (the
    * ANF/HyperBall statistic computed EXACTLY on sampled sources —
    * Palmer, Gibbons & Faloutsos 2002 frame the estimation problem;
    * seeding makes the exact computation tractable at any scale): for
    * h = 1..maxHops, how many (seed, node) pairs are within h hops on
    * the contact graph. The h-profile separates small-world contact
    * structures (N(2) ≈ reachable set) from chains; the curve's knee is
    * the graph's effective diameter.
    *
    * Exact BFS-as-joins: frontier ⋈ edges, distinct, union — h hash
    * joins total, each keyed on the node id. The seed slice
    * (`user_id % seedsMod == 0`) bounds the closure to |seeds|·|V|
    * REGARDLESS of graph density — the documented scale knob; seedsMod=1
    * is the full exact closure for small graphs.
    */
  def neighborhoodFunction(seedsMod: Long = 8L, maxHops: Int = 3): DataFrame = {
    require(seedsMod >= 1 && maxHops >= 1, "seedsMod/maxHops must be positive")
    val edges = edgesW.select(col("src"), col("dst"))
    val seeds = degU.select(col("src").as("seed"))
      .filter(pmod(col("seed"), lit(seedsMod)) === 0L)
    // reach includes the seed itself (distance 0) for propagation;
    // counts exclude it. Each hop is shared: the h+1 frontier join and
    // ALL the per-hop aggregates read hop h once, not its lineage.
    var reach = Share.materialize(seeds.select(col("seed"), col("seed").as("node")))
    val counts = (1 to maxHops).map { h =>
      val prev = reach
      val next = prev.join(edges, prev("node") === edges("src"))
        .select(prev("seed"), edges("dst").as("node"))
      reach = Share.materialize(next.unionByName(prev).distinct())
      reach.filter(col("seed") =!= col("node"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .select(lit(h.toLong).as("h"), col("n_pairs"))
    }
    counts.reduce(_.unionByName(_))
  }

  /** Degree assortativity of the contact graph (Newman 2002, "Assortative
    * mixing in networks"): the Pearson correlation of endpoint degrees
    * over edges — positive means hubs meet hubs (social networks),
    * negative means hubs meet leaves (technological nets); the one-number
    * answer to "is this contact network core-periphery or hub-bridged",
    * which drives how fast an outbreak saturates. Using the symmetric
    * single-count-per-edge form
    *   r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²)
    * every sum is an exact integer (products in DECIMAL(38,0) — a hub
    * degree squared times a billion edges overflows a long), with ONE
    * double division at the end.
    *
    * Scale shape: the degree table (≤ |users| rows) joins back to the
    * pair table twice on its key; the moment aggregate partial-combines.
    * Never anything × anything.
    */
  def colocationAssortativity(): DataFrame = {
    pairs
      .join(degU.select(col("src").as("user_a"), col("d").as("_ja")), Seq("user_a"))
      .join(degU.select(col("src").as("user_b"), col("d").as("_kb")), Seq("user_b"))
      .agg(count(lit(1)).cast("long").as("n_edges"),
        sum(col("_ja") + col("_kb")).as("_sjk"),
        sum(dq(col("_ja")) * dq(col("_kb"))).as("_sprod"),
        sum(dq(col("_ja")) * dq(col("_ja")) + dq(col("_kb")) * dq(col("_kb"))).as("_ssq"))
      .select(col("n_edges"),
        ((lit(4L).cast("decimal(38,0)") * dq(col("n_edges")) * col("_sprod")
          - dq(col("_sjk")) * dq(col("_sjk"))).cast("double") /
          (lit(2L).cast("decimal(38,0)") * dq(col("n_edges")) * col("_ssq")
            - dq(col("_sjk")) * dq(col("_sjk"))).cast("double")).as("assortativity"))
  }

  /** Coreness histogram of the contact graph via the iterated-h-index
    * fixed point (Lü et al. 2016, "The H-index of a network node and its
    * relation to degree and coreness"): h₀ = degree; each round every
    * node's value becomes the h-index of its neighbors' current values
    * (the largest h with ≥ h neighbors at value ≥ h). The per-node
    * sequence is monotonically non-increasing and its fixed point IS the
    * k-core number from the classic Batagelj–Zaveršnik peeling; a pinned
    * `rounds` makes the trajectory engine-exact — the
    * [[colocationPagerank]]/LPA convention — and KCoreRichClubSpec pins
    * that the default reaches the true peeling coreness on fixtures
    * (in general rounds must cover the longest strictly-decreasing
    * chain; peeling itself needs a data-dependent loop both engines
    * would have to unroll identically, which is exactly what the
    * h-index form avoids).
    *
    * Scale shape: per round, one hash equi-join values⋈edges on dst +
    * one per-node h-index window over ≤ degree rows (an LPA round's
    * shape); the histogram is one bounded groupBy. No driver state;
    * each round is materialized.
    *
    * @return (coreness, n_users) — k-core occupancy histogram
    */
  def kCoreHistogram(rounds: Int = 3): DataFrame = {
    // default rounds MUST stay in sync with the colocation_kcore oracle's
    // unrolled CTE count — a default/oracle drift is a silent parity trap
    // on any graph whose h-index chain is longer than the oracle's rounds
    require(rounds >= 1, "need rounds >= 1")
    val edges = edgesW.select(col("src"), col("dst"))
    var h = degU.select(col("src").as("n"), col("d").as("val"))
    val bySrc = Window.partitionBy(col("src")).orderBy(col("v").desc, col("dst"))
    for (_ <- 1 to rounds) {
      h = Share.materialize(edges
        .join(nodeFrame(h), edges("dst") === h("n"))
        .select(col("src"), col("dst"), col("val").as("v"))
        .withColumn("_rn", row_number().over(bySrc))
        .groupBy(col("src").as("n"))
        .agg(max(least(col("v"), col("_rn"))).cast("long").as("val")))
    }
    h.groupBy(col("val").as("coreness"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** Rich-club coefficient curve of the contact graph (Colizza et al.
    * 2006, "Detecting rich-club ordering in complex networks"): for each
    * degree threshold k, the edge density of the subgraph induced by the
    * nodes of degree > k — φ(k) = 2·E_k / (N_k·(N_k−1)). φ(k) → 1 as the
    * hubs close into a near-clique; the raw curve is the reported
    * statistic (the literature's degree-preserving null is a separate
    * randomization study). Exact integer counts, one double division.
    *
    * Scale shape: an edge contributes to every k below
    * min(deg_a, deg_b), accumulated NOT by exploding thresholds but as
    * two bounded histograms (node count by
    * degree, edge count by min-endpoint-degree) suffix-summed with one
    * window over the degree-value domain — ≤ distinct-degree rows, a
    * power-law-bounded set orders smaller than the edge table. Two hash
    * equi-joins of edges against the degree table; never anything ×
    * anything.
    *
    * @return (k, n_nodes, n_edges, phi) at every observed degree value
    *         k with ≥ 2 qualifying nodes
    */
  def richClub(): DataFrame = {
    val deg = degU.select(col("src").as("_u"), col("d").as("_d"))
    val nodeHist = deg.groupBy(col("_d").as("v"))
      .agg(count(lit(1)).cast("long").as("_cn"))
    val edgeHist = pairs
      .join(deg.select(col("_u").as("user_a"), col("_d").as("_da")), Seq("user_a"))
      .join(deg.select(col("_u").as("user_b"), col("_d").as("_db")), Seq("user_b"))
      .groupBy(least(col("_da"), col("_db")).as("v"))
      .agg(count(lit(1)).cast("long").as("_ce"))
    // strict suffix sums over the merged degree-value domain: N_k / E_k
    // count nodes/edges STRICTLY above k, so the current row is excluded
    val byVdesc = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    nodeHist.join(edgeHist, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("_cn"), lit(0L)).as("_cn"),
        coalesce(col("_ce"), lit(0L)).as("_ce"))
      .withColumn("n_nodes", coalesce(sum(col("_cn")).over(byVdesc), lit(0L)).cast("long"))
      .withColumn("n_edges", coalesce(sum(col("_ce")).over(byVdesc), lit(0L)).cast("long"))
      .filter(col("n_nodes") >= 2L)
      .select(col("v").as("k"), col("n_nodes"), col("n_edges"),
        (lit(2.0) * col("n_edges").cast("double") /
          (col("n_nodes").cast("double") * (col("n_nodes") - lit(1L)).cast("double")))
          .as("phi"))
  }

  /** Spectral radius λ_max of the weighted contact graph — the epidemic
    * threshold statistic (Wang et al. 2003: an SIS epidemic dies out iff
    * β/δ < 1/λ_max), the spreading-power ceiling that degree and
    * coreness only bound. Estimated by `rounds` of SHIFTED power
    * iteration on (A + I): the +I diagonal breaks the bipartite-graph
    * oscillation plain power iteration never escapes, and shifts every
    * eigenvalue by exactly +1, subtracted back at the end.
    *
    * Engine-exact arithmetic: the iterate is an integer vector in
    * millionths (the [[colocationPagerank]] convention); each round
    * computes t(u) = Σ_v w(u,v)·x(v) + x(u) in DECIMAL(38,0), takes the
    * 1-row max m, and renormalizes x(u) = t(u)·10⁶ div m (floor) — so
    * the whole trajectory is integer and the estimate m/10⁶ − 1 is the
    * same IEEE double in any engine. Headroom: t·10⁶ ≤ strength·10¹²,
    * ~26 orders below the DECIMAL(38,0) ceiling.
    *
    * Scale shape: per round, one hash equi-join x⋈edges on dst + one
    * map-side-combinable sum + one 1-row max broadcast back — pagerank's
    * shape exactly; no driver state beyond the 1-row max.
    *
    * @return one row (n_nodes, rounds, m_q, lambda_max): m_q the final
    *         pre-normalization max as digit string (exact), lambda_max
    *         = m_q/10⁶ − 1 as double
    */
  def spectralRadius(rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "need rounds >= 1")
    val scale = 1000000L
    // degW is one row per node with ≥1 edge, already materialized
    val nodes = degW.select(col("src").as("n"))
    var x = nodes.select(col("n"), lit(scale).as("x"))
    var lastM: DataFrame = null
    for (r <- 1 to rounds) {
      // t feeds the 1-row max AND the renormalized next iterate, so it
      // is materialized — node-sized, once per round
      val t = Share.materialize(edgesW
        .join(nodeFrame(x.select(col("n"), col("x").as("_xv"))), edgesW("dst") === col("n"))
        .groupBy(col("src")).agg(sum(dq(col("w")) * dq(col("_xv"))).as("_s"))
        .join(x.select(col("n"), col("x").as("_own")), col("src") === col("n"))
        .select(col("n"), (col("_s") + dq(col("_own"))).as("_t")))
      val m = t.agg(max(col("_t")).as("_m"))
      lastM = m
      // the final round's renormalized iterate feeds nothing — only the
      // pre-normalization max does — so skip building it
      if (r < rounds)
        x = Share.materialize(t.crossJoin(broadcast(m))
          .select(col("n"),
            expr(s"cast((_t * $scale) div _m as long)").as("x")))
    }
    nodes.agg(count(lit(1)).cast("long").as("n_nodes"))
      .crossJoin(broadcast(lastM))
      .select(col("n_nodes"), lit(rounds.toLong).as("rounds"),
        col("_m").cast("string").as("m_q"),
        (col("_m").cast("double") / lit(scale.toDouble) - lit(1.0)).as("lambda_max"))
  }

  /** Fixed-point PageRank over the co-location contact graph — the
    * influence/centrality ranking epidemiology and social-tie studies
    * compute after meeting detection (who reaches the network fastest).
    * Deterministic integer arithmetic so the result is engine-exact:
    * scores live in millionths (`scale`), each iteration sends
    * `(r·damping·w) div (100·deg)` along every weighted edge (the
    * products in DECIMAL(38,0) — a hub's rank × weight overflows a long
    * at billion-node scale; `div` floors back to a long) and every node
    * restarts with `(100−damping)·scale div 100`. The per-edge floor
    * leaks a little mass each round (documented convention, identical
    * in both engines) — ranking, not normalization, is the contract.
    *
    * Scale shape: one symmetric edge table (2|pairs| rows) joined with
    * a degree table once and materialized, so the `iters` rank joins
    * reuse it; each iteration is one hash equi-join rank⋈edges
    * on src + one map-side-combinable dst sum + one left join back to
    * the node table. Driver state: none.
    */
  def colocationPagerank(iters: Int = 3, dampingPct: Long = 85L,
                         scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100 && scale >= 1,
      "need iters >= 1, dampingPct in [0,100], scale >= 1")
    val deg = degW.select(col("src"), col("wdeg").as("deg"))
    val edgesDeg = Share.materialize(edgesW.join(deg, Seq("src")))
    val nodes = deg.select(col("src").as("user_id"))
    val teleport = (100L - dampingPct) * scale / 100L
    // node-sized frames broadcast when the node set is small
    // ([[broadcastNodeFrames]]): each iteration's rank join then streams
    // the edge table map-side instead of paying a full shuffle join
    // against a few-thousand-row frame
    var ranks = nodes.select(col("user_id"), lit(scale).as("rank_q"))
    for (_ <- 1 to iters) {
      val contribs = edgesDeg
        .join(nodeFrame(ranks), edgesDeg("src") === ranks("user_id"))
        .select(col("dst"),
          expr(s"cast(rank_q as decimal(38,0)) * $dampingPct * w div (100 * cast(deg as decimal(38,0)))")
            .as("_c"))
        .groupBy(col("dst")).agg(sum(col("_c")).as("_in"))
      ranks = nodes
        .join(nodeFrame(contribs), nodes("user_id") === contribs("dst"), "left")
        .select(col("user_id"),
          (lit(teleport) + coalesce(col("_in"), lit(0L))).cast("long").as("rank_q"))
    }
    ranks
  }

  /** Deterministic label-propagation communities over the contact graph
    * + weighted Newman modularity of the resulting partition. LPA
    * (Raghavan et al. 2007): every node starts as its own label; each
    * synchronous round it adopts the label with the greatest total edge
    * weight among its neighbors, ties to the smallest label — `rounds`
    * fixed rounds make the trajectory engine-exact (classic LPA's
    * convergence churn is replaced by a pinned iteration count, the same
    * convention as [[colocationPagerank]]).
    *
    * Modularity is exact-rational: with W the total undirected weight,
    * e_c the intra-community weight and d_c the weighted degree sum,
    * Q = Σ_c (4W·e_c − d_c²) / (4W²) — the numerator accumulates in
    * DECIMAL(38,0) (a billion-meeting graph squares past long range)
    * with ONE double division at the end.
    *
    * Scale shape: per round, one hash join labels⋈edges on dst + one
    * (node, label) map-side-combinable sum + one per-node argmax window
    * over ≤ degree rows; modularity is two bounded groupBys. No driver
    * state; each round is materialized.
    *
    * @return (community, n_nodes, w_in, degree_sum, modularity) — one
    *         row per final community, `modularity` the global Q repeated
    */
  def colocationCommunities(rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "need rounds >= 1")
    val edges = edgesUV
    var labels = degW.select(col("src").as("n"), col("src").as("lbl"))
    for (_ <- 1 to rounds) {
      // per-node argmax (greatest weight, ties to smallest label) as ONE
      // hash aggregate via min(struct(-_s, lbl)) — the row_number window
      // this replaces costs a second shuffle + per-partition sort per
      // round for the identical deterministic pick. The node-sized label
      // frame broadcasts under the shared prolog's small-node proof.
      labels = Share.materialize(edges
        .join(nodeFrame(labels), edges("v") === labels("n"))
        .groupBy(col("u"), col("lbl")).agg(sum(col("w")).as("_s"))
        .groupBy(col("u"))
        .agg(min(struct((-col("_s")).as("_neg"), col("lbl").as("_l"))).as("_m"))
        .select(col("u").as("n"), col("_m._l").as("lbl")))
    }
    communityStats(labels)
  }

  /** The exact-rational statistics of a level-1 Louvain partition
    * `l1` (n, c) from [[louvainLabels]]: per community the node count,
    * intra-community weight and weighted-degree sum, and the
    * [[colocationCommunities]] exact-rational modularity Q.
    *
    * @return (community, n_nodes, w_in, degree_sum, modularity)
    */
  def colocationLouvain(l1: DataFrame): DataFrame =
    communityStats(l1.select(col("n"), col("c").as("lbl")))

  /** One-level Louvain refinement over the contact graph (Blondel et
    * al. 2008 phase 1, made deterministic and parallel-safe): every
    * node starts as its own community; each round, the nodes of ONE
    * parity class (round r moves nodes with id ≡ r mod 2) move to the
    * candidate community with the greatest modularity gain — candidates
    * are the node's neighbors' current communities plus staying put.
    * Classic Louvain's sequential sweep is scan-order-dependent, and a
    * fully synchronous sweep oscillates on symmetric graphs (two nodes
    * swap communities forever — hand-traceable on a triangle pair); the
    * two-coloring semi-synchronous schedule is the standard parallel
    * Louvain fix, and with a pinned round count and deterministic ties
    * (gain desc, then smallest community id) it is engine-exact — the
    * [[colocationCommunities]] convention, whose plurality-label
    * objective this replaces with the actual modularity-gain objective,
    * so the two gates bracket the quality/cost trade of community
    * detection.
    *
    * Exact arithmetic: the gain of node u joining community c is
    * ΔQ ∝ 2W·k_in(u,c) − k_u·Σtot(c∖u) — all integer weight sums, the
    * products in DECIMAL(38,0) (rank × weight squares past long range
    * at billion-meeting scale), so the per-node argmax is bit-exact in
    * both engines; modularity of the final partition is the
    * [[colocationCommunities]] exact-rational Q.
    *
    * Scale shape: per round, one community-total groupBy, one hash join
    * edges⋈labels on dst + (node, community) map-side-combinable sum,
    * two broadcast-sized joins (degrees, community totals) and one
    * per-node argmax window over ≤ degree+1 rows, each round
    * materialized; no driver state.
    *
    * @return the level-1 label table (n, c). The pass runs ONCE per
    *         corpus snapshot ([[graft.Pipeline.louvainLabels]], the
    *         colocationMeetings pattern) and the four Louvain
    *         diagnostics read it: [[colocationLouvain]],
    *         [[colocationLouvainL2]], [[louvainConnectivity]] and
    *         [[colocationLouvainRefined]]. They act on it more than
    *         once, so it is a local table or a checkpoint, never a lineage.
    */
  def louvainLabels(rounds: Int = 4, localThreshold: Long = 2000000L): DataFrame = {
    // SMALL-GRAPH FALLBACK (the same duplicateClusters pattern the
    // phase-2 pass uses): the 4-round distributed pass costs ~8-10 s of
    // per-round join/checkpoint latency on the sf0.1 contact graph
    // (1500 nodes, 1.1M pairs) — work [[louvainPassLocal]] finishes in
    // milliseconds, bit-identically (same schedule, same BigInt gains,
    // same tie-breaks; spec-pinned). The graph's pair count gates the
    // collect. Budget: each collected pair costs ~100 B boxed (Tuple3
    // of boxed Longs) and the local
    // pass builds a 2×-pairs adjacency on top, so 2M pairs ≈ ~400 MB
    // peak driver objects — the documented ceiling. Beyond it the
    // distributed pass runs unchanged (SURVEY §6: engages and
    // completes at 11M pairs).
    if (nPairs <= localThreshold) {
      val undirected = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val universe = undirected.iterator
        .flatMap(t => Iterator(t._1, t._2)).toArray.distinct
      val w = undirected.iterator.map(_._3).sum
      pairs.sparkSession
        .createDataFrame(
          louvainPassLocal(undirected, universe, Map.empty, w, rounds).toSeq)
        .toDF("n", "c")
    } else {
      val deg = degW.select(col("src").as("u"), col("wdeg").cast("long").as("k"))
      louvainPass(edgesUV, deg, totalW, rounds)
    }
  }

  /** Two-level Louvain (Blondel et al. 2008 phase 2): collapse the
    * level-1 communities of `l1` (n, c) to supernodes — one groupBy
    * over the twice-relabeled pair table — rerun the one-level pass on the
    * supergraph, and report the COMPOSED partition's exact-rational
    * statistics on the ORIGINAL graph, so `modularity` is directly
    * comparable with [[colocationLouvain]]'s (same Q formula, same
    * denominators; on the synthetic fixture Q(level 2) ≥ Q(level 1),
    * pinned by spec).
    *
    * Supergraph bookkeeping: intra-community weight becomes a supernode
    * self-loop that counts TWICE in the supernode degree and never
    * feeds k_in (it stays internal wherever the supernode moves — see
    * [[louvainPass]]); total weight W is invariant across levels. The
    * level-2 candidate argmax is exact in DECIMAL(38,0) like level 1.
    *
    * Scale shape: two hash join relabels of the pair table, one
    * groupBy collapse (the supergraph is ≤ #communities wide — orders
    * smaller than the input), the same
    * pass machinery over the collapsed table, and one final label
    * composition join.
    *
    * @return (community, n_nodes, w_in, degree_sum, modularity) of the
    *         composed level-2 partition over the original pair graph
    */
  def colocationLouvainL2(l1: DataFrame, rounds2: Int = 4,
                          localThreshold: Long = 100000L): DataFrame = {
    // dense-rank relabel BEFORE the level-2 pass: supernode ids inherit
    // level-1 WINNER labels (a sparse, structurally biased id space);
    // 0-based ranks keep the supergraph in a compact id space for the
    // collapse/composition joins below. The two-coloring schedule no
    // longer depends on this — louvainPass ranks its own id population
    // internally (the round-12 fix that moved the r11 relabel's parity
    // argument one level down, into the pass itself).
    // rank: dense 0-based ids over the distinct level-1 labels in
    // ascending order. Probed with one limit-collect: when the label
    // count fits `localThreshold` the rank is a driver-side sort (and
    // the rank table a broadcastable local relation) instead of the
    // distributed range-sort + zipWithIndex + checkpoint — the same
    // (u0 ascending, 0-based) ids either way.
    val probeCap = math.min(localThreshold + 1L, Int.MaxValue.toLong).toInt
    val labelProbe = l1.select(col("c").as("u0")).distinct().limit(probeCap)
      .collect().map(_.getLong(0))
    val rankRowsOpt =
      if (labelProbe.length <= localThreshold)
        Some(labelProbe.sorted.zipWithIndex.map { case (u0, i) => (u0, i.toLong) })
      else None
    val rank = rankRowsOpt match {
      case Some(rows) =>
        broadcast(pairs.sparkSession.createDataFrame(rows.toSeq).toDF("u0", "r"))
      case None => Share.materialize(graft.util.Ids.withSequentialId(
        l1.select(col("c").as("u0")).distinct(), "r", col("u0")))
    }

    // collapse: two join-relabels of the pair table, then ONE aggregate
    // over the (min, max) rank pair — inter-community super-edges and
    // intra-community self-loop weight come out of the same groupBy
    // (the a == b rows), so the collapse is a single action whichever
    // path runs below
    val relabeled = pairs
      .join(l1.select(col("n"), col("c").as("_la")), pairs("user_a") === col("n")).drop("n")
      .join(l1.select(col("n"), col("c").as("_lb")), pairs("user_b") === col("n")).drop("n")
      .join(rank.select(col("u0"), col("r").as("_ca")), col("_la") === col("u0")).drop("u0")
      .join(rank.select(col("u0"), col("r").as("_cb")), col("_lb") === col("u0")).drop("u0")
    val collapsed = relabeled
      .groupBy(least(col("_ca"), col("_cb")).as("a"),
        greatest(col("_ca"), col("_cb")).as("b"))
      .agg(sum(col("n_meetings")).cast("long").as("w"))

    // SMALL-SUPERGRAPH FALLBACK (the duplicateClusters pattern,
    // Dedup.scala's <=1M-pair driver union-find): the level-2 pass on a
    // collapsed graph of tens of supernodes costs ~11 s of pure
    // per-round distributed-job latency (r12 warm audit) for work a
    // driver loop finishes in microseconds. Probe both sizes with
    // limit-collects (the probe IS the data when it fits — no separate
    // counts); under `localThreshold` run an exact driver-side replica
    // of louvainPass — same two-coloring schedule, same BigInt-exact
    // gain, same (gain desc, cand asc) tie-break, bit-identical labels
    // (spec-pinned against the distributed pass) — and compose the
    // winner labels through ONE broadcast join. Beyond the threshold
    // the distributed pass runs unchanged.
    val collapsedRows = rankRowsOpt match {
      case Some(_) =>
        Some(collapsed.limit(probeCap).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
          .filter(_.length <= localThreshold)
      case None => None
    }
    collapsedRows match {
      case Some(rows) =>
        val rankRows = rankRowsOpt.get
        val undirected = rows.filter(t => t._1 != t._2)
        val self = rows.filter(t => t._1 == t._2).map(t => t._1 -> t._3).toMap
        // every original pair lands in exactly one collapsed cell, so
        // the collapsed weights sum to the invariant total W
        val w = rows.iterator.map(_._3).sum
        val universe = rankRows.map(_._2)
        val l2local = louvainPassLocal(undirected, universe, self, w, rounds2).toMap
        val u0ByR = rankRows.map(_.swap).toMap

        // the monotone qn guard AND the per-community (w_in,
        // degree_sum) statistics are pure functions of the collapsed
        // table — w_in(C) sums the collapsed cells internal to C,
        // degree_sum(C) counts every collapsed cell weight once per
        // endpoint in C (a self cell twice) — so both partitions'
        // exact numerators come from two driver scans of `rows`
        // instead of four distributed joins over the original pair
        // table. Only n_nodes needs the cluster: one broadcast-mapped
        // count over the l1 label table. (Assumes, like the
        // distributed path's edge-derived node population, that the
        // labels cover exactly the pair-graph nodes.)
        def statsOf(groupOf: Long => Long) = {
          val wIn = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
          val degS = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
          rows.foreach { case (a, b, wgt) =>
            val ga = groupOf(a); val gb = groupOf(b)
            if (ga == gb) wIn(ga) += wgt
            degS(ga) += wgt; degS(gb) += wgt
          }
          (wIn, degS)
        }
        def qnOf(st: (scala.collection.mutable.Map[Long, Long],
                      scala.collection.mutable.Map[Long, Long])): BigInt =
          st._2.keysIterator.map(g =>
            4 * BigInt(w) * BigInt(st._1(g)) - BigInt(st._2(g)).pow(2)).sum
        val st1 = statsOf(identity)
        val st2 = statsOf(l2local)
        val improved = qnOf(st2) > qnOf(st1)
        val (wInW, degSW) = if (improved) st2 else st1
        val qnW = if (improved) qnOf(st2) else qnOf(st1)
        val groupOfRank: Long => Long = if (improved) l2local else identity
        // replicate the distributed division exactly: DECIMAL(38,0) →
        // double via java BigDecimal, then (4.0 · W) · W in IEEE order
        val wD = w.toDouble
        val modularity =
          new java.math.BigDecimal(qnW.bigInteger).doubleValue / (4.0 * wD * wD)
        val statsRows = degSW.keysIterator
          .map(g => (u0ByR(g), wInW(g), degSW(g), modularity)).toSeq
        val statsTable = pairs.sparkSession.createDataFrame(statsRows)
          .toDF("community", "w_in", "degree_sum", "modularity")
        val lblByU0 = rankRows.map { case (u0, r) => (u0, u0ByR(groupOfRank(r))) }
        val mapDf = pairs.sparkSession.createDataFrame(lblByU0.toSeq).toDF("_c", "lbl")
        l1.join(broadcast(mapDf), l1("c") === col("_c"))
          .groupBy(col("lbl").as("community")).agg(count(lit(1)).cast("long").as("n_nodes"))
          .join(broadcast(statsTable), Seq("community"))
          .select(col("community"), col("n_nodes"), col("w_in"), col("degree_sum"),
            col("modularity"))
      case None =>
        val superPairs = Share.materialize(collapsed.filter(col("a") =!= col("b"))
          .select(col("a").as("user_a"), col("b").as("user_b"), col("w").as("n_meetings")))
        val selfW = collapsed.filter(col("a") === col("b"))
          .select(col("a").as("u"), col("w").as("_wself"))
        val edges2 = Share.materialize(superPairs
          .select(col("user_a").as("u"), col("user_b").as("v"), col("n_meetings").as("w"))
          .unionByName(superPairs.select(col("user_b").as("u"), col("user_a").as("v"),
            col("n_meetings").as("w"))))
        // every level-1 community is a supernode, including those with no
        // inter-community edge (they would vanish from an edge-derived
        // degree table and lose their nodes in the composition join)
        val deg2 = Share.materialize(rank.select(col("r").as("u"))
          .join(edges2.groupBy(col("u")).agg(sum(col("w")).cast("long").as("_ke")), Seq("u"), "left")
          .join(selfW, Seq("u"), "left")
          .select(col("u"),
            (coalesce(col("_ke"), lit(0L)) + lit(2L) * coalesce(col("_wself"), lit(0L)))
              .cast("long").as("k")))
        val l2 = louvainPass(edges2, deg2, totalW, rounds2)
        // compose n → c1 → rank → level-2 label (a rank) → back to the
        // original community-id space of that winning rank
        val composed = Share.materialize(l1
          .join(rank.select(col("u0"), col("r")), l1("c") === col("u0"))
          .join(l2.select(col("n").as("_rn"), col("c").as("_c2r")), col("r") === col("_rn"))
          .join(rank.select(col("u0").as("lbl"), col("r").as("_rb")), col("_c2r") === col("_rb"))
          .select(col("n"), col("lbl")))

        // monotone guard (the "keep the best partition seen" rule every
        // sequential Louvain applies implicitly): the semi-synchronous
        // schedule admits simultaneous same-class moves whose joint ΔQ
        // can be negative even when each individual gain is positive
        // (the cross-term −k_u·k_v of two movers entering one community
        // is unpriced). Compare the EXACT integer Q numerators and keep
        // the level-1 partition unless level 2 strictly improved — one
        // action for BOTH numerators (two 1-row aggregates cross-joined)
        val qnRow = partitionQNum(communityTable(l1.select(col("n"), col("c").as("lbl"))))
          .select(col("_qn").as("_qn1"))
          .crossJoin(partitionQNum(communityTable(composed)).select(col("_qn").as("_qn2")))
          .collect()(0)
        def qn(i: Int) = Option(qnRow.getDecimal(i)).getOrElse(java.math.BigDecimal.ZERO)
        val winner =
          if (qn(1).compareTo(qn(0)) > 0) composed
          else l1.select(col("n"), col("c").as("lbl"))
        communityStats(winner)
    }
  }

  /** The Leiden-style connectivity audit of the Louvain partition `l1`
    * (n, c) (Traag, Waltman & van Eck 2019, "From Louvain to Leiden":
    * Louvain's node moves can leave a community internally DISCONNECTED
    * — its defect, and the property Leiden's refinement phase exists to
    * guarantee). Per community: node count and the number of connected
    * components of its INDUCED subgraph; `is_connected` false is
    * exactly the badly-connected-community flag of the paper.
    *
    * Scale shape: two label joins to keep intra-community edges only,
    * then the guarded hook+compress component loop (O(log d) rounds) on that reduced edge set, one
    * bounded groupBy. Nodes with no intra-community edge are their own
    * component.
    *
    * @return (community, n_nodes, n_components, is_connected)
    */
  def louvainConnectivity(l1: DataFrame): DataFrame =
    l1.join(intraComponents(l1), Seq("n"), "left")
      .select(col("n"), col("c"), coalesce(col("cluster_id"), col("n")).as("_cid"))
      .groupBy(col("c").as("community"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        countDistinct(col("_cid")).cast("long").as("n_components"))
      .withColumn("is_connected", col("n_components") === 1L)

  /** Leiden-style refinement of the Louvain partition `l1` (n, c) (the
    * minimal guarantee of Traag et al. 2019 §A: every community is
    * internally connected): split each community into the connected
    * components of its induced subgraph and report the refined
    * partition's stats.
    * Splitting disconnected parts NEVER decreases modularity — for
    * c = A ⊎ B with no A–B edge the numerator changes by exactly
    * +2·d_A·d_B > 0 — so Q(refined) ≥ Q(louvain) unconditionally, with
    * strictness exactly when [[louvainConnectivity]] flags a community.
    *
    * Scale shape: identical to the audit (label joins to
    * intra-community edges, guarded hook+compress components) plus the
    * shared exact-rational stats tail. Refined labels are the
    * component-min node ids (isolated-in-community nodes keep their
    * own), deterministic in both engines.
    *
    * @return (community, n_nodes, w_in, degree_sum, modularity)
    */
  def colocationLouvainRefined(l1: DataFrame): DataFrame =
    communityStats(l1.join(intraComponents(l1), Seq("n"), "left")
      .select(col("n"), coalesce(col("cluster_id"), col("n")).as("lbl")))

  /** Per node: the connected component (`cluster_id`) of the subgraph
    * its level-1 community induces — the intra-community pairs through
    * the guarded hook+compress component loop. Nodes with no
    * intra-community pair are absent.
    */
  private def intraComponents(l1: DataFrame): DataFrame = {
    val intra = pairs
      .join(l1.select(col("n"), col("c").as("_ca")), pairs("user_a") === col("n")).drop("n")
      .join(l1.select(col("n"), col("c").as("_cb")), pairs("user_b") === col("n")).drop("n")
      .filter(col("_ca") === col("_cb"))
      .select(col("user_a").as("id_a"), col("user_b").as("id_b"))
    Dedup.duplicateClusters(intra)
      .select(col("doc_id").as("n"), col("cluster_id"))
  }

  /** Per community of `labels` (n, lbl): the node count, intra-community
    * weight and weighted-degree sum, with the total weight W as `_W`.
    */
  private def communityTable(labels: DataFrame): DataFrame = {
    val withA = pairs.join(labels.select(col("n"), col("lbl").as("_ca")), pairs("user_a") === col("n")).drop("n")
    val withB = withA.join(labels.select(col("n"), col("lbl").as("_cb")), withA("user_b") === col("n")).drop("n")
    val intra = withB.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("community")).agg(sum(col("n_meetings")).cast("long").as("w_in"))
    val degC = degW.select(col("src").as("u"), col("wdeg").as("_d"))
      .join(labels, col("u") === labels("n"))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).cast("long").as("n_nodes"), sum(col("_d")).cast("long").as("degree_sum"))
    degC.join(intra, Seq("community"), "left")
      .withColumn("w_in", coalesce(col("w_in"), lit(0L)))
      .crossJoin(broadcast(totalW))
  }

  /** Exact integer modularity numerator Σ_c (4W·e_c − d_c²) of a
    * [[communityTable]] as a 1-row `_qn` frame in DECIMAL(38,0), left
    * unfired so the level-2 monotone guard can cross-join two of them
    * and pay one action instead of two.
    */
  private def partitionQNum(comm: DataFrame): DataFrame =
    comm.agg(sum(lit(4L) * dq(col("_W")) * dq(col("w_in")) -
      dq(col("degree_sum")) * dq(col("degree_sum"))).as("_qn"))

  /** Exact-rational partition statistics + Newman modularity shared by
    * [[colocationCommunities]] and the Louvain family: per community
    * the node count, intra-community weight and weighted-degree sum,
    * plus the global Q = Σ_c (4W·e_c − d_c²) / (4W²) with the numerator
    * in DECIMAL(38,0) and ONE double division at the end.
    */
  private def communityStats(labels: DataFrame): DataFrame = {
    val comm = communityTable(labels)
    comm.crossJoin(broadcast(partitionQNum(comm)))
      .select(col("community"), col("n_nodes"), col("w_in"), col("degree_sum"),
        (col("_qn").cast("double") /
          (lit(4.0) * col("_W").cast("double") * col("_W").cast("double"))).as("modularity"))
  }
}

object ContactGraph {

  /** Build a [[ContactGraph]] from a co-location pair table
    * (user_a, user_b, n_meetings). The projected pairs, the edges and
    * the degrees pass through `share` so downstream iterative readers
    * see materialized tables, not the banded co-location self-join's
    * lineage. The operators materialize their own rounds with
    * [[Share.materialize]] whatever `share` is.
    */
  def from(pairs: DataFrame,
           share: DataFrame => DataFrame = Share.materialize): ContactGraph = {
    val p = share(pairs.select(col("user_a"), col("user_b"), col("n_meetings")))
    val edgesW = share(p
      .select(col("user_a").as("src"), col("user_b").as("dst"), col("n_meetings").as("w"))
      .unionByName(p.select(col("user_b").as("src"), col("user_a").as("dst"),
        col("n_meetings").as("w"))))
    // both degree flavors from ONE groupBy (one shuffle, one checkpoint)
    val deg = share(edgesW.groupBy(col("src")).agg(
      sum(col("w")).as("wdeg"), count(lit(1)).cast("long").as("d")))
    // the node count gates per-round broadcasts downstream and the pair
    // count (every pair adds 2 to Σd) gates Louvain's driver-side pass;
    // this one action also forces the whole prolog to materialize here,
    // where the cost is attributed once per snapshot
    val counts = deg.agg(count(lit(1)).cast("long"), sum(col("d")).cast("long")).head()
    val nPairs = if (counts.isNullAt(1)) 0L else counts.getLong(1) / 2
    ContactGraph(p, edgesW, deg.select(col("src"), col("wdeg")),
      deg.select(col("src"), col("d")), counts.getLong(0), nPairs)
  }

  /** The semi-synchronous modularity-gain label loop shared by
    * [[louvainLabels]] (level 1: every node its own community) and
    * [[colocationLouvainL2]] (level 2: every supernode its own
    * community, degrees carrying the collapsed self-loop weight).
    *
    * @param edges symmetric (u, v, w) WITHOUT self-loops — a node's
    *              self-weight stays internal wherever it moves, so it
    *              cancels from every gain comparison and must NOT feed
    *              k_in
    * @param deg   (u, k) with k = Σ_v w(u,v) + 2·w(u,u) — self-loops DO
    *              count twice in the degree (the standard convention
    *              that keeps Σk = 2W on the collapsed graph)
    * @param totalW 1-row (_W) — invariant across levels: every original
    *               edge is inter- or intra-community
    */
  private def louvainPass(edges: DataFrame, deg: DataFrame, totalW: DataFrame,
                          rounds: Int): DataFrame = {
    require(rounds >= 1, "need rounds >= 1")
    // The two-coloring class is the parity of the node's DENSE RANK in id
    // order, not of the raw id: an id population with biased parity (all
    // even after an upstream ×2 relabel, say — or level-1 winner labels,
    // which keep one parity along a uniform path) would otherwise put
    // every node in one class and degenerate the semi-synchronous
    // schedule into the fully synchronous sweep the coloring exists to
    // prevent. 0-based ranks alternate parity along the id order by
    // construction, for every id population.
    val cls = graft.util.Ids.withSequentialId(deg.select(col("u")), "_r", col("u"))
      .select(col("u").as("n"), pmod(col("_r"), lit(2L)).as("_p"))
    // the class rides INSIDE the label frame (one extra long per node in
    // the per-round checkpoint) instead of re-joining a class table every
    // round — the final select drops it
    var comm = deg.select(col("u").as("n"), col("u").as("c")).join(cls, Seq("n"))
    val byNode = Window.partitionBy(col("u")).orderBy(col("_gain").desc, col("cand"))
    for (r <- 1 to rounds) {
      val ctot = comm.join(deg, comm("n") === deg("u"))
        .groupBy(col("c").as("cand")).agg(sum(col("k")).cast("long").as("_ctot"))
      // candidate set = neighbor communities (+ own community at k_in 0,
      // merged by the sum so a shared community keeps its real k_in)
      val kin = edges
        .join(comm.select(col("n"), col("c").as("cand")), edges("v") === col("n"))
        .select(col("u"), col("cand"), col("w"))
        .unionByName(comm.select(col("n").as("u"), col("c").as("cand"), lit(0L).as("w")))
        .groupBy(col("u"), col("cand")).agg(sum(col("w")).cast("long").as("_kin"))
      val best = kin
        .join(comm.select(col("n").as("u"), col("c").as("_cu")), Seq("u"))
        .join(deg, Seq("u"))
        .join(ctot, Seq("cand"))
        .crossJoin(broadcast(totalW))
        // Σtot(c∖u): u's own degree leaves the target total when c is
        // its current community — joining your own community is not a
        // gain over yourself
        .withColumn("_stot",
          col("_ctot") - when(col("cand") === col("_cu"), col("k")).otherwise(lit(0L)))
        .withColumn("_gain",
          lit(2L) * dq(col("_W")) * dq(col("_kin")) - dq(col("k")) * dq(col("_stot")))
        .withColumn("_rn", row_number().over(byNode))
        .filter(col("_rn") === 1)
        .select(col("u").as("n"), col("cand"))
      // two-coloring schedule: this round only the matching rank-parity
      // class moves — the other class keeps its community
      comm = Share.materialize(comm.join(best, Seq("n"))
        .select(col("n"),
          when(col("_p") === lit((r % 2).toLong), col("cand"))
            .otherwise(col("c")).as("c"),
          col("_p")))
    }
    comm.select(col("n"), col("c"))
  }

  /** Driver-side exact replica of [[louvainPass]] for small collapsed
    * supergraphs: same semi-synchronous two-coloring schedule (parity
    * of the 0-based rank in ascending id order; class r%2 moves in
    * round r), same candidate set (neighbor communities plus own at
    * k_in 0), same exact-integer gain 2·W·k_in − k·Σtot(c∖u) (BigInt
    * here, DECIMAL(38,0) there — both exact), same (gain desc, cand
    * asc) tie-break. Bit-identical labels by construction, pinned
    * against the distributed pass by ColocationSpec's two "driver-side
    * small-graph pass is bit-identical" tests.
    *
    * @param undirected super-edges (u, v, w) WITHOUT self-loops
    * @param universe   every supernode id (isolated ones included)
    * @param selfW      collapsed intra-community self-loop weight,
    *                   counted TWICE in the degree, never in k_in
    */
  private def louvainPassLocal(undirected: Array[(Long, Long, Long)],
                               universe: Array[Long], selfW: Map[Long, Long],
                               totalW: Long, rounds: Int): Array[(Long, Long)] = {
    require(rounds >= 1, "need rounds >= 1")
    val nodes = universe.sorted
    val parity = nodes.iterator.zipWithIndex.map { case (n, i) => n -> (i % 2) }.toMap
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    def addEdge(u: Long, v: Long, w: Long): Unit =
      adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty) += ((v, w))
    undirected.foreach { case (u, v, w) => addEdge(u, v, w); addEdge(v, u, w) }
    val k = nodes.iterator.map { n =>
      n -> (adj.get(n).map(_.iterator.map(_._2).sum).getOrElse(0L) +
        2L * selfW.getOrElse(n, 0L))
    }.toMap
    val comm = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => comm(n) = n)
    val bigW = BigInt(totalW)
    for (r <- 1 to rounds) {
      val ctot = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      nodes.foreach(n => ctot(comm(n)) += k(n))
      val best = nodes.iterator.map { u =>
        val kin = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
        kin(comm(u)) += 0L // own community is always a candidate
        adj.get(u).foreach(_.foreach { case (v, w) => kin(comm(v)) += w })
        val cu = comm(u)
        val ku = BigInt(k(u))
        var bestCand = 0L
        var bestGain: BigInt = null
        kin.foreach { case (cand, kinW) =>
          val stot = BigInt(ctot(cand) - (if (cand == cu) k(u) else 0L))
          val gain = 2 * bigW * BigInt(kinW) - ku * stot
          if (bestGain == null || gain > bestGain ||
            (gain == bestGain && cand < bestCand)) {
            bestGain = gain; bestCand = cand
          }
        }
        u -> bestCand
      }.toMap
      nodes.foreach { n => if (parity(n) == r % 2) comm(n) = best(n) }
    }
    nodes.map(n => (n, comm(n)))
  }
}
