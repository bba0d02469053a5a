package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, LongType}

/** Optimizer rule: rewrite a distance-predicate join into a banded
  * equi-join.
  *
  * A user writing the *declarative* form of a spatial join —
  *
  * {{{ a.join(b, haversine_m(a.lon, a.lat, b.lon, b.lat) <= lit(r)) }}}
  *
  * — or the same join through the library's Scala API
  * [[graft.functions.GeoFunctions.haversineMeters]] (the composed
  * acos/cos spherical-law-of-cosines column, matched structurally),
  * or its projected-CRS twin over
  * [[graft.functions.GeoFunctions.euclideanMeters]] (the composed
  * `sqrt((x₁−x₂)² + (y₁−y₂)²)` column, matched structurally) —
  * hands Spark a join with no equi-keys, which plans as
  * BroadcastNestedLoopJoin or CartesianProduct: O(|a|·|b|) kernel
  * evaluations, the exact quadratic blow-up that kills a 100 TB run.
  * Every hand-written operator in this repo avoids it with integer
  * cell grids ([[graft.operators.SpatialOps.colocationMeetings]],
  * `trajectoryNearPairs`); this rule gives the SAME shape to the naive
  * query automatically, at the logical-plan level, so the quadratic
  * formulation is simply not expressible by accident any more.
  *
  * Rewrite (lossless, runtime-enforced — see the bound derivations
  * below):
  *
  *  - both sides get integer band ids: a latitude band
  *    `by = floor(lat / wLat)` and (when the radius admits more than a
  *    couple of longitude bands) a WRAPPED longitude band
  *    `bx = pmod(floor((lon + 180) / w), N)` where `N = floor(360 /
  *    wLon)` and `w = 360 / N` — the circle of longitudes is cut into
  *    exactly N bands of width w ≥ wLon, so ±180° is just another band
  *    edge and pairs straddling the antimeridian land in adjacent
  *    (mod N) bands like any other near pair;
  *  - the LEFT side explodes `bx ∈ {pmod(bx−1, N), bx, pmod(bx+1, N)}`,
  *    the RIGHT side explodes `by ∈ {by−1, by, by+1}` (3× rows on each
  *    side instead of 9× on one — and each qualifying pair matches
  *    EXACTLY once, because N ≥ 3 keeps the three exploded values
  *    distinct and exactly one of them equals the other side's band,
  *    so no post-join dedup is needed);
  *  - the join gains the band equalities as equi-keys (planned as a
  *    shuffle/broadcast HASH join by `ExtractEquiJoinKeys`) and keeps
  *    the original haversine predicate as the exact residual filter;
  *  - a Project above restores the original output columns.
  *
  * Exactness contract:
  *
  *  - KERNEL ROUNDING: the residual keeps pairs whose COMPUTED
  *    haversine_m ≤ r, and the acos kernel can round a distance up to
  *    ~8·R²·eps/r meters above r down INTO the radius; bands are
  *    therefore derived from the inflated `rEff = r + 8·R²·eps/r`, so
  *    every pair the residual can keep falls in adjacent bands.
  *  - LATITUDE: `hav(d/R) = hav(Δφ) + cosφ₁·cosφ₂·hav(Δλ)` gives
  *    `sin(d/2R) ≥ sin(Δφ/2)`, both angles in [0, π/2], hence
  *    `d ≥ R·Δφ` with NO approximation at any latitude — so
  *    `wLat = degrees(rEff/R)` (padded 1+1e-12 for double rounding)
  *    admits every pair the residual keeps.
  *  - LONGITUDE: the same identity gives
  *    `sin(d/2R) ≥ cos(cap)·sin(Δλ/2)` whenever both |φ| ≤ cap — and
  *    `sin(Δλ/2)` is symmetric about Δλ = 180°, so the bound holds for
  *    the CIRCULAR longitude gap, antimeridian wrap included. Hence
  *    `wLon = degrees(2·asin(sin(rEff/2R)/cos(cap)))` (padded 1+1e-9)
  *    bounds the circular gap — but ONLY inside the declared latitude
  *    envelope `cap` (conf `spark.graft.distanceJoin.maxAbsLatDeg`,
  *    default 66°). Because this rule fires invisibly, the envelope is
  *    enforced per ROW, per side: a latitude beyond `cap`, or a
  *    longitude outside [−180, 180] (where the wrapped band id's
  *    floating-point periodicity argument no longer holds), evaluates
  *    a `RaiseError` instead of a band id — exact-or-loud, never a
  *    silently dropped near pair. If `N = floor(360/wLon) < 3` the
  *    longitude axis degrades to one global band (latitude banding
  *    still applies) and needs no guard at all: with no longitude
  *    banding the rewrite is exact at every latitude and longitude.
  *  - ANTIMERIDIAN: handled by the wrapped band id — a Pacific corpus
  *    joins exactly across the seam with no raise and no double count
  *    (one band id per row; the mod-N neighbor explode matches it
  *    exactly once).
  *  - PLANAR: projected coordinates have no seam and no latitude
  *    dependence, so both axes band with plain floor bands of width
  *    rEff = r·(1+1e-9) + 1e-6 m (covering sqrt/sum rounding and
  *    per-coordinate absolute error). The 1e-6-m pad dominates
  *    eps·|coord| only while |coord| stays far below 4.5e9 m, so the
  *    band id enforces |x|,|y| ≤ 1e8 m per row (45× margin; every
  *    real projected CRS is ≤ ~2e7 m) and raises beyond it — the same
  *    exact-or-loud contract as the spherical envelope.
  *  - NULL / NaN coordinates band to null / garbage and are rejected
  *    by the residual predicate exactly as the un-rewritten join
  *    rejects them (haversine is null-intolerant; NaN compares false)
  *    — the envelope guard deliberately passes them through.
  *
  * HOT BANDS (the packed-geometry failure mode): banding bounds the
  * candidate volume by band OCCUPANCY, so on geometry packed into a
  * handful of cells the band join silently degenerates toward
  * all-pairs through the hot cells (the packed trajectory probe in
  * SURVEY §6 measured exactly that — a 15-minute hang). Two guards:
  *
  *  - a per-TASK candidate-pair budget ([[PairBudgetGuard]]): the join
  *    condition gains a codegen'd counter conjunct evaluated FIRST,
  *    before the haversine kernel — one long increment per candidate
  *    pair, raising with the tiling hint once a single task has
  *    evaluated more than `spark.graft.distanceJoin.maxPairsPerTask`
  *    candidates (default 1e8: at the measured ~430 ns per sort-merge
  *    candidate iteration that is ~45 s of single-task grind before
  *    the loud stop — the direct encoding of "no task may grind
  *    unboundedly"; ≤ 0 disables). A window-count per-cell occupancy pre-check was
  *    A/B'd against this and REJECTED: the two WindowExecs cost
  *    2.85 s vs 0.48 s warm on the 50k/side probe — a 6× healthy-path
  *    tax — while the counter is a register increment inside the
  *    join's whole-stage-codegen residual, free at any scale;
  *  - `spark.graft.distanceJoin.spreadFactor` = T (default 1) tiles
  *    every cell's pair space across T tasks: the right side gets a
  *    deterministic tile id `pmod(xxhash64(lon, lat), T)`, the left
  *    explodes all T tiles, and the tile id joins as one more
  *    equi-key — each pair still matches exactly once, per-task work
  *    drops T×, so raising the spread is precisely the raise
  *    message's escape hatch (the same pair-space tiling
  *    `colocationMeetings` exposes as `spreadFactor`).
  *
  * The rule fires on Inner/Cross joins and — since r14 — on
  * LeftSemi/LeftAnti ("keep/drop everything within r of any point in
  * X", the blocklist-distance filter): there the LEFT side keeps its
  * single band id (no explode — a semi/anti match must not duplicate
  * or tile left rows) and the RIGHT side explodes BOTH axes ±1 (9×, or
  * 3× when the longitude axis degrades), so every qualifying pair
  * meets at the left row's exact cell; semi/anti semantics make match
  * multiplicity irrelevant. spreadFactor tiling does NOT apply to
  * semi/anti (tiling replicates the probe side, which would break
  * anti's no-match-anywhere contract). SQL `EXISTS`/`NOT EXISTS`
  * distance subqueries reach the same path — but only through the
  * `experimental.extraOptimizations` registration
  * ([[GraftExtensions.register]], applied by GraftSession.local/
  * prepare): RewritePredicateSubquery turns the subquery into the
  * semi/anti Join only AFTER the operator-optimization batch where
  * `injectOptimizerRule` rules run, so the extensions-conf injection
  * alone sees EXISTS too early. Since r15 LEFT OUTER and RIGHT OUTER
  * band through the same row-preserving shape (the preserved side
  * keeps its single cell, the other side explodes both axes ±1, so
  * each qualifying pair meets exactly once and an unmatched preserved
  * row null-extends exactly once — an explode on the preserved side
  * would duplicate its unmatched rows, which is why the preserved
  * side never explodes). FULL OUTER is the one genuinely unbandable
  * shape (whichever side explodes, ITS unmatched rows would
  * null-extend once per replica): it stays a BNLJ, but with the same
  * per-task [[PairBudgetGuard]] attached (keyless — a pure per-task
  * candidate counter) so a planet-scale full-outer distance join
  * raises loudly within minutes instead of grinding quadratically
  * for days.
  * The rule fires only when no equi-conjunct
  * already exists (then the join is hash-joinable as written and the
  * 3× explode cannot pay), and never re-fires on its own output (the
  * band attributes carry a reserved name prefix). Kill switch:
  * `spark.graft.distanceJoin.enabled=false`.
  *
  * Scale shape at 100 TB: candidates per row = the occupancy of a
  * 3×3 band neighborhood (~(3r)² of ground area at the envelope), not
  * the corpus; both explodes are narrow (one long each); the hash
  * join shuffles by band id, so AQE's skew split applies to hot
  * cities, the per-task budget refuses quadratic cells loudly, and
  * `spreadFactor` tiles them across the cluster on request.
  *
  * Measured (SURVEY §6, the distance-join probe, local[32], r = 100 m):
  * fixed-density clouds 50k→100k→200k→400k points/side run
  * 0.6 → 0.8 → 1.4 → 2.6 s — near-linear, tracking the pair volume
  * (1.9M → 14.9M) — while the un-rewritten BroadcastNestedLoopJoin
  * needs 34 s at the 50k size ALONE (58×) and grows quadratically
  * from there. Packed regime (all 50k×50k points in one cell): the
  * per-task budget raises loudly instead of hanging; with
  * `spreadFactor=32` the same shape completes tiled — 1e8 output
  * pairs in ~9 s at 10k/side (SURVEY §6, the packed entries).
  */
object BandedDistanceJoin extends Rule[LogicalPlan] with PredicateHelper {

  private val BandPrefix = "__graft_band"
  private val EarthR = 6371000.0
  /** Planar coordinate-magnitude bound (meters): the 1e-6-m absolute
    * band pad provably covers per-coordinate eps·|coord| rounding only
    * while |coord| ≪ 1e-6/eps ≈ 4.5e9 m; 1e8 keeps a 45× margin and
    * still admits every real projected CRS (≤ ~2e7 m). Beyond it the
    * band id raises — exact-or-loud, matching the spherical envelope.
    */
  private val PlanarMaxAbsCoord = 1e8

  val EnabledKey = "spark.graft.distanceJoin.enabled"
  val MaxAbsLatKey = "spark.graft.distanceJoin.maxAbsLatDeg"
  val MaxPairsPerTaskKey = "spark.graft.distanceJoin.maxPairsPerTask"
  val SpreadFactorKey = "spark.graft.distanceJoin.spreadFactor"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "true").toBoolean) return plan
    val cap = conf.getConfString(MaxAbsLatKey, "66.0").toDouble
    require(cap > 0 && cap < 90, s"$MaxAbsLatKey must be in (0, 90), got $cap")
    val maxPairs = conf.getConfString(MaxPairsPerTaskKey, "100000000").toDouble
    val spread = conf.getConfString(SpreadFactorKey, "1").toInt
    require(spread >= 1 && spread <= 4096,
      s"$SpreadFactorKey must be in [1, 4096], got $spread")
    plan.transform {
      case j @ Join(_, _, Inner | Cross | LeftSemi | LeftAnti | LeftOuter | RightOuter,
          Some(cond), _)
          if !cond.references.exists(_.name.startsWith(BandPrefix)) =>
        rewrite(j, cond, cap, maxPairs, spread).getOrElse(j)
      case j @ Join(_, _, FullOuter, Some(cond), _)
          if maxPairs > 0 && !cond.exists(_.isInstanceOf[PairBudgetGuard]) &&
            !splitConjunctivePredicates(cond).exists(isEquiAcross(_, j)) &&
            splitConjunctivePredicates(cond).exists(radiusConjunct(_).isDefined) =>
        // full outer cannot band (see scaladoc) — keep the BNLJ but
        // attach the loud per-task candidate budget. Keyless guard:
        // with no band cells the per-run counter degenerates to the
        // per-task counter, which for a nested-loop join counts
        // exactly |stream partition| x |broadcast side| candidate
        // evaluations — the quantity that explodes quadratically.
        val budget = maxPairs.toLong
        val g = PairBudgetGuard(Nil, budget, budget,
          s"graft.BandedDistanceJoin: full-outer distance join evaluated more than " +
            s"$MaxPairsPerTaskKey=$budget candidate pairs in one task. Full outer cannot " +
            s"be banded (either side's explode would duplicate its unmatched rows) — " +
            s"split the query into a banded LEFT OUTER join UNION ALL the null-extended " +
            s"banded LEFT ANTI of the right side, raise $MaxPairsPerTaskKey, or disable " +
            s"this guard via $EnabledKey=false")
        j.copy(condition = Some(If(g, cond, Literal(false))))
    }
  }

  private def isEquiAcross(e: Expression, j: Join): Boolean = e match {
    case EqualTo(l, r) => splitsAcross(l, r, j)
    case EqualNullSafe(l, r) => splitsAcross(l, r, j)
    case _ => false
  }

  /** The two distance forms the rule recognizes. */
  private sealed trait DistCase {
    def x1: Expression; def y1: Expression; def x2: Expression; def y2: Expression
    def children: Seq[Expression] = Seq(x1, y1, x2, y2)
  }
  /** The spherical kernel — either the native [[HaversineDistance]]
    * node (the SQL `haversine_m` route) or the composed
    * spherical-law-of-cosines column
    * [[graft.functions.GeoFunctions.haversineMeters]] builds:
    * `R·acos(clamp(cos(φ₁−φ₂) − cosφ₁·cosφ₂·(1 − cos(λ₁−λ₂))))`.
    * Both are matched so the library's own Scala API bands exactly
    * like the registered SQL function — the coordinates here are the
    * DEGREE expressions (ToRadians unwrapped for the composed form).
    */
  private case class Spherical(x1: Expression, y1: Expression,
                               x2: Expression, y2: Expression) extends DistCase
  /** The planar kernel: the composed `sqrt((x1−x2)² + (y1−y2)²)` column
    * [[graft.functions.GeoFunctions.euclideanMeters]] builds for
    * projected CRSs (matched structurally, with or without its
    * null-guard CASE WHEN wrapper) — the other half of the reference's
    * planar/geographic distance dispatch, and the same accidental
    * BNLJ/cartesian trap when used as a join predicate.
    */
  private case class Planar(x1: Expression, y1: Expression,
                            x2: Expression, y2: Expression) extends DistCase

  private def distCase(e: Expression): Option[DistCase] = e match {
    case h: HaversineDistance => Some(Spherical(h.lon1, h.lat1, h.lon2, h.lat2))
    // euclideanMeters / haversineMeters wrap their kernel in
    // when(all coords not null, ...) with no else branch — unwrap it
    // (the residual keeps the original null semantics; banding only
    // needs the coordinate expressions)
    case CaseWhen(Seq((_, inner)), None) => kernel(inner)
    case other => kernel(other)
  }

  private def kernel(e: Expression): Option[DistCase] =
    planarSqrt(e).orElse(sphericalAcos(e))

  private def planarSqrt(e: Expression): Option[DistCase] = e match {
    case Sqrt(Add(Multiply(dx1, dx2, _), Multiply(dy1, dy2, _), _))
        if dx1.semanticEquals(dx2) && dy1.semanticEquals(dy2) =>
      (dx1, dy1) match {
        case (Subtract(x1, x2, _), Subtract(y1, y2, _)) => Some(Planar(x1, y1, x2, y2))
        case _ => None
      }
    case _ => None
  }

  /** Structurally match the composed spherical column
    * [[graft.functions.GeoFunctions.haversineMeters]] emits:
    * `R * acos(least(1, greatest(-1, cos(la1−la2) − cos(la1)·cos(la2)·(1 − cos(lo1−lo2)))))`
    * with `laᵢ = radians(latᵢ)`, `loᵢ = radians(lonᵢ)` — the Scala-API
    * twin of the native node, and (pre-r14) the rule's blind spot: a
    * user writing `a.join(b, GeoFunctions.haversineMeters(...) <= r)`
    * silently got the BNLJ this rule exists to kill. The [-1,1] clamp
    * is accepted present or absent (it is value-preserving).
    */
  private def sphericalAcos(e: Expression): Option[DistCase] = {
    def unclamp(a: Expression): Expression = a match {
      case Least(Seq(Literal(1.0, DoubleType), Greatest(Seq(Literal(-1.0, DoubleType), inner)))) => inner
      case other => other
    }
    def degrees(rad: Expression): Option[Expression] = rad match {
      case ToRadians(d) => Some(d)
      case _ => None
    }
    e match {
      case Multiply(Literal(r: Double, DoubleType), Acos(clamped), _) if r == EarthR =>
        unclamp(clamped) match {
          case Subtract(Cos(Subtract(laA, laB, _)),
              Multiply(Multiply(Cos(la1), Cos(la2), _),
                Subtract(Literal(1.0, DoubleType), Cos(Subtract(lo1, lo2, _)), _), _), _)
              if laA.semanticEquals(la1) && laB.semanticEquals(la2) =>
            for {
              lonD1 <- degrees(lo1); latD1 <- degrees(la1)
              lonD2 <- degrees(lo2); latD2 <- degrees(la2)
            } yield Spherical(lonD1, latD1, lonD2, latD2)
          case _ => None
        }
      case _ => None
    }
  }

  /** The distance conjunct: a recognized distance form compared ≤/< to
    * a positive double literal, either operand order. Also unwraps the
    * guarded form `CASE WHEN g THEN dist ≤ r ELSE false/null END` that
    * PushFoldableIntoBranches produces from euclideanMeters' null-guard
    * wrapper — the guard only ever REMOVES matches, so banding on the
    * inner distance stays lossless (the whole CASE stays the residual).
    */
  private def radiusConjunct(e: Expression): Option[(DistCase, Double)] = e match {
    case LessThanOrEqual(d, Literal(r: Double, DoubleType)) => distCase(d).map((_, r))
    case LessThan(d, Literal(r: Double, DoubleType)) => distCase(d).map((_, r))
    case GreaterThanOrEqual(Literal(r: Double, DoubleType), d) => distCase(d).map((_, r))
    case GreaterThan(Literal(r: Double, DoubleType), d) => distCase(d).map((_, r))
    case CaseWhen(Seq((_, inner)), elseOpt)
        if elseOpt.forall(el => el == Literal(false) || el == Literal(null, BooleanType)) =>
      radiusConjunct(inner)
    case _ => None
  }

  /** How the x axis is banded: wrapped mod-N longitude bands (the
    * spherical case), plain unbounded bands (the planar case — no
    * envelope, no seam, exact everywhere), or a single global band
    * (huge spherical radii, where mod-3 neighbor explodes would
    * collide).
    */
  private sealed trait XBanding
  private case class WrappedX(n: Long, cap: Double) extends XBanding
  private case class PlainX(w: Double) extends XBanding
  private case object NoX extends XBanding

  private def rewrite(j: Join, cond: Expression, cap: Double,
                      maxPairs: Double, spread: Int): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)
    // an existing equi-conjunct means the join is already hash-joinable
    // as written — banding would pay 3× input for keys strictly less
    // selective than what's there.
    if (conjuncts.exists(isEquiAcross(_, j))) return None
    conjuncts.iterator.flatMap(radiusConjunct).collectFirst {
      case (d, r) if r > 0 && java.lang.Double.isFinite(r) &&
        d.children.forall(_.deterministic) => (d, r)
    }.flatMap { case (d, r) =>
      // assign the two points to the join's sides (either order)
      val (lo1, la1, lo2, la2) = (d.x1, d.y1, d.x2, d.y2)
      val p1Left = canEvaluate(lo1, j.left) && canEvaluate(la1, j.left)
      val p1Right = canEvaluate(lo1, j.right) && canEvaluate(la1, j.right)
      val p2Left = canEvaluate(lo2, j.left) && canEvaluate(la2, j.left)
      val p2Right = canEvaluate(lo2, j.right) && canEvaluate(la2, j.right)
      val sides =
        if (p1Left && p2Right) Some(((lo1, la1), (lo2, la2)))
        else if (p2Left && p1Right) Some(((lo2, la2), (lo1, la1)))
        else None
      sides.map { case ((loL, laL), (loR, laR)) =>
        // band on an INFLATED radius — the residual predicate keeps
        // pairs whose COMPUTED distance is <= r, and the kernel can
        // round a true distance slightly above r down INTO the radius:
        //  - spherical: the acos kernel's absolute error near its
        //    argmax is ~c·R²·eps/d meters (the 1/sqrt(1−x²) derivative
        //    at x ≈ 1) — ~0.2 mm at 100 m but ~2 cm at 1 m, far above
        //    a 1e-12 relative pad → rEff = r + 8·R²·eps/r;
        //  - planar: sqrt/sum rounding is ~3 eps relative plus ~eps
        //    absolute per coordinate (≤ ~2e-9 m at 1e7-m projected
        //    coordinates) → a 1e-9 relative + 1e-6-m absolute pad.
        // Bands derived from rEff cover every pair the kernel can
        // round in, so the rewrite is lossless w.r.t. the exact
        // residual it keeps (inflation only widens candidate bands).
        val (xb, wLat) = d match {
          case _: Spherical =>
            val rEff = r + 8.0 * EarthR * EarthR * 2.3e-16 / r
            val wy = math.toDegrees(rEff / EarthR) * (1 + 1e-12)
            val sinHalf = math.sin(rEff / (2 * EarthR)) / math.cos(math.toRadians(cap))
            // Number of WRAPPED longitude bands: N bands of width
            // 360/N ≥ wLon cut the full circle, so the seam is a band
            // edge like any other. N < 3 (radius so large the circle
            // fits in under three bands — the mod-N neighbor explode
            // would collide and double-count) degrades to one global
            // lon band: no lon key, no guard, exact at every latitude
            // and longitude at worst-case candidate volume.
            val nLon: Long =
              if (sinHalf >= 1.0) 1L
              else {
                val wLonRaw = math.toDegrees(2 * math.asin(sinHalf)) * (1 + 1e-9)
                math.floor(360.0 / wLonRaw).toLong
              }
            (if (nLon >= 3L) WrappedX(nLon, cap) else NoX, wy)
          case _: Planar =>
            val rEff = r * (1 + 1e-9) + 1e-6
            (PlainX(rEff), rEff)
        }

        // Row-preserving joins must keep the preserved side row-for-row
        // (no explode, no tiles): for semi/anti a replica would break
        // keep/drop-once semantics, for outer joins a replica would
        // duplicate the null-extended unmatched rows. The OTHER side
        // explodes both axes ±1, so every qualifying pair meets exactly
        // once at the preserved row's exact cell — which also makes the
        // pair multiplicity of LEFT/RIGHT OUTER matches exact.
        val preserveLeft = j.joinType == LeftSemi || j.joinType == LeftAnti ||
          j.joinType == LeftOuter
        val preserveRight = j.joinType == RightOuter
        val rowPreserving = preserveLeft || preserveRight
        // inner/cross: 3× lon explode left + 3× lat explode right (each
        // qualifying pair matches EXACTLY once).
        val (left, right) =
          if (preserveLeft)
            (bandedSide(j.left, loL, laL, xb, wLat, spread = 1, isLeft = true,
              explodeLon = false, explodeLat = false),
              bandedSide(j.right, loR, laR, xb, wLat, spread = 1, isLeft = false,
                explodeLon = true, explodeLat = true))
          else if (preserveRight)
            (bandedSide(j.left, loL, laL, xb, wLat, spread = 1, isLeft = true,
              explodeLon = true, explodeLat = true),
              bandedSide(j.right, loR, laR, xb, wLat, spread = 1, isLeft = false,
                explodeLon = false, explodeLat = false))
          else
            (bandedSide(j.left, loL, laL, xb, wLat, spread, isLeft = true,
              explodeLon = true, explodeLat = false),
              bandedSide(j.right, loR, laR, xb, wLat, spread, isLeft = false,
                explodeLon = false, explodeLat = true))
        val eqs: Seq[Expression] =
          left.lonKey.zip(right.lonKey).map { case (a, b) => EqualTo(a, b) }.toSeq ++
            Seq(EqualTo(left.latKey, right.latKey)) ++
            left.tileKey.zip(right.tileKey).map { case (a, b) => EqualTo(a, b) }
        // the per-cell candidate budget, evaluated per candidate pair
        // BEFORE the kernel: a key-run counter (one compare + increment
        // per pair) that raises with the tiling hint once a single band
        // cell grinds past the budget. Its children reference band keys
        // from BOTH sides so no rule can push it below the join.
        val guard: Seq[Expression] =
          if (maxPairs <= 0) Nil
          else {
            val keys = left.lonKey.toSeq ++ Seq(left.latKey) ++ left.tileKey.toSeq ++
              Seq(right.latKey)
            // the per-task ceiling scales with spreadFactor — a user who
            // tiles a hot cell has accepted T× replication, and AQE may
            // still coalesce byte-small tiles into one task, so a fixed
            // 4× cap would re-raise on a correctly tiled join and point
            // at the hint the user already followed. Saturating multiply:
            // a huge maxPairsPerTask must disable, not wrap negative.
            val budget = maxPairs.toLong
            // row-preserving joins never tile, so their ceiling doesn't scale
            val effSpread = if (rowPreserving) 1 else spread
            val taskBudget =
              if (budget > Long.MaxValue / (4L * effSpread)) Long.MaxValue
              else 4L * effSpread * budget
            val hint =
              if (rowPreserving)
                s"raise $MaxPairsPerTaskKey, pre-aggregate the probe side, or disable " +
                  s"the rewrite via $EnabledKey=false (spreadFactor tiling does not " +
                  s"apply to semi/anti/outer joins)"
              else
                s"set $SpreadFactorKey (currently $spread) to tile hot cells across " +
                  s"tasks, raise $MaxPairsPerTaskKey, or disable the rewrite via " +
                  s"$EnabledKey=false"
            Seq(PairBudgetGuard(keys, budget, taskBudget,
              s"graft.BandedDistanceJoin: hot band-cell — a single band cell evaluated more " +
                s"than $MaxPairsPerTaskKey=${maxPairs.toLong} candidate pairs in one task. " +
                s"The data is too packed for plain banding at this radius; " + hint))
          }
        // the guard rides as the CONDITION of an If around the residual,
        // not as a sibling conjunct: And-conjuncts get split, reordered
        // (nondeterministic ones last) and short-circuited, which would
        // count only KERNEL-PASSING pairs instead of every candidate —
        // an If's predicate always evaluates first and never splits.
        // If(guard, cond, false) ≡ cond, since guard is `true` or throws.
        val residual = guard.headOption
          .map(g => If(g, cond, Literal(false))).getOrElse(cond)
        val newJoin = Join(left.plan, right.plan, j.joinType,
          Some((eqs :+ residual).reduceLeft(And)), j.hint)
        Project(j.output, newJoin)
      }
    }
  }

  private def splitsAcross(l: Expression, r: Expression, j: Join): Boolean =
    (canEvaluate(l, j.left) && canEvaluate(r, j.right)) ||
      (canEvaluate(l, j.right) && canEvaluate(r, j.left))

  private case class BandedSide(plan: LogicalPlan, lonKey: Option[Attribute],
                                latKey: Attribute, tileKey: Option[Attribute])

  /** Append band ids (and a tile id under `spreadFactor`) to one side
    * and explode one axis to its ±1 neighbors (lon mod N on the left,
    * lat on the right — one narrow long each). The envelope guard lives
    * on the banded expression of the LON axis (the only axis whose
    * width depends on the envelope): out-of-envelope latitudes and
    * out-of-range longitudes raise; null/NaN coordinates flow through
    * to the residual predicate.
    */
  private def bandedSide(side: LogicalPlan, lon: Expression, lat: Expression,
                         xb: XBanding, wLat: Double,
                         spread: Int, isLeft: Boolean,
                         explodeLon: Boolean, explodeLat: Boolean): BandedSide = {
    val byA = Alias(Floor(Divide(lat, Literal(wLat))), s"${BandPrefix}_by")()
    val bxA: Option[Alias] = xb match {
      case NoX => None
      case PlainX(w) =>
        // planar: no seam and no latitude dependence, but the 1e-6-m
        // absolute pad in rEff only dominates the ~eps·|coord|
        // per-coordinate representation error while |coord| stays well
        // under 1e-6/eps ≈ 4.5e9 m — enforce |x|,|y| ≤ 1e8 m (45×
        // margin; any real projected CRS is ≤ ~2e7 m) per row, loudly,
        // for the same exact-or-loud contract the spherical envelope
        // has. null/NaN flow through to the residual.
        def ok(c: Expression): Expression = Or(Or(IsNull(c), IsNaN(c)),
          LessThanOrEqual(Abs(c), Literal(PlanarMaxAbsCoord)))
        val raise: Expression = RaiseError(
          Literal("USER_RAISED_EXCEPTION"),
          CreateMap(Seq(Literal("errorMessage"), Literal(
            s"graft.BandedDistanceJoin: projected coordinate magnitude exceeds " +
              s"${PlanarMaxAbsCoord.toLong} m — beyond this the floating-point pad behind " +
              s"the planar band width is not proven to cover per-coordinate rounding. " +
              s"Rescale the CRS or disable the rewrite via $EnabledKey=false"))),
          LongType)
        Some(Alias(If(And(ok(lon), ok(lat)),
          Floor(Divide(lon, Literal(w))), raise), s"${BandPrefix}_bx")())
      case WrappedX(nLon, cap) =>
        val latOk = Or(Or(IsNull(lat), IsNaN(lat)),
          LessThanOrEqual(Abs(lat), Literal(cap)))
        val lonOk = Or(Or(IsNull(lon), IsNaN(lon)),
          LessThanOrEqual(Abs(lon), Literal(180.0)))
        val raise: Expression = RaiseError(
          Literal("USER_RAISED_EXCEPTION"),
          CreateMap(Seq(Literal("errorMessage"), Literal(
            s"graft.BandedDistanceJoin: coordinate outside the declared envelope " +
              s"(|lat| <= $cap deg from $MaxAbsLatKey, |lon| <= 180 deg) — the derived " +
              s"longitude band width does not cover the join radius there; raise " +
              s"$MaxAbsLatKey, band manually, or disable the rewrite via $EnabledKey=false"))),
          LongType)
        val w = 360.0 / nLon
        val band = Pmod(Floor(Divide(Add(lon, Literal(180.0)), Literal(w))), Literal(nLon))
        Some(Alias(If(And(latOk, lonOk), band, raise), s"${BandPrefix}_bx")())
    }
    // the right side's tile id is a deterministic hash of the raw
    // coordinates — one tile per physical row, so a pair still matches
    // exactly once (at that tile, against the left's full explode)
    val tileA: Option[Alias] =
      if (spread > 1 && !isLeft)
        Some(Alias(Pmod(new XxHash64(Seq(lon, lat)), Literal(spread.toLong)),
          s"${BandPrefix}_tile")())
      else None
    var plan: LogicalPlan =
      Project(side.output ++ bxA.toSeq ++ Seq(byA) ++ tileA.toSeq, side)

    def explode(values: Seq[Expression], name: String): Attribute = {
      val out = AttributeReference(name, LongType, nullable = true)()
      plan = Generate(Explode(CreateArray(values)), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(out), child = plan)
      out
    }
    val one = Literal(1L)
    val lonKey: Option[Attribute] = bxA.map { a =>
      val b = a.toAttribute
      if (!explodeLon) b
      else {
        val neighbors = xb match {
          case WrappedX(nLon, _) =>
            val n = Literal(nLon)
            Seq(Pmod(Subtract(b, one), n), b, Pmod(Add(b, one), n))
          case _ => Seq(Subtract(b, one), b, Add(b, one))
        }
        explode(neighbors, s"${BandPrefix}_bxe")
      }
    }
    val latKey: Attribute = {
      val b = byA.toAttribute
      if (!explodeLat) b
      else explode(Seq(Subtract(b, one), b, Add(b, one)), s"${BandPrefix}_bye")
    }
    val tileKey: Option[Attribute] =
      if (spread <= 1) None
      else if (isLeft)
        Some(explode((0 until spread).map(t => Literal(t.toLong)), s"${BandPrefix}_tilee"))
      else tileA.map(_.toAttribute)

    BandedSide(plan, lonKey, latKey, tileKey)
  }
}

/** Per-cell candidate-pair budget for [[BandedDistanceJoin]]: a boolean
  * conjunct placed FIRST in the banded join's residual condition. Its
  * VALUE is deterministically `true`; its side effect is a counter over
  * the current RUN of identical band-key values that throws past
  * `budget` — bounding the work a hot band cell (the packed-geometry
  * quadratic) can sink into one task to `budget` candidate
  * evaluations, loudly.
  *
  * Key-RUN counting, not per-task counting, is the primary bound:
  * under sort-merge join every candidate pair of a band cell is
  * contiguous, so a run == a cell, and `spreadFactor` tiling then
  * lowers the per-run volume no matter how AQE packs partitions into
  * tasks (a pure per-task counter is defeated by partition
  * coalescing: a packed toy corpus is BYTE-small, so AQE merges all
  * tiles into one task and the sum still trips the budget — measured
  * in DistanceJoinRuleSpec's tiling test). Under a broadcast hash
  * join the stream side interleaves runs and the run counter degrades
  * to bounding one probe's match list, so a SECOND counter caps the
  * per-task TOTAL at 4× the run budget × spreadFactor (a tiling user
  * accepted T× replication, and AQE may coalesce byte-small tiles into
  * one task — a fixed cap would re-raise on a correctly tiled join) —
  * loose enough that legitimate coalesced tile groups pass, tight
  * enough that an interleaved quadratic still raises within minutes,
  * never hangs.
  *
  * `keys` are the band/tile key attributes from BOTH join sides, so no
  * pushdown rule can move the conjunct below the join. Codegen keeps
  * the state in generated-class fields (one instance per task
  * partition, reset via the partition-initialization hook); the
  * interpreted fallback additionally keys off the task-attempt id
  * since expression instances there can outlive a task.
  */
case class PairBudgetGuard(keys: Seq[Expression], budget: Long, taskBudget: Long,
                           message: String)
  extends Expression {
  override def children: Seq[Expression] = keys
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  // DELIBERATELY nondeterministic (it is — the value is constant but
  // the throw depends on task-local state): a deterministic guard gets
  // SUBSTITUTED through the band equalities by InferFiltersFromConstraints
  // into a single-side copy that is then pushed below the join as a
  // per-ROW scan filter — which both double-counts and can raise
  // spuriously on any scan task with more rows than the task budget
  // (caught by the round-13 explain audit of spatial_join_planar).
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_pair_budget"

  @transient private[this] var lastTask: Long = Long.MinValue
  @transient private[this] var lastKeys: Array[Long] = _
  @transient private[this] var inRun: Boolean = false
  @transient private[this] var count: Long = 0L
  @transient private[this] var taskCount: Long = 0L

  override def eval(input: InternalRow): Any = {
    val tc = org.apache.spark.TaskContext.get()
    val id = if (tc == null) -1L else tc.taskAttemptId()
    if (id != lastTask) { lastTask = id; inRun = false; taskCount = 0L }
    if (lastKeys == null || lastKeys.length != keys.length)
      lastKeys = new Array[Long](keys.length)
    var changed = !inRun
    var i = 0
    while (i < keys.length) {
      val v = keys(i).eval(input)
      // band keys are null only for null coordinates, which never
      // equi-match — treat null as always-changed for safety
      val l = if (v == null) { changed = true; Long.MinValue }
              else v.asInstanceOf[Long]
      if (l != lastKeys(i)) changed = true
      lastKeys(i) = l
      i += 1
    }
    if (changed) { inRun = true; count = 0L }
    count += 1L
    taskCount += 1L
    if (count > budget || taskCount > taskBudget) throw new RuntimeException(message)
    true
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cnt = ctx.addMutableState(CodeGenerator.JAVA_LONG, "graftPairBudget")
    val taskCnt = ctx.addMutableState(CodeGenerator.JAVA_LONG, "graftPairBudgetTask")
    val inRunV = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "graftPairBudgetRun")
    ctx.addPartitionInitializationStatement(s"$cnt = 0L; $taskCnt = 0L; $inRunV = false;")
    val msg = ctx.addReferenceObj("graftPairBudgetMsg", message, "java.lang.String")
    val changed = ctx.freshName("graftChanged")
    val evals = keys.map(_.genCode(ctx))
    val lastVars = keys.map(_ => ctx.addMutableState(CodeGenerator.JAVA_LONG, "graftPairBudgetKey"))
    val cmp = evals.zip(lastVars).map { case (e, v) =>
      s"""|if (${e.isNull} || ${e.value} != $v) { $changed = true; }
          |$v = ${e.isNull} ? Long.MIN_VALUE : ${e.value};""".stripMargin
    }.mkString("\n")
    ev.copy(
      code = code"""
        |${evals.map(_.code.toString).mkString("\n")}
        |boolean $changed = !$inRunV;
        |$cmp
        |if ($changed) { $inRunV = true; $cnt = 0L; }
        |$cnt += 1L;
        |$taskCnt += 1L;
        |if ($cnt > ${budget}L || $taskCnt > ${taskBudget}L) { throw new RuntimeException($msg); }
        |""".stripMargin,
      isNull = FalseLiteral,
      value = TrueLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(keys = newChildren)
}
