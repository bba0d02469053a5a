package graft.gates

import graft.functions.PortableHash.{M, affine, foldHashesSql, h60Sql}
import graft.sources.EventsAdapter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder and oracle helpers used by two or more gate families. */
private[gates] object Shared {

  val hav = EventsAdapter.havSql _

  /** The interval table with `location_id`, each 12-visit block's
    * place among 4 locations: the builder fixture of the location gates.
    */
  def blockLocations(s: SparkSession, dir: String): DataFrame =
    EventsAdapter.intervals(s, dir).withColumn("location_id", expr("(k div 12) % 4"))

  /** DuckDB `n`-word-shingle set per doc `sh(doc_id, s)` (same shape as
    * Dedup.shingles); a doc shorter than `n` words is one shingle.
    */
  def shinglesCte(n: Int, src: String): String =
    s"""sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(string_split(text,' ')) >= $n
       |    THEN list_transform(range(0, len(string_split(text,' ')) - ${n - 1}),
       |         i -> array_to_string(string_split(text,' ')[i+1:i+$n], ' '))
       |    ELSE [array_to_string(string_split(text,' '), ' ')] END) AS s
       |  FROM $src)""".stripMargin

  /** MinHash band hashes of `src`'s docs: shingle sets `sh(doc_id, s)`,
    * signatures `sig` and one row per (doc, band) `banded(doc_id, bb, h)`
    * (the oracle side of Dedup's band candidates).
    */
  def minhashBandedCtes(numHashes: Int, bands: Int, src: String): String = {
    val rows = numHashes / bands
    val sigCols = (0 until numHashes).map { i =>
      val (a, b) = affine(i)
      s"min((b * $a + $b) % $M) AS m$i"
    }.mkString(",\n    ")
    val bandSelects = (0 until bands).map { b =>
      val fold = foldHashesSql((b * rows until (b + 1) * rows).map(j => s"m$j"))
      s"SELECT doc_id, $b AS bb, $fold AS h FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""${shinglesCte(3, src)},
       |ex AS (SELECT doc_id, unnest(s) AS sg FROM sh),
       |hb AS (SELECT doc_id, ${h60Sql("sg")} % $M AS b FROM ex),
       |sig AS (
       |  SELECT doc_id,
       |    $sigCols
       |  FROM hb GROUP BY doc_id),
       |banded AS (
       |  $bandSelects)""".stripMargin
  }

  /** CTE chain producing the verified minhash pair set as `dup(id_a, id_b)`. */
  def minhashPairsCte(numHashes: Int, bands: Int, threshold: Double,
                      src: String = "documents"): String =
    s"""${minhashBandedCtes(numHashes, bands, src)},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b ON a.bb = b.bb AND a.h = b.h AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT id_a, id_b,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) AS j
       |  FROM pairs JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b),
       |dup AS (SELECT id_a, id_b, j FROM scored WHERE j >= $threshold)""".stripMargin

  def minhashOracle(numHashes: Int, bands: Int, threshold: Double): String =
    s"""WITH ${minhashPairsCte(numHashes, bands, threshold)}
       |SELECT id_a, id_b, round(j, 6) AS jaccard FROM dup""".stripMargin

  /** Min-label connected components, the oracle twin of
    * [[graft.operators.Dedup.duplicateClusters]]: `und`, the pairs
    * (`a`, `b`) of `src` in both directions; `reach`, their transitive
    * closure ([[reachCte]]); `nodes`, every node on an edge. A node's
    * component label is `least(node, min(reach.b))`.
    */
  def componentCtes(src: String, a: String, b: String): String =
    s"""und AS (SELECT $a AS a, $b AS b FROM $src UNION SELECT $b, $a FROM $src),
       |$reachCte,
       |nodes AS (SELECT DISTINCT a AS node FROM und)""".stripMargin

  /** `reach(a, b)`: the transitive closure of the undirected pairs `und`. */
  val reachCte: String =
    """reach(a, b) AS (
      |  SELECT a, b FROM und
      |  UNION
      |  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)""".stripMargin

  /** `name`(node as `node`, cluster_id): each node of [[componentCtes]]
    * with its component label.
    */
  def labelCte(name: String, node: String = "n.node"): String =
    s"""$name AS (
       |  SELECT $node, least(n.node, min(r.b)) AS cluster_id
       |  FROM nodes n JOIN reach r ON r.a = n.node GROUP BY n.node)""".stripMargin

  /** `dropped(node)`: each node of [[componentCtes]] that is not its
    * component's label.
    */
  val droppedCte: String =
    """dropped AS (
      |  SELECT n.node FROM nodes n JOIN reach r ON r.a = n.node
      |  GROUP BY n.node HAVING least(n.node, min(r.b)) <> n.node)""".stripMargin

  /** The lnq-OLS tail of the long-form `*_fit` oracles over `xy(x, y)`
    * (quantized logs): `ag`, the count `n` and the four sums; `sl`, the
    * slope `slope` from BIGINT cross terms; then the intercept
    * `intercept` in nats. The Spark twin is `Metrics.lnqOlsFit`.
    */
  def olsFitSql(n: String, slope: String, intercept: String): String =
    olsSql(n, slope, intercept,
      s"""CAST($n * sxy - sx * sy AS DOUBLE)
         |           / CAST($n * sxx - sx * sx AS DOUBLE)""".stripMargin)

  /** [[olsFitSql]] with the cross terms in HUGEINT, for spines long
    * enough that n·Σxy overflows a BIGINT.
    */
  def wideOlsFitSql(n: String, slope: String, intercept: String): String =
    olsSql(n, slope, intercept,
      s"""CAST(CAST($n AS HUGEINT) * CAST(sxy AS HUGEINT)
         |              - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
         |           / CAST(CAST($n AS HUGEINT) * CAST(sxx AS HUGEINT)
         |                  - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE)""".stripMargin)

  private def olsSql(n: String, slope: String, intercept: String, slopeSql: String): String =
    s"""ag AS (
       |  SELECT CAST(count(*) AS BIGINT) AS $n,
       |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
       |  FROM xy),
       |sl AS (
       |  SELECT $n, sx, sy,
       |         $slopeSql AS $slope
       |  FROM ag)
       |SELECT $n, $slope,
       |       ((CAST(sy AS DOUBLE) - $slope * CAST(sx AS DOUBLE))
       |          / CAST($n AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS $intercept
       |FROM sl""".stripMargin

  /** Cosine of probe `p`'s and corpus row `c`'s embeddings, rounded to 6
    * places (matches Ann.cosine): the wrapped form, whose line breaks
    * differ from AnnGates' `cosineSql`.
    */
  val probeCosineSql: String =
    """round(
      |      list_sum(list_transform(list_zip(p.embedding, c.embedding),
      |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |      / (sqrt(list_sum(list_transform(p.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)""".stripMargin

  /** Greedy sequence packing (CorpusOps.packSequences) as a recursion
    * over `ord(lang, rn, doc_id, tokens)`: a doc opens a new bin when it
    * would push the running total past `budget`.
    * `pack(lang, rn, doc_id, tokens, bin, running)`.
    */
  def packCte(budget: Int): String =
    s"""pack(lang, rn, doc_id, tokens, bin, running) AS (
       |  SELECT lang, rn, doc_id, tokens, CAST(0 AS BIGINT), tokens FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.lang, o.rn, o.doc_id, o.tokens,
       |         CASE WHEN p.running + o.tokens > $budget THEN p.bin + 1 ELSE p.bin END,
       |         CASE WHEN p.running + o.tokens > $budget THEN o.tokens ELSE p.running + o.tokens END
       |  FROM pack p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1)""".stripMargin

  /** Shared CTE chain: staypoint segments (recursive anchor jump) as
    * `kept(u, a, a_t, f_t, mend)` — see [[staypointsOracle]].
    */
  def staypointSegmentsCte(distM: Double, timeUs: Long,
                           pfsWhere: String = ""): String = {
    val breach =
      s"""(SELECT min(f2.kk) FROM fx f2, fx f1
         |      WHERE f2.user_id = an.u AND f1.user_id = an.u AND f1.kk = an.a
         |        AND f2.kk > an.a AND ${hav("f1.lon", "f1.lat", "f2.lon", "f2.lat")} >= $distM)""".stripMargin
    s"""${EventsAdapter.pfsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |fx AS (
       |  SELECT user_id, t_us, lon, lat,
       |         row_number() OVER (PARTITION BY user_id ORDER BY t_us, id) - 1 AS kk
       |  FROM pfs $pfsWhere),
       |anchors(u, a) AS (
       |  SELECT user_id, 0 FROM fx WHERE kk = 0
       |  UNION ALL
       |  SELECT an.u, $breach
       |  FROM anchors an
       |  WHERE $breach IS NOT NULL),
       |segs AS (
       |  SELECT an.u, an.a, $breach AS nxt FROM anchors an),
       |stats AS (SELECT user_id, max(kk) AS maxk FROM fx GROUP BY user_id),
       |seg2 AS (
       |  SELECT s.u, s.a, fa.t_us AS a_t,
       |         CASE WHEN s.nxt IS NULL THEN fm.t_us ELSE fn.t_us END AS f_t,
       |         CASE WHEN s.nxt IS NULL THEN st.maxk ELSE s.nxt - 1 END AS mend
       |  FROM segs s
       |  JOIN fx fa ON fa.user_id = s.u AND fa.kk = s.a
       |  JOIN stats st ON st.user_id = s.u
       |  JOIN fx fm ON fm.user_id = s.u AND fm.kk = st.maxk
       |  LEFT JOIN fx fn ON fn.user_id = s.u AND fn.kk = s.nxt),
       |kept AS (SELECT * FROM seg2 WHERE f_t - a_t >= $timeUs)""".stripMargin
  }

  /** DuckDB inlines CTEs per reference; the recursive-chain oracles
    * reference `fx`/`kept`/`tt`/... many times, re-running the whole
    * recursion each time (30x slowdown measured). Materialization hints
    * on the multiply-referenced CTEs restore single evaluation.
    */
  def withMaterializedCtes(sql: String): String = {
    val ctes = Seq("pfs", "fx", "kept", "cand", "szok", "tplt", "sp3", "un", "flagged",
      "segd", "pfs2", "flg", "starts", "tt", "stream", "shifted", "tripid", "cent2",
      "rep", "locs", "tripx", "conn2", "runs2", "cand3", "lines", "pairsx", "vmx", "tplk",
      "qpt", "pe", "flags", "tripv", "tripx2", "markers")
    ctes.foldLeft(sql)((s, n) => s.replace(s"$n AS (", s"$n AS MATERIALIZED ("))
  }

  /** Gate-output type contract: the driver's type-aware hash rejects
    * DECIMAL(38,x) OUTPUT columns even when values match the oracle
    * exactly (round-8 finding — 8 value-identical queries failed
    * `hash_match` on decimal128 surfaces alone). Exact int128 math stays
    * internal; any decimal that reaches a gate's final select is cast to
    * its canonical digit string here (fully exact — no precision loss),
    * with `CAST(... AS VARCHAR)` as the oracle-side twin. Enforced for
    * every registry entry by OutputTypeLintSpec.
    */
  def decimalsToDigits(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("string").as(f.name)
        case _              => col(f.name)
      }
    }.toSeq: _*)
  }
}
