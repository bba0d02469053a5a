package graft.gates

import graft.Pipeline
import graft.functions.PortableHash.h60Sql
import graft.operators._
import org.apache.spark.sql.functions._
import Shared.{decimalsToDigits, probeCosineSql}

/** Similarity search and embeddings: brute-force, LSH, IVF, PQ and IVF-PQ
  * search, k-means, and embedding statistics.
  */
private[graft] object AnnGates {

  /** Quantized-integer hyperplane signature (Ann.hyperplaneSignature). */
  private def sigCte(planes: Int): String = {
    val sigExpr = (0 until planes).map { p =>
      s"""(CASE WHEN list_sum(list_transform(qv,
         |      (x, i) -> x * ((${h60Sql(s"'${p}_' || (i - 1)")} % 2000001) - 1000000))) >= 0
         |    THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString(" +\n    ")
    s"""q AS (
       |  SELECT vec_id, embedding,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |sig AS (
       |  SELECT vec_id, embedding,
       |    $sigExpr AS s
       |  FROM q)""".stripMargin
  }

  /** Cosine of two embedding lists, rounded to 6 places (matches Ann.cosine). */
  private def cosineSql(a: String, b: String): String =
    s"""round(
       |    list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       |    / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)""".stripMargin

  /** Brute-force scoring of the ten probes `probes` (vec_id < 10)
    * against every other vector: `bscored(probe_id, neighbor_id, cosine)`.
    */
  private def bruteScoredCtes: String =
    s"""probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
       |bscored AS (
       |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
       |         ${cosineSql("p.embedding", "c.embedding")} AS cosine
       |  FROM embeddings c, probes p WHERE p.vec_id != c.vec_id)""".stripMargin

  /** IVF search candidates, the first `nlist` vectors as cell centroids:
    * every vector's cells ranked by cosine `ranked`, the corpus's best
    * cell `corpcell`, the ten probes' `nprobe` best cells `probecell`,
    * and the same-cell pairs `cand(probe_id, pe, neighbor_id, ce)`.
    */
  private def ivfCandCtes(nlist: Int, nprobe: Int): String =
    s"""cent AS (
       |  SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < $nlist),
       |ranked AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, c_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosineSql("e.embedding", "cv")} DESC, c_id) AS rn
       |  FROM embeddings e, cent),
       |corpcell AS (SELECT vec_id, embedding, c_id AS cell FROM ranked WHERE rn = 1),
       |probecell AS (SELECT vec_id, embedding, c_id AS cell FROM ranked WHERE rn <= $nprobe AND vec_id < 10),
       |cand AS (
       |  SELECT p.vec_id AS probe_id, p.embedding AS pe, c.vec_id AS neighbor_id, c.embedding AS ce
       |  FROM probecell p JOIN corpcell c ON p.cell = c.cell WHERE p.vec_id != c.vec_id)""".stripMargin

  private def embeddingNearDupOracle(threshold: Double, planes: Int): String =
    s"""WITH ${sigCte(planes)},
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
       |  FROM sig a JOIN sig b ON a.s = b.s AND a.vec_id < b.vec_id),
       |scored AS (
       |  SELECT id_a, id_b, ${cosineSql("ea", "eb")} AS cosine
       |  FROM pairs)
       |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= $threshold""".stripMargin

  private def annIvfOracle(k: Int, nlist: Int, nprobe: Int): String =
    s"""WITH cent AS (
       |  SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < $nlist),
       |ranked AS (
       |  SELECT e.vec_id, e.embedding, c_id,
       |         row_number() OVER (PARTITION BY e.vec_id
       |           ORDER BY ${cosineSql("e.embedding", "cv")} DESC, c_id) AS rn
       |  FROM embeddings e, cent),
       |corpcell AS (SELECT vec_id, embedding, c_id AS cell FROM ranked WHERE rn = 1),
       |probecell AS (SELECT vec_id, embedding, c_id AS cell FROM ranked WHERE rn <= $nprobe AND vec_id < 10),
       |cand AS (
       |  SELECT p.vec_id AS probe_id, p.embedding AS pe, c.vec_id AS neighbor_id, c.embedding AS ce
       |  FROM probecell p JOIN corpcell c ON p.cell = c.cell WHERE p.vec_id != c.vec_id),
       |scored AS (
       |  SELECT probe_id, neighbor_id, ${cosineSql("pe", "ce")} AS cosine FROM cand)
       |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= $k""".stripMargin

  /** [[graft.operators.Ann.recallEval]]: brute-force truth and IVF result
    * CTE chains side by side (renamed from the ann_bruteforce / ann_ivf
    * oracles), then hits = |truth ∩ approx| per probe and recall =
    * hits/k. Probes the index missed keep a 0-hit row via the LEFT JOIN.
    */
  private def annRecallOracle(k: Int, nlist: Int, nprobe: Int): String =
    s"""WITH $bruteScoredCtes,
       |bt AS MATERIALIZED (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM bscored) WHERE rank <= $k),
       |${ivfCandCtes(nlist, nprobe)},
       |iscored AS (
       |  SELECT probe_id, neighbor_id, ${cosineSql("pe", "ce")} AS cosine FROM cand),
       |it AS (
       |  SELECT probe_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM iscored) WHERE rank <= $k),
       |hcnt AS (
       |  SELECT bt.probe_id, CAST(count(*) AS BIGINT) AS hits
       |  FROM bt JOIN it ON bt.probe_id = it.probe_id AND bt.neighbor_id = it.neighbor_id
       |  GROUP BY bt.probe_id)
       |SELECT p.probe_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       |       CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST($k AS DOUBLE) AS recall
       |FROM (SELECT DISTINCT probe_id FROM bt) p
       |LEFT JOIN hcnt h ON p.probe_id = h.probe_id""".stripMargin

  /** [[graft.operators.Ann.ndcgEval]]: the recall-oracle truth/IVF chains
    * kept WITH their ranks, then quantized-discount DCG vs the ideal
    * replayed over the probe's own truth ranks. `//` on positive BIGINTs
    * truncates exactly like Spark's `div`.
    */
  private def annNdcgOracle(k: Int, nlist: Int, nprobe: Int): String = {
    def wq(r: String) =
      s"(1000000000000 // CAST(floor(log2($r + 1) * 1000000) AS BIGINT))"
    s"""WITH $bruteScoredCtes,
       |bt AS MATERIALIZED (
       |  SELECT probe_id, neighbor_id, CAST(rank AS BIGINT) AS tr FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM bscored) WHERE rank <= $k),
       |${ivfCandCtes(nlist, nprobe)},
       |iscored AS (
       |  SELECT probe_id, neighbor_id, ${cosineSql("pe", "ce")} AS cosine FROM cand),
       |it AS (
       |  SELECT probe_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM iscored) WHERE rank <= $k),
       |idcg AS (
       |  SELECT probe_id, CAST(sum(($k - tr + 1) * ${wq("tr")}) AS BIGINT) AS idcg_q
       |  FROM bt GROUP BY probe_id),
       |dj AS (
       |  SELECT it.probe_id, COALESCE($k - bt.tr + 1, 0) AS rel, it.rank
       |  FROM it LEFT JOIN bt ON it.probe_id = bt.probe_id AND it.neighbor_id = bt.neighbor_id),
       |dcg AS (
       |  SELECT probe_id, CAST(sum(rel * ${wq("rank")}) AS BIGINT) AS dcg_q
       |  FROM dj GROUP BY probe_id)
       |SELECT i.probe_id, CAST(COALESCE(d.dcg_q, 0) AS BIGINT) AS dcg_q, i.idcg_q,
       |       CAST(COALESCE(d.dcg_q, 0) AS DOUBLE) / CAST(i.idcg_q AS DOUBLE) AS ndcg
       |FROM idcg i LEFT JOIN dcg d ON i.probe_id = d.probe_id""".stripMargin
  }

  /** [[graft.operators.KMeans.outliers]]: the kmeansCtes training chain,
    * one extra distance/argmin block against the FINAL centroids, then
    * the top-N by (distance desc, id) — every long the same as Spark's.
    */
  private def outliersOracle(k: Int, iters: Int, topN: Int): String =
    s"""WITH ${kmeansCtes(k, iters, 1000000)},
       |fd AS MATERIALIZED (
       |  SELECT q.vec_id, c.c, CAST(sum((q.val - c.val) * (q.val - c.val)) AS BIGINT) AS d
       |  FROM kq q JOIN cent$iters c ON q.m = c.m AND q.pos = c.pos
       |  GROUP BY q.vec_id, c.c),
       |fa AS (
       |  SELECT vec_id, c, d FROM (
       |    SELECT vec_id, c, d, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn FROM fd)
       |  WHERE rn = 1),
       |topn AS (
       |  SELECT vec_id, c, d, row_number() OVER (ORDER BY d DESC, vec_id) AS rank FROM fa)
       |SELECT CAST(rank AS BIGINT) AS rank, vec_id, CAST(c AS BIGINT) AS cluster_id, d AS dist_q
       |FROM topn WHERE rank <= $topN""".stripMargin

  /** Lloyd's k-means as unrolled SQL — one (distance, argmin, update)
    * CTE block per iteration, every arithmetic step the integer/exact
    * twin of [[graft.operators.KMeans.fit]]: quantization
    * `floor(x·1e6+0.5)`, integer squared-L2 assignment with ties to the
    * lowest cluster, update `floor(Σ/n)` via the same double quotient
    * (exact below 2⁵³), empty clusters carried over by the LEFT JOIN
    * COALESCE. All iterated CTEs are MATERIALIZED: cent{i} is read twice
    * per round, and DuckDB's per-reference re-inlining would otherwise
    * re-run the whole training prefix 2^iters times.
    */
  /** The iterated training CTEs, keyed by subspace id `m` = `(pos-1) //
    * subWidth` so the same block trains one global codebook (subWidth ≥
    * dim → m ≡ 0, plain k-means) or the per-subspace codebooks of
    * product quantization — each subspace's Lloyd's run is independent,
    * so keying every group/join by m trains them all in one CTE chain.
    */
  /** @param p CTE-name prefix, so two chains (e.g. IVF coarse + PQ
    *           residual) coexist in one query; "" keeps legacy names
    * @param fromLongForm when set, train over this already-quantized
    *           long-form relation (vec_id, pos, val) instead of
    *           quantizing `embeddings`
    */
  private def kmeansCtes(k: Int, iters: Int, subWidth: Int,
                         p: String = "", fromLongForm: Option[String] = None): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""${p}d$i AS MATERIALIZED (
         |  SELECT q.vec_id, q.m, c.c, sum((q.val - c.val) * (q.val - c.val)) AS d
         |  FROM ${p}kq q JOIN ${p}cent${i - 1} c ON q.m = c.m AND q.pos = c.pos
         |  GROUP BY q.vec_id, q.m, c.c),
         |${p}a$i AS MATERIALIZED (
         |  SELECT vec_id, m, c FROM (
         |    SELECT vec_id, m, c,
         |           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn FROM ${p}d$i)
         |  WHERE rn = 1),
         |${p}s$i AS MATERIALIZED (
         |  SELECT a.m, a.c, q.pos,
         |         CAST(floor(CAST(sum(q.val) AS DOUBLE) / count(*)) AS BIGINT) AS val,
         |         count(*) AS n
         |  FROM ${p}a$i a JOIN ${p}kq q ON a.vec_id = q.vec_id AND a.m = q.m
         |  GROUP BY a.m, a.c, q.pos),
         |${p}cent$i AS MATERIALIZED (
         |  SELECT p.m, p.c, p.pos, COALESCE(s.val, p.val) AS val
         |  FROM ${p}cent${i - 1} p
         |  LEFT JOIN ${p}s$i s ON p.m = s.m AND p.c = s.c AND p.pos = s.pos)""".stripMargin
    }.mkString(",\n")
    val kqBody = fromLongForm match {
      case Some(rel) =>
        s"""  SELECT vec_id, CAST((pos - 1) // $subWidth AS BIGINT) AS m, pos, val
           |  FROM $rel""".stripMargin
      case None =>
        s"""  SELECT vec_id, CAST((pos - 1) // $subWidth AS BIGINT) AS m, CAST(pos AS BIGINT) AS pos,
           |         CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS val
           |  FROM (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
           |        FROM embeddings)""".stripMargin
    }
    s"""${p}kq AS MATERIALIZED (
       |$kqBody),
       |${p}cent0 AS MATERIALIZED (
       |  SELECT m, CAST(dense_rank() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS BIGINT) AS c,
       |         pos, val
       |  FROM ${p}kq WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
       |$iterCtes""".stripMargin
  }

  /** Squared distance of every vector's subspace slice to every
    * codeword of `cent<iters>`: `encd(vec_id, m, c, d)`.
    */
  private def pqDistCte(iters: Int): String =
    s"""encd AS MATERIALIZED (
       |  SELECT q.vec_id, q.m, c.c, sum((q.val - c.val) * (q.val - c.val)) AS d
       |  FROM kq q JOIN cent$iters c ON q.m = c.m AND q.pos = c.pos
       |  GROUP BY q.vec_id, q.m, c.c)""".stripMargin

  /** Each vector's PQ codes from [[pqDistCte]], ties to the lowest
    * codeword: `pqcodes(vec_id, m, code)`.
    */
  private val pqCodesCte: String =
    """pqcodes AS MATERIALIZED (
      |  SELECT vec_id, m, c AS code FROM (
      |    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
      |    FROM encd) WHERE rn = 1)""".stripMargin

  /** Each vector's cluster under the final 2-iteration centroids
    * `cent2`, ties to the lowest cluster: `fa(vec_id, cluster_id)`.
    */
  private val finalAssignCtes: String =
    """fd AS MATERIALIZED (
      |  SELECT q.vec_id, c.c, sum((q.val - c.val) * (q.val - c.val)) AS d
      |  FROM kq q JOIN cent2 c ON q.m = c.m AND q.pos = c.pos
      |  GROUP BY q.vec_id, c.c),
      |fa AS MATERIALIZED (
      |  SELECT vec_id, c AS cluster_id FROM (
      |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      |    FROM fd) WHERE rn = 1)""".stripMargin

  /** Lloyd's k-means as unrolled SQL — see [[kmeansCtes]]; every
    * arithmetic step is the integer/exact twin of
    * [[graft.operators.KMeans.fit]]: quantization `floor(x·1e6+0.5)`,
    * integer squared-L2 assignment with ties to the lowest cluster,
    * update `floor(Σ/n)` via the same double quotient (exact below 2⁵³),
    * empty clusters carried over by the LEFT JOIN COALESCE. All iterated
    * CTEs are MATERIALIZED: cent{i} is read twice per round, and
    * DuckDB's per-reference re-inlining would otherwise re-run the whole
    * training prefix 2^iters times.
    */
  private def kmeansOracle(k: Int, iters: Int): String =
    s"""WITH ${kmeansCtes(k, iters, 1000000)}
       |SELECT c.c AS cluster_id, c.pos, c.val AS cval,
       |       CAST(COALESCE(n.n, 0) AS BIGINT) AS n
       |FROM cent$iters c LEFT JOIN (SELECT c, max(n) AS n FROM s$iters GROUP BY c) n ON c.c = n.c""".stripMargin

  /** Product quantization ADC search as SQL: per-subspace codebooks from
    * [[kmeansCtes]], then one distance CTE (`encd`) serves both sides —
    * its per-(vec, subspace) argmin encodes the corpus, its probe rows
    * ARE the ADC distance tables, and the score is the m-way sum joined
    * on (subspace, code). Integer throughout = bit-exact vs Spark.
    */
  private def pqOracle(ksub: Int, iters: Int, subWidth: Int, probeMax: Int, k: Int): String =
    s"""WITH ${kmeansCtes(ksub, iters, subWidth)},
       |${pqDistCte(iters)},
       |$pqCodesCte,
       |pscored AS (
       |  SELECT p.vec_id AS probe_id, co.vec_id AS neighbor_id, sum(p.d) AS adc
       |  FROM pqcodes co JOIN encd p ON p.m = co.m AND p.c = co.code AND p.vec_id != co.vec_id
       |  WHERE p.vec_id < $probeMax
       |  GROUP BY p.vec_id, co.vec_id)
       |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       |       CAST(adc AS BIGINT) AS adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc, neighbor_id) AS rank
       |  FROM pscored) WHERE rank <= $k""".stripMargin

  /** IVF-PQ as SQL: the coarse k-means chain (prefix `cv`) assigns every
    * vector a cell; residuals (quantized vector − integer cell centroid)
    * feed a second, subspace-keyed chain (prefix `pr`) that trains the
    * PQ codebooks; one distance CTE per side then serves corpus encoding
    * and the per-(probe, visited-cell) ADC tables, and candidates meet
    * their probes through a cell equi-join. Integer end to end.
    */
  private def ivfPqOracle(nlist: Int, coarseIters: Int, ksub: Int,
                          pqIters: Int, subWidth: Int, nprobe: Int,
                          probeMax: Int, k: Int): String =
    s"""WITH ${kmeansCtes(nlist, coarseIters, 1000000, p = "cv")},
       |cvencd AS MATERIALIZED (
       |  SELECT q.vec_id, c.c, sum((q.val - c.val) * (q.val - c.val)) AS d
       |  FROM cvkq q JOIN cvcent$coarseIters c ON q.pos = c.pos
       |  GROUP BY q.vec_id, c.c),
       |cvasg AS MATERIALIZED (
       |  SELECT vec_id, c FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |    FROM cvencd) WHERE rn = 1),
       |rsd AS MATERIALIZED (
       |  SELECT q.vec_id, q.pos, q.val - c.val AS val
       |  FROM cvkq q JOIN cvasg a ON a.vec_id = q.vec_id
       |  JOIN cvcent$coarseIters c ON c.c = a.c AND c.pos = q.pos),
       |${kmeansCtes(ksub, pqIters, subWidth, p = "pr", fromLongForm = Some("rsd"))},
       |prencd AS MATERIALIZED (
       |  SELECT q.vec_id, q.m, c.c, sum((q.val - c.val) * (q.val - c.val)) AS d
       |  FROM prkq q JOIN prcent$pqIters c ON q.m = c.m AND q.pos = c.pos
       |  GROUP BY q.vec_id, q.m, c.c),
       |prcodes AS MATERIALIZED (
       |  SELECT vec_id, m, c AS code FROM (
       |    SELECT vec_id, m, c, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
       |    FROM prencd) WHERE rn = 1),
       |pcell AS (
       |  SELECT vec_id AS probe_id, c AS cell FROM (
       |    SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |    FROM cvencd WHERE vec_id < $probeMax) WHERE rn <= $nprobe),
       |pres AS (
       |  SELECT p.probe_id, p.cell, q.pos, q.val - c.val AS val
       |  FROM pcell p JOIN cvkq q ON q.vec_id = p.probe_id
       |  JOIN cvcent$coarseIters c ON c.c = p.cell AND c.pos = q.pos),
       |ptab AS MATERIALIZED (
       |  SELECT r.probe_id, r.cell, c.m, c.c, sum((r.val - c.val) * (r.val - c.val)) AS d
       |  FROM pres r JOIN prcent$pqIters c ON c.pos = r.pos
       |  GROUP BY r.probe_id, r.cell, c.m, c.c),
       |ivcand AS (
       |  SELECT t.probe_id, a.vec_id AS neighbor_id, sum(t.d) AS adc
       |  FROM cvasg a JOIN prcodes co ON co.vec_id = a.vec_id
       |  JOIN ptab t ON t.cell = a.c AND t.m = co.m AND t.c = co.code
       |  WHERE t.probe_id != a.vec_id
       |  GROUP BY t.probe_id, a.vec_id)
       |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       |       CAST(adc AS BIGINT) AS adc_dist FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc, neighbor_id) AS rank
       |  FROM ivcand) WHERE rank <= $k""".stripMargin

  private def annLshOracle(k: Int, planes: Int): String = {
    val flips = ("s" +: (0 until planes).map(b => s"xor(s, ${1L << b})")).mkString(", ")
    s"""WITH ${sigCte(planes)},
       |probesigs AS (
       |  SELECT vec_id AS probe_id, unnest([$flips]) AS s FROM sig WHERE vec_id < 10),
       |cand AS (
       |  SELECT DISTINCT p.probe_id, c.vec_id AS neighbor_id
       |  FROM probesigs p JOIN sig c ON p.s = c.s
       |  WHERE p.probe_id != c.vec_id),
       |scored AS (
       |  SELECT probe_id, neighbor_id, ${cosineSql("pe.embedding", "ce.embedding")} AS cosine
       |  FROM cand JOIN embeddings pe ON pe.vec_id = probe_id
       |            JOIN embeddings ce ON ce.vec_id = neighbor_id)
       |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= $k""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    // probe sets across the ANN family are fixed literal id ranges
    // (vec_id < 10/100) — bounded by contract, invisible to the plan; a
    // structural .limit would make the bound plan-visible but costs a
    // measured ~0.5 s GlobalLimit exchange per gate, so PlanLintSpec
    // whitelists these gates by name instead (boundedProbes)
    // the brute/ivf rankings and both index-quality evals read the TWO
    // memoized search results (Pipeline.annBruteTop5 / annIvfTop5) —
    // previously each eval re-ran both full searches
    Gate("ann_bruteforce") { (s, dir) =>
      Pipeline.annBruteTop5(s, dir)
    } {
      s"""WITH probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    $probeCosineSql AS cosine
        |  FROM embeddings c, probes p WHERE p.vec_id != c.vec_id)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin
    },
    Gate("ann_lsh") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.lshTopK(emb.filter(col("vec_id") < 10), emb, k = 5, planes = 8)
    } { annLshOracle(k = 5, planes = 8) },
    // MMR diversity re-rank over a brute-force top-50 pool: relevance =
    // probe cosine in 1e-6 units; the greedy's integer decisions replay
    // exactly in the oracle's recursive packed-argmax
    Gate("mmr_rerank") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val pool = Ann.bruteForceTopK(emb.filter(col("vec_id") === 7), emb, k = 50)
        .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding")), Seq("neighbor_id"))
        .select(col("neighbor_id").as("vec_id"),
          round(col("cosine") * 1e6, 0).cast("long").as("rel_q"),
          col("embedding"))
      Ann.mmrRerank(pool, k = 10, lambdaBp = 7000)
    } {
      // the greedy MMR trajectory as a recursive CTE: one pick per step via
      // a packed integer argmax (score offset to nonneg, id in the low
      // bits); max-sim-to-selected via list ops over per-candidate
      // neighbor/sim lists — every decision the same integers as the
      // driver-side greedy
      s"""WITH RECURSIVE probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 7),
        |scored AS (
        |  SELECT c.vec_id, c.embedding,
        |    $probeCosineSql AS cosine
        |  FROM embeddings c, probes p WHERE p.vec_id != c.vec_id),
        |cand AS (
        |  SELECT vec_id, CAST(round(cosine * 1000000.0, 0) AS BIGINT) AS rel_q, embedding
        |  FROM (SELECT *, row_number() OVER (ORDER BY cosine DESC, vec_id) AS rnk FROM scored)
        |  WHERE rnk <= 50),
        |simp AS (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib,
        |    CAST(round(
        |      list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |        x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |         * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |      * 1000000.0, 0) AS BIGINT) AS sq
        |  FROM cand a JOIN cand b ON a.vec_id < b.vec_id),
        |siml AS (
        |  SELECT vec_id, list(o ORDER BY o) AS os, list(sq ORDER BY o) AS ss FROM (
        |    SELECT ia AS vec_id, ib AS o, sq FROM simp
        |    UNION ALL
        |    SELECT ib AS vec_id, ia AS o, sq FROM simp)
        |  GROUP BY vec_id),
        |mmr(step, sel, pick, rel, mmr_v) AS (
        |  SELECT 0, CAST([] AS BIGINT[]), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
        |  UNION ALL
        |  SELECT q.step + 1, list_append(q.sel, q.id), q.id, c2.rel_q, q.score
        |  FROM (
        |    SELECT t.step, t.sel,
        |      CAST(2097151 - t.mx % 2097152 AS BIGINT) AS id,
        |      CAST(t.mx // 2097152 - 34359738368 AS BIGINT) AS score
        |    FROM (
        |      SELECT m.step, m.sel,
        |        max((7000 * c.rel_q - 3000 * coalesce(
        |              list_max(list_transform(
        |                list_filter(list_zip(sl.os, sl.ss), p -> list_contains(m.sel, p[1])),
        |                p -> p[2])), 0)
        |             + 34359738368) * 2097152 + (2097151 - c.vec_id)) AS mx
        |      FROM mmr m
        |      JOIN cand c ON NOT list_contains(m.sel, c.vec_id)
        |      LEFT JOIN siml sl ON sl.vec_id = c.vec_id
        |      WHERE m.step < 10
        |      GROUP BY m.step, m.sel) t) q
        |  JOIN cand c2 ON c2.vec_id = q.id)
        |SELECT CAST(step AS BIGINT) AS rank, pick AS vec_id, rel AS rel_q, mmr_v AS mmr_q
        |FROM mmr WHERE step >= 1""".stripMargin
    },
    Gate("ann_ivf") { (s, dir) =>
      Pipeline.annIvfTop5(s, dir)
    } { annIvfOracle(k = 5, nlist = 32, nprobe = 4) },
    // Lloyd's iterations run distributed (see KMeans scaladoc); the gate
    // checks the full training trajectory bit-for-bit — any divergence in
    // assignment or update at any iteration changes the final centroids.
    // SemDeDup: the synthetic embeddings are near-orthogonal (max pair
    // cosine ~0.44), so duplicate MEANING is injected as exact clones at
    // id+10000 — same quantized vector, same cluster, cosine exactly 1.0
    // — and the operator must drop precisely the clones
    Gate("semantic_dedup") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 1000)
      val clones = emb.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding"), col("label"))
      Dedup.semanticDedup(emb.unionAll(clones), k = 8, iters = 2, threshold = 0.99)
    } {
      // SemDeDup: k-means chain on the clone-augmented subset (the clones
      // quantize identically, so training is unchanged vs originals-only
      // in every centroid), then final assignment + within-cluster earlier-
      // witness cosine predicate
      s"""WITH aug AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000
         |  UNION ALL
         |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id < 50),
         |sub AS (
         |  SELECT vec_id, CAST(pos AS BIGINT) AS pos,
         |         CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS val
         |  FROM (SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
         |        FROM aug)),
         |${kmeansCtes(8, 2, 1000000, fromLongForm = Some("sub"))},
         |$finalAssignCtes,
         |drp AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM fa a JOIN fa b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         |  JOIN aug ea ON ea.vec_id = a.vec_id
         |  JOIN aug eb ON eb.vec_id = b.vec_id
         |  WHERE ${cosineSql("ea.embedding", "eb.embedding")} >= 0.99)
         |SELECT f.vec_id, CAST(f.cluster_id AS BIGINT) AS cluster_id
         |FROM fa f WHERE f.vec_id NOT IN (SELECT vec_id FROM drp)""".stripMargin
    },
    Gate("kmeans_centroids") { (s, dir) =>
      KMeans.centroidsDf(s.read.parquet(s"$dir/embeddings.parquet"),
        k = 8, iters = 4)
    } { kmeansOracle(k = 8, iters = 4) },
    // embedding-space drift: shared clusters trained on the full table,
    // even ids as corpus A vs odd ids as corpus B; dense k-row output
    // drift/outliers/purity read the ONE memoized trained model
    // (Pipeline.kmeansModel) — clusters train once per corpus snapshot
    Gate("embedding_drift") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      KMeans.clusterDrift(
        emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1),
        Pipeline.kmeansModel(s, dir),
        vecCol = "embedding", alpha = 1L, quantScale = 1e6)
    } {
      // shared 8-cluster space (2 iterations), final assignment of every
      // vector (fd/fa = the semantic_dedup assignment pattern), even/odd
      // occupancy counts, quantized-ln drift over a dense cluster spine
      s"""WITH RECURSIVE ${kmeansCtes(8, 2, 1000000)},
         |$finalAssignCtes,
         |ca AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM fa
         |       WHERE vec_id % 2 = 0 GROUP BY cluster_id),
         |cb AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM fa
         |       WHERE vec_id % 2 = 1 GROUP BY cluster_id),
         |tot AS (SELECT (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM ca) AS ta,
         |               (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM cb) AS tb),
         |spine(sc) AS (SELECT CAST(0 AS BIGINT) UNION ALL SELECT sc + 1 FROM spine WHERE sc + 1 < 8)
         |SELECT s.sc AS cluster_id,
         |  coalesce(ca.n, 0) AS n_a, coalesce(cb.n, 0) AS n_b,
         |  (CAST(floor(ln(CAST(coalesce(ca.n, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         | - CAST(floor(ln(CAST(tot.ta + 8 AS DOUBLE)) * 1e6) AS BIGINT))
         |- (CAST(floor(ln(CAST(coalesce(cb.n, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         | - CAST(floor(ln(CAST(tot.tb + 8 AS DOUBLE)) * 1e6) AS BIGINT)) AS drift_q
         |FROM spine s LEFT JOIN ca ON s.sc = ca.cluster_id
         |             LEFT JOIN cb ON s.sc = cb.cluster_id CROSS JOIN tot""".stripMargin
    },
    // distance-to-final-centroid outliers: the gate replays the full
    // training trajectory AND the extra assignment pass bit-for-bit
    Gate("embedding_outliers") { (s, dir) =>
      KMeans.outliers(s.read.parquet(s"$dir/embeddings.parquet"),
        Pipeline.kmeansModel(s, dir), topN = 20,
        idCol = "vec_id", vecCol = "embedding", quantScale = 1e6)
    } { outliersOracle(k = 8, iters = 2, topN = 20) },
    // recall@5 of the id-seeded IVF index vs the brute-force truth —
    // the honest quality row next to the index's own top-k gates
    Gate("ann_recall") { (s, dir) =>
      Ann.recallEvalFrom(Pipeline.annBruteTop5(s, dir), Pipeline.annIvfTop5(s, dir), k = 5)
    } { annRecallOracle(k = 5, nlist = 32, nprobe = 4) },
    Gate("ann_ndcg") { (s, dir) =>
      Ann.ndcgEvalFrom(Pipeline.annBruteTop5(s, dir), Pipeline.annIvfTop5(s, dir), k = 5)
    } { annNdcgOracle(k = 5, nlist = 32, nprobe = 4) },
    Gate("ann_dim_ablation") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.dimAblationRecall(emb.filter(col("vec_id") < 10), emb, k = 5, dims = 32)
    } {
      // Matryoshka ablation: full-dim brute-force truth vs first-32-dim
      // brute-force, per-probe surviving-hit share
      s"""WITH $bruteScoredCtes,
         |bt AS MATERIALIZED (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM bscored) WHERE rank <= 5),
         |tscored AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |         ${cosineSql("p.embedding[1:32]", "c.embedding[1:32]")} AS cosine
         |  FROM embeddings c, probes p WHERE p.vec_id != c.vec_id),
         |tt AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
         |    FROM tscored) WHERE rank <= 5),
         |hcnt AS (
         |  SELECT b.probe_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM bt b JOIN tt t ON b.probe_id = t.probe_id AND b.neighbor_id = t.neighbor_id
         |  GROUP BY b.probe_id)
         |SELECT p.probe_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |       CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT probe_id FROM bt) p
         |LEFT JOIN hcnt h ON p.probe_id = h.probe_id""".stripMargin
    },
    Gate("intrinsic_dim") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.intrinsicDim(emb.filter(col("vec_id") < 100), emb)
    } {
      // Facco Two-NN: integer squared-L2 two-nearest ratios, lnq CDF fit
      // through the origin
      """WITH q AS (
        |  SELECT vec_id,
        |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, qv AS pq FROM q WHERE vec_id < 100),
        |dd AS (
        |  SELECT p.probe_id, c.vec_id AS nid,
        |         list_sum(list_transform(list_zip(p.pq, c.qv), z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
        |  FROM q c, p WHERE c.vec_id != p.probe_id),
        |two AS (
        |  SELECT probe_id, dist, row_number() OVER (PARTITION BY probe_id ORDER BY dist, nid) AS rn
        |  FROM dd),
        |xs AS (
        |  SELECT probe_id,
        |         CAST(floor(ln(CAST(min(CASE WHEN rn = 2 THEN dist END) AS DOUBLE)) * 1e6) AS BIGINT)
        |         - CAST(floor(ln(CAST(min(CASE WHEN rn = 1 THEN dist END) AS DOUBLE)) * 1e6) AS BIGINT) AS x
        |  FROM two WHERE rn <= 2 GROUP BY probe_id
        |  HAVING min(CASE WHEN rn = 1 THEN dist END) >= 1
        |     AND min(CASE WHEN rn = 2 THEN dist END) IS NOT NULL),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xs),
        |rkd AS (
        |  SELECT x, CAST(row_number() OVER (ORDER BY x, probe_id) AS BIGINT) AS i FROM xs),
        |ys AS (
        |  SELECT nn.n, x,
        |         CAST(floor(ln(CAST(nn.n AS DOUBLE)) * 1e6) AS BIGINT)
        |         - CAST(floor(ln(CAST(nn.n - i AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM rkd, nn WHERE i < nn.n),
        |ag AS (
        |  SELECT n AS n_probes, CAST(count(*) AS BIGINT) AS n_points,
        |         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
        |         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
        |  FROM ys GROUP BY n)
        |SELECT n_probes, n_points,
        |       (2.0 * CAST(sxy AS DOUBLE)) / CAST(sxx AS DOUBLE) AS d_hat
        |FROM ag""".stripMargin
    },
    Gate("knn_confusion") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.knnConfusion(emb.filter(col("vec_id") < 100), emb, k = 5)
    } {
      // kNN label vote: integer squared-L2 top-k, majority with tie ->
      // lowest label, tabulated against the probe's own label
      """WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS lbl,
        |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, lbl AS true_label, qv AS pq FROM q WHERE vec_id < 100),
        |dd AS (
        |  SELECT p.probe_id, p.true_label, c.vec_id AS nid, c.lbl AS nl,
        |         list_sum(list_transform(list_zip(p.pq, c.qv), z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
        |  FROM q c, p WHERE c.vec_id != p.probe_id),
        |topk AS (
        |  SELECT probe_id, true_label, nl FROM (
        |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY dist, nid) AS rn FROM dd)
        |  WHERE rn <= 5),
        |vote AS (
        |  SELECT probe_id, true_label, nl, CAST(count(*) AS BIGINT) AS v
        |  FROM topk GROUP BY probe_id, true_label, nl),
        |pred AS (
        |  SELECT probe_id, true_label, nl AS pred_label FROM (
        |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY v DESC, nl) AS rk FROM vote)
        |  WHERE rk = 1)
        |SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_probes
        |FROM pred GROUP BY true_label, pred_label""".stripMargin
    },
    Gate("hard_negatives") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.hardNegatives(emb.filter(col("vec_id") < 100), emb, k = 5)
    } {
      // hard negatives: nearest different-label items per probe, same
      // quantized-L2 chain with the label filter before ranking
      """WITH q AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS lbl,
        |         list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, lbl AS pl, qv AS pq FROM q WHERE vec_id < 100),
        |dd AS (
        |  SELECT p.probe_id, c.vec_id AS neighbor_id, c.lbl AS neg_label,
        |         list_sum(list_transform(list_zip(p.pq, c.qv), z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist_q
        |  FROM q c, p WHERE c.lbl != p.pl)
        |SELECT probe_id, CAST(rn AS BIGINT) AS rank, neighbor_id, neg_label,
        |       CAST(dist_q AS BIGINT) AS dist_q
        |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY dist_q, neighbor_id) AS rn
        |      FROM dd)
        |WHERE rn <= 5""".stripMargin
    },
    // PQ training + encoding + ADC search, all in the integer metric:
    // the gate checks codebooks, code assignment, and the ranked ADC
    // scan in one result.
    // bills the shared PQ codebook training (Pipeline.pqModel — 2 fused
    // Lloyd's iterations over all 4 subspaces) as its own bench line:
    // ann_pq, the memo's alphabetically first consumer, previously
    // absorbed the build (r15 verdict item 1). Output = the trained
    // codebooks in the oracle's long form (m, c, pos, val) — the same
    // cent2 relation the pq/ivfpq oracles train, integer-exact.
    Gate("ann__prolog") { (s, dir) =>
      import s.implicits._
      val model = Pipeline.pqModel(s, dir)
      val w = model.subWidth
      model.subModels.toIndexedSeq.zipWithIndex.flatMap { case (sm, m) =>
        sm.centroids.toIndexedSeq.zipWithIndex.flatMap { case (cv, c) =>
          cv.toIndexedSeq.zipWithIndex.map { case (v, d) =>
            (m.toLong, c.toLong, (m * w + d + 1).toLong, v)
          }
        }
      }.toDF("m", "c", "pos", "val")
    } {
      // the shared PQ-codebook prolog returns the trained cent2 relation
      // itself — the same kmeansCtes chain the pq oracle trains, minus the
      // encode/search epilogue
      s"""WITH ${kmeansCtes(8, 2, 16)}
         |SELECT m, c, pos, val FROM cent2""".stripMargin
    },
    Gate("ann_pq") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.pqTopK(emb.filter(col("vec_id") < 10), emb, Pipeline.pqModel(s, dir), k = 5)
    } { pqOracle(ksub = 8, iters = 2, subWidth = 16, probeMax = 10, k = 5) },
    // the composite index: coarse cells + PQ-coded residuals; the gate
    // checks both trainings, the residual codes, the probed cell sets,
    // and the ranked cell-equi-join ADC scan in one result
    Gate("ann_ivfpq") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val model = Ann.ivfPqTrain(emb, dim = 64, nlist = 8, coarseIters = 2,
        m = 4, ksub = 8, pqIters = 2)
      Ann.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, model, k = 5, nprobe = 2)
    } {
      ivfPqOracle(nlist = 8, coarseIters = 2, ksub = 8,
        pqIters = 2, subWidth = 16, nprobe = 2, probeMax = 10, k = 5)
    },
    Gate("embedding_neardup") { (s, dir) =>
      Dedup.embeddingNearDup(s.read.parquet(s"$dir/embeddings.parquet"), threshold = 0.3, planes = 8)
        .withColumn("cosine", round(col("cosine"), 6))
    } { embeddingNearDupOracle(threshold = 0.3, planes = 8) },
    Gate("pq_recall") { (s, dir) =>
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.pqRecall(emb.filter(col("vec_id") < 10), emb, Pipeline.pqModel(s, dir),
        k = 5, idCol = "vec_id", vecCol = "embedding")
    } {
      // PQ ADC recall vs exact integer-L2 truth (the PQ family's own
      // metric)
      s"""WITH ${kmeansCtes(8, 2, 16)},
         |${pqDistCte(2)},
         |$pqCodesCte,
         |pscored AS (
         |  SELECT p.vec_id AS probe_id, co.vec_id AS neighbor_id, sum(p.d) AS adc
         |  FROM pqcodes co JOIN encd p ON p.m = co.m AND p.c = co.code AND p.vec_id != co.vec_id
         |  WHERE p.vec_id < 10
         |  GROUP BY p.vec_id, co.vec_id),
         |pqk AS (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY adc, neighbor_id) AS rank
         |    FROM pscored) WHERE rank <= 5),
         |btd AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
         |         sum((p.val - c.val) * (p.val - c.val)) AS d
         |  FROM kq p JOIN kq c ON p.pos = c.pos
         |  WHERE p.vec_id < 10 AND c.vec_id != p.vec_id
         |  GROUP BY p.vec_id, c.vec_id),
         |bt AS MATERIALIZED (
         |  SELECT probe_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY d, neighbor_id) AS rank
         |    FROM btd) WHERE rank <= 5),
         |hcnt AS (
         |  SELECT b.probe_id, CAST(count(*) AS BIGINT) AS hits
         |  FROM bt b JOIN pqk t ON b.probe_id = t.probe_id AND b.neighbor_id = t.neighbor_id
         |  GROUP BY b.probe_id)
         |SELECT p.probe_id, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
         |       CAST(coalesce(h.hits, 0) AS DOUBLE) / 5.0 AS recall
         |FROM (SELECT DISTINCT probe_id FROM bt) p
         |LEFT JOIN hcnt h ON p.probe_id = h.probe_id""".stripMargin
    },
    Gate("pq_distortion") { (s, dir) =>
      decimalsToDigits(
        Ann.pqDistortion(s.read.parquet(s"$dir/embeddings.parquet"), Pipeline.pqModel(s, dir)))
    } {
      // PQ codebook distortion: the pq chain's per-(vec, subspace) best
      // distance reaggregated per subspace
      s"""WITH ${kmeansCtes(8, 2, 16)},
         |${pqDistCte(2)},
         |best AS (
         |  SELECT vec_id, m, d FROM (
         |    SELECT vec_id, m, c, d,
         |           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
         |    FROM encd) WHERE rn = 1)
         |SELECT m AS subspace, CAST(count(*) AS BIGINT) AS n_vectors,
         |  CAST(CAST(sum(d) AS HUGEINT) AS VARCHAR) AS sum_dist_q,
         |  CAST(CAST(sum(d) AS DECIMAL(38,0)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_dist_q
         |FROM best GROUP BY m""".stripMargin
    },
    Gate("sq8_profile") { (s, dir) =>
      Ann.sq8Profile(s.read.parquet(s"$dir/embeddings.parquet"))
    } {
      // SQ8 byte-quantization profile: per-dim min/max linear codes and
      // exact integer reconstruction error
      """WITH q AS (
        |  SELECT pos, CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS xq
        |  FROM (SELECT unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)),
        |rg AS (SELECT pos, min(xq) AS mn, max(xq) AS mx FROM q GROUP BY pos),
        |c AS (
        |  SELECT q.pos, q.xq, rg.mn, rg.mx,
        |         CASE WHEN rg.mx > rg.mn
        |              THEN ((q.xq - rg.mn) * 255) // (rg.mx - rg.mn) ELSE 0 END AS code
        |  FROM q JOIN rg ON q.pos = rg.pos),
        |e AS (
        |  SELECT pos, mn, mx, code,
        |         abs(xq - (mn + (code * (mx - mn)) // 255)) AS err
        |  FROM c)
        |SELECT CAST(pos - 1 AS BIGINT) AS pos, CAST(count(*) AS BIGINT) AS n_values,
        |       CAST(min(mn) AS BIGINT) AS min_q, CAST(min(mx) AS BIGINT) AS max_q,
        |       CAST(sum(code) AS BIGINT) AS sum_code, CAST(sum(err) AS BIGINT) AS sum_err_q,
        |       CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_err_q
        |FROM e GROUP BY pos""".stripMargin
    },
    Gate("ann_filtered") { (s, dir) =>
      val embs = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.filteredTopK(embs.filter(col("vec_id") < 10), embs, labelValue = 1L, k = 5)
    } {
      s"""WITH probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |cand AS (SELECT vec_id, embedding FROM embeddings WHERE label = 1),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |    $probeCosineSql AS cosine
        |  FROM cand c, probes p WHERE p.vec_id != c.vec_id)
        |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
        |  FROM scored) WHERE rank <= 5""".stripMargin
    },
    Gate("embedding_covariance") { (s, dir) =>
      EmbeddingStats.covarianceGate(s.read.parquet(s"$dir/embeddings.parquet"))
    } { EmbeddingStats.covarianceGateSql() },
    Gate("spectral_axis") { (s, dir) =>
      EmbeddingStats.spectralAxis(s.read.parquet(s"$dir/embeddings.parquet"))
    } {
      // two integer power-iteration steps over the second-moment matrix;
      // digits surface as strings per the no-decimal-output rule
      s"""WITH q AS (
         |  SELECT vec_id, CAST(pos - 1 AS BIGINT) AS d,
         |         CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
         |  FROM (SELECT vec_id, unnest(embedding) AS x,
         |               generate_subscripts(embedding, 1) AS pos FROM embeddings)),
         |m AS (SELECT a.d AS i, b.d AS j, CAST(sum(a.qv * b.qv) AS HUGEINT) AS p
         |      FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |v1 AS (SELECT i AS d, sum(p) AS v1 FROM m GROUP BY i),
         |v2 AS (SELECT m.i AS d, sum(m.p * v1.v1) AS v2
         |       FROM m JOIN v1 ON v1.d = m.j GROUP BY m.i),
         |tot AS (SELECT sum(v1.v1) AS s1, sum(v2.v2) AS s2, max(abs(v2.v2)) AS mx
         |        FROM v1 JOIN v2 USING (d)),
         |tr AS (SELECT sum(p) AS trc FROM m WHERE i = j)
         |SELECT v2.d, CAST(v1.v1 AS VARCHAR) AS v1_q, CAST(v2.v2 AS VARCHAR) AS v2_q,
         |       CAST(v2.v2 AS DOUBLE) / CAST(tot.mx AS DOUBLE) AS direction,
         |       CAST(tot.s2 AS DOUBLE) / CAST(tot.s1 AS DOUBLE) AS lambda_est,
         |       (CAST(tot.s2 AS DOUBLE) / CAST(tot.s1 AS DOUBLE)) / CAST(tr.trc AS DOUBLE) AS trace_share
         |FROM v2 JOIN v1 USING (d) CROSS JOIN tot CROSS JOIN tr""".stripMargin
    },
    Gate("label_separation") { (s, dir) =>
      EmbeddingStats.labelSeparation(s.read.parquet(s"$dir/embeddings.parquet"))
    } {
      // between-class centroid separation: kmeans floor-mean centroids,
      // pairwise integer squared L2 over the bounded centroid table
      """WITH q AS (
        |  SELECT CAST(label AS BIGINT) AS lbl, pos,
        |         CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM (SELECT label, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS pos
        |        FROM embeddings)),
        |ce AS (
        |  SELECT lbl, pos, CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS c,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY lbl, pos)
        |SELECT a.lbl AS label_a, b.lbl AS label_b,
        |       CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist_q,
        |       CAST(max(a.n) AS BIGINT) AS n_a, CAST(max(b.n) AS BIGINT) AS n_b
        |FROM ce a JOIN ce b ON a.pos = b.pos AND a.lbl < b.lbl
        |GROUP BY a.lbl, b.lbl""".stripMargin
    },
    Gate("cluster_purity") { (s, dir) =>
      KMeans.clusterPurity(s.read.parquet(s"$dir/embeddings.parquet"),
        Pipeline.kmeansModel(s, dir), labelCol = "label",
        vecCol = "embedding", quantScale = 1e6)
    } {
      // purity of the 2-iteration kmeans assignment against the shipped
      // label column; a3 = assignment under the final cent2 model
      s"""WITH ${kmeansCtes(8, 3, 1000000)},
         |g AS (
         |  SELECT a.c AS cluster_id, CAST(e.label AS BIGINT) AS lbl,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM a3 a JOIN embeddings e ON a.vec_id = e.vec_id
         |  GROUP BY a.c, e.label),
         |r AS (
         |  SELECT cluster_id, lbl, n,
         |         row_number() OVER (PARTITION BY cluster_id ORDER BY n DESC, lbl) AS rk,
         |         CAST(sum(n) OVER (PARTITION BY cluster_id) AS BIGINT) AS tot
         |  FROM g)
         |SELECT cluster_id, tot AS n, lbl AS majority_label, n AS n_majority,
         |       CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS purity
         |FROM r WHERE rk = 1""".stripMargin
    }
  )
}
