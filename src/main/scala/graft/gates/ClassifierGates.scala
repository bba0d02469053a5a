package graft.gates

import graft.Pipeline
import graft.functions.PortableHash.h60Sql
import graft.operators._
import org.apache.spark.sql.functions._
import Shared.{decimalsToDigits, packCte}

/** Quality classifier, DSIR importance weights and BPE tokenizer training,
  * each an iterated model unrolled as SQL on the oracle side.
  */
private[graft] object ClassifierGates {

  /** [[graft.operators.Classifier.fit]] as unrolled SQL — one (margin,
    * error, gradient, update) CTE block per iteration, every step the
    * integer twin of the operator: hashed-count features + bias (cx),
    * labels y = (lang = 'en') (cy), margins as exact long sums (cz),
    * the division-free 1/2¹⁸-unit hard sigmoid `clamp(z + 2S, 0, 4S)`
    * (ce), bucket gradients Σ e·x (cg), and the floor-division step
    * `(G − ((G % d) + d) % d) // d` — DuckDB's `//` truncates toward
    * zero, so the explicit nonneg-mod construction is required to match
    * `Math.floorDiv` (the numerator is exactly divisible, making the
    * truncation exact). CTEs are MATERIALIZED: cx/cw{i} are read twice
    * per round.
    */
  private def classifierCtes(dim: Int, iters: Int, stepDiv: Long): String = {
    val s2 = 2L * Classifier.S
    val ps = Classifier.PS
    val iterCtes = (1 to iters).map { i =>
      s"""cz$i AS MATERIALIZED (
         |  SELECT x.doc_id, CAST(sum(x.x * w.w) AS BIGINT) AS z
         |  FROM cx x JOIN cw${i - 1} w ON x.b = w.b GROUP BY x.doc_id),
         |ce$i AS MATERIALIZED (
         |  SELECT y.doc_id, greatest(least(z.z + $s2, $ps), 0) - y.y * $ps AS e
         |  FROM cy y JOIN cz$i z ON y.doc_id = z.doc_id),
         |cg$i AS MATERIALIZED (
         |  SELECT x.b, CAST(sum(x.x * e.e) AS BIGINT) AS g
         |  FROM cx x JOIN ce$i e ON x.doc_id = e.doc_id GROUP BY x.b),
         |cw$i AS MATERIALIZED (
         |  SELECT w.b,
         |         w.w - COALESCE((g.g - (((g.g % $stepDiv) + $stepDiv) % $stepDiv)) // $stepDiv, 0) AS w
         |  FROM cw${i - 1} w LEFT JOIN cg$i g ON w.b = g.b)""".stripMargin
    }.mkString(",\n")
    s"""cx AS MATERIALIZED (
       |  SELECT doc_id, ${h60Sql("w")} % $dim AS b, CAST(count(*) AS BIGINT) AS x
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) t
       |  WHERE length(w) > 0
       |  GROUP BY doc_id, b
       |  UNION ALL SELECT doc_id, CAST($dim AS BIGINT), CAST(1 AS BIGINT) FROM documents),
       |cy AS (SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
       |       FROM documents),
       |cw0 AS (SELECT CAST(range AS BIGINT) AS b, CAST(0 AS BIGINT) AS w
       |        FROM range(0, ${dim + 1})),
       |$iterCtes""".stripMargin
  }

  /** BPE merge training as unrolled SQL, the CTE chain every BPE oracle
    * shares — one (pair-count, argmax, fuse) CTE block per round, the
    * exact twin of [[graft.operators.TextAnalysis.bpeTrain]]: integer pair counts
    * over the word-frequency table, ties to the smallest (lhs, rhs),
    * and the two-pass delimited literal replace whose leftmost-first
    * non-overlapping semantics both engines share. LEFT JOIN ON true
    * makes exhausted rounds no-ops (empty merge row → sym unchanged),
    * mirroring the operator's early stop. bw{i} keeps the source word `w`
    * so the encode oracle can join token counts back onto documents.
    */
  /** [[classifierCtes]] (dim 64) plus each doc's margin
    * `csz(doc_id, z)` under the final weights `cw<iters>`.
    */
  private def marginCtes(iters: Int, stepDiv: Long): String =
    s"""${classifierCtes(dim = 64, iters = iters, stepDiv = stepDiv)},
       |csz AS (
       |  SELECT x.doc_id, CAST(sum(x.x * w.w) AS BIGINT) AS z
       |  FROM cx x JOIN cw$iters w ON x.b = w.b GROUP BY x.doc_id)""".stripMargin

  /** `scal(doc_id, p_q, label)`: each doc's quantized probability from
    * `csz` beside its label.
    */
  private val labeledScoresCte: String =
    s"""scal AS (
       |  SELECT s.doc_id,
       |         greatest(least(z + ${2L * Classifier.S}, ${Classifier.PS}), 0) AS p_q,
       |         y.y AS label
       |  FROM csz s JOIN cy y ON s.doc_id = y.doc_id)""".stripMargin

  /** DSIR bucket counts: the dense 256-bucket `spine`, each bigram's
    * bucket `hb(doc_id, lang, bucket)`, the target (English) and raw
    * counts per bucket `ct`, `cr`, and their totals `tot(nt, nr)`.
    */
  private def dsirCountCtes: String =
    s"""WITH RECURSIVE spine(b) AS (
       |  SELECT CAST(0 AS BIGINT) UNION ALL SELECT b + 1 FROM spine WHERE b + 1 < 256),
       |w AS (SELECT doc_id, lang, string_split(text,' ') AS ws FROM documents),
       |bgs AS (SELECT doc_id, lang, unnest(list_transform(range(0, greatest(len(ws)-1, 0)),
       |          i -> array_to_string(ws[i+1:i+2], ' '))) AS bg FROM w),
       |hb AS (SELECT doc_id, lang, ${h60Sql("bg")} % 256 AS bucket FROM bgs),
       |ct AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM hb WHERE lang = 'en' GROUP BY bucket),
       |cr AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM hb GROUP BY bucket),
       |tot AS (SELECT (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM ct) AS nt,
       |               (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM cr) AS nr)""".stripMargin

  /** DSIR: bigrams hash into 256 buckets; per-bucket log-ratio weights
    * over a dense bucket spine (unseen buckets keep the smoothing-only
    * weight); document importance = long sum of its bigram weights.
    */
  private def dsirImportanceOracle: String =
    s"""$dsirCountCtes,
       |wt AS (SELECT s.b AS bucket,
       |         (CAST(floor(ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |        - CAST(floor(ln(CAST(tot.nt + 256 AS DOUBLE)) * 1e6) AS BIGINT))
       |       - (CAST(floor(ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |        - CAST(floor(ln(CAST(tot.nr + 256 AS DOUBLE)) * 1e6) AS BIGINT)) AS w_q
       |       FROM spine s LEFT JOIN ct ON s.b = ct.bucket
       |                    LEFT JOIN cr ON s.b = cr.bucket CROSS JOIN tot),
       |sc AS (SELECT hb.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |          CAST(sum(wt.w_q) AS BIGINT) AS importance_q
       |       FROM hb JOIN wt ON hb.bucket = wt.bucket GROUP BY hb.doc_id)
       |SELECT d.doc_id, coalesce(sc.n_bigrams, 0) AS n_bigrams,
       |  coalesce(sc.importance_q, 0) AS importance_q
       |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin

  private def bpeCtes(merges: Int): String = {
    val blocks = (1 to merges).map { i =>
      s"""bq$i AS MATERIALIZED (
         |  SELECT t[j] AS a, t[j + 1] AS b, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |    SELECT t, cnt, unnest(range(1, len(t))) AS j
         |    FROM (SELECT string_split(trim(sym), ' ') AS t, cnt FROM bw${i - 1}))
         |  GROUP BY t[j], t[j + 1]),
         |bm$i AS MATERIALIZED (SELECT a, b, c FROM bq$i ORDER BY c DESC, a, b LIMIT 1),
         |bw$i AS MATERIALIZED (
         |  SELECT w.w, w.cnt, CASE WHEN m.a IS NULL THEN w.sym ELSE
         |    replace(replace(w.sym, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '),
         |            ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') END AS sym
         |  FROM bw${i - 1} w LEFT JOIN bm$i m ON true)""".stripMargin
    }.mkString(",\n")
    s"""bw0 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
       |         ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS sym
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE len(w) > 0 GROUP BY w),
       |$blocks""".stripMargin
  }

  private def bpeOracle(merges: Int): String = {
    val union = (1 to merges)
      .map(i => s"SELECT CAST($i AS BIGINT) AS step, a AS lhs, b AS rhs, c AS freq FROM bm$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(merges)}
       |$union""".stripMargin
  }

  /** Encode = the trained bw{N} symbol strings joined back onto each
    * document's words; token count per word is the symbol count.
    */
  private def bpeEncodeOracle(merges: Int): String =
    s"""WITH ${bpeCtes(merges)}
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(string_split(trim(b.sym), ' '))) AS BIGINT) AS n_bpe_tokens
       |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
       |JOIN bw$merges b ON d.w = b.w
       |WHERE len(d.w) > 0
       |GROUP BY d.doc_id""".stripMargin

  val gates: Seq[Gate] = Seq(
    // fastText-style quality/topic filter: integer full-batch training
    // against the lang=='en' target, then corpus-wide scoring
    // train and score share the ONE memoized 4-iter weight vector
    // (Pipeline.classifierWeights4): each gate previously re-ran the
    // identical full-batch gradient loop for bit-identical weights
    // bills the shared 4-iter weight memo (Pipeline.classifierWeights4)
    // as its own bench line: classifier_score, the memo's alphabetically
    // first consumer, previously absorbed the gradient-loop build (r15
    // verdict item 1 — 2.0 s billed to a ~0.3 s query). Output = the
    // weight table, same oracle as classifier_train.
    Gate("classifier__prolog_w4") { (s, dir) =>
      import s.implicits._
      Pipeline.classifierWeights4(s, dir).toIndexedSeq.zipWithIndex
        .map { case (v, b) => (b.toLong, v) }.toDF("bucket", "weight")
    } {
      // the shared 4-iter weight memo's prolog returns the weight table
      // itself — same oracle as classifier_train by construction
      s"""WITH ${classifierCtes(dim = 64, iters = 4, stepDiv = 131072L)}
         |SELECT b AS bucket, w AS weight FROM cw4""".stripMargin
    },
    Gate("classifier_train") { (s, dir) =>
      import s.implicits._
      Pipeline.classifierWeights4(s, dir).toIndexedSeq.zipWithIndex
        .map { case (v, b) => (b.toLong, v) }.toDF("bucket", "weight")
    } {
      s"""WITH ${classifierCtes(dim = 64, iters = 4, stepDiv = 131072L)}
         |SELECT b AS bucket, w AS weight FROM cw4""".stripMargin
    },
    Gate("classifier_score") { (s, dir) =>
      Classifier.score(Pipeline.labeledDocs(s, dir),
        Pipeline.classifierWeights4(s, dir), dim = 64)
    } {
      s"""WITH ${marginCtes(iters = 4, stepDiv = 131072L)}
         |SELECT doc_id, z,
         |  greatest(least(z + ${2L * Classifier.S}, ${Classifier.PS}), 0) AS p_q,
         |  CAST(CASE WHEN greatest(least(z + ${2L * Classifier.S}, ${Classifier.PS}), 0)
         |              >= ${Classifier.PS / 2} THEN 1 ELSE 0 END AS BIGINT) AS pred
         |FROM csz""".stripMargin
    },
    // reliability table of the trained filter: 8 probability buckets,
    // observed positive rate vs mean prediction — exact-long sums.
    // calibration/auc/drift read the ONE memoized trained+scored frame
    // (Pipeline.scoredDocs) — the filter trains once per corpus snapshot
    Gate("classifier_calibration") { (s, dir) =>
      Classifier.calibrationFromScored(Pipeline.scoredDocs(s, dir),
        Pipeline.labeledDocs(s, dir), buckets = 8)
    } {
      // the reliability table over the same trained weights: probability
      // buckets on exact longs, observed vs mean-predicted per bucket
      s"""WITH ${marginCtes(iters = 8, stepDiv = 16384L)},
         |$labeledScoresCte
         |SELECT (p_q * 8) // ${Classifier.PS + 1} AS bucket,
         |  CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS n_pos,
         |  CAST(sum(p_q) AS BIGINT) AS sum_p_q,
         |  CAST(sum(label) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS observed,
         |  CAST(sum(p_q) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * CAST(${Classifier.PS} AS DOUBLE)) AS predicted
         |FROM scal GROUP BY bucket""".stripMargin
    },
    Gate("classifier__prolog") { (s, dir) =>
      // bills the shared trained-filter memo (Pipeline.scoredDocs — the
      // 8-iter gradient loop) as its own bench line, exactly like
      // colocation__prolog: the double underscore sorts before every
      // classifier_* gate, so classifier_auc (the family's alphabetical
      // first consumer) stops absorbing the training cost and
      // calibration/auc/drift report marginal cost. Integer-exact
      // score-census summary, oracle-checked like any gate.
      Pipeline.scoredDocs(s, dir).agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("z")).cast("long").as("sum_z"),
        sum(col("p_q")).cast("long").as("sum_p_q"),
        sum(col("pred")).cast("long").as("n_pos_pred"))
    } {
      // the shared trained-filter memo's integer score census (the
      // classifier family's eval-grade 8-iter weights — same CTE chain as
      // calibration/auc, aggregated instead of bucketed)
      s"""WITH ${marginCtes(iters = 8, stepDiv = 16384L)},
         |sc AS (
         |  SELECT z, greatest(least(z + ${2L * Classifier.S}, ${Classifier.PS}), 0) AS p_q
         |  FROM csz)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(z) AS BIGINT) AS sum_z,
         |       CAST(sum(p_q) AS BIGINT) AS sum_p_q,
         |       CAST(sum(CASE WHEN p_q >= ${Classifier.PS / 2} THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_pos_pred
         |FROM sc""".stripMargin
    },
    Gate("classifier_auc") { (s, dir) =>
      decimalsToDigits(
        Classifier.aucFromScored(Pipeline.scoredDocs(s, dir), Pipeline.labeledDocs(s, dir)))
    } {
      // Mann–Whitney U from per-score class counts: the calibration chain's
      // scal CTE regrouped by p_q, cumulative negatives below, U·2 exact in
      // int128 — auc is the one final double division
      s"""WITH ${marginCtes(iters = 8, stepDiv = 16384L)},
         |$labeledScoresCte,
         |bys AS (
         |  SELECT p_q, CAST(sum(label) AS BIGINT) AS c_pos,
         |         CAST(count(*) - sum(label) AS BIGINT) AS c_neg
         |  FROM scal GROUP BY p_q),
         |cum AS (
         |  SELECT p_q, c_pos, c_neg,
         |    COALESCE(sum(c_neg) OVER (ORDER BY p_q
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
         |  FROM bys),
         |ag AS (
         |  SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos, CAST(sum(c_neg) AS BIGINT) AS n_neg,
         |         CAST(sum(CAST(c_pos AS HUGEINT)
         |           * (2 * CAST(cum_neg AS HUGEINT) + c_neg)) AS DECIMAL(38,0)) AS u2
         |  FROM cum)
         |SELECT n_pos, n_neg, CAST(u2 AS VARCHAR) AS u2,
         |       CAST(u2 AS DOUBLE) / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
         |FROM ag""".stripMargin
    },
    Gate("score_drift") { (s, dir) =>
      decimalsToDigits(Classifier.scoreDriftFromScored(Pipeline.scoredDocs(s, dir), buckets = 8))
    } {
      // PSI over the calibration chain's score buckets, even vs odd ids:
      // signed mass diff × quantized log-ratio, int128-exact, one division
      s"""WITH ${marginCtes(iters = 8, stepDiv = 16384L)},
         |scal AS (
         |  SELECT s.doc_id,
         |         greatest(least(z + ${2L * Classifier.S}, ${Classifier.PS}), 0) AS p_q
         |  FROM csz s),
         |bb AS (
         |  SELECT (p_q * 8) // ${Classifier.PS + 1} AS bucket,
         |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
         |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_b
         |  FROM scal GROUP BY 1),
         |t AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a, CAST(sum(c_b) AS BIGINT) AS n_b FROM bb),
         |u AS (
         |  SELECT c_a, c_b, n_a, n_b, (c_a > 0 AND c_b > 0) AS used,
         |    c_a * n_b - c_b * n_a AS diff,
         |    CASE WHEN c_a > 0 AND c_b > 0
         |         THEN CAST(floor(ln(CAST(c_a * n_b AS DOUBLE)) * 1e6) AS BIGINT)
         |            - CAST(floor(ln(CAST(c_b * n_a AS DOUBLE)) * 1e6) AS BIGINT)
         |         ELSE 0 END AS lnr
         |  FROM bb CROSS JOIN t)
         |SELECT n_a, n_b,
         |  CAST(sum(CASE WHEN used THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_used,
         |  CAST(sum(CASE WHEN used THEN 0 ELSE 1 END) AS BIGINT) AS n_buckets_skipped,
         |  CAST(sum(CASE WHEN used THEN CAST(diff AS HUGEINT) * lnr ELSE 0 END) AS VARCHAR) AS psi_num,
         |  CAST(CAST(sum(CASE WHEN used THEN CAST(diff AS HUGEINT) * lnr ELSE 0 END) AS DECIMAL(38,0)) AS DOUBLE)
         |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1000000.0) AS psi
         |FROM u GROUP BY n_a, n_b""".stripMargin
    },
    // DSIR importance vs the English slice as target: hashed-bigram
    // log-ratio weights (256 buckets), every document scored
    // both importance gates read the ONE memoized weight table
    // (Pipeline.dsirWeights) — the weight derivation is two corpus
    // bigram passes and was previously re-run per gate
    // bills the shared DSIR weight derivation (Pipeline.dsirWeights — two
    // corpus bigram passes) as its own bench line: dsir_importance, the
    // memo's alphabetically first consumer, previously absorbed the build
    // (r15 verdict item 1). Output = the 256-row weight table itself,
    // integer-exact and oracle-checked like any gate.
    Gate("dsir__prolog") { (s, dir) =>
      Pipeline.dsirWeights(s, dir)
        .select(col("bucket"), col("n_target"), col("n_raw"), col("w_q"))
    } {
      // the shared DSIR weight prolog returns the 256-row weight table —
      // the dsir_importance oracle's wt CTE widened with the raw counts
      s"""$dsirCountCtes
         |SELECT s.b AS bucket,
         |  CAST(coalesce(ct.c, 0) AS BIGINT) AS n_target,
         |  CAST(coalesce(cr.c, 0) AS BIGINT) AS n_raw,
         |  (CAST(floor(ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         | - CAST(floor(ln(CAST(tot.nt + 256 AS DOUBLE)) * 1e6) AS BIGINT))
         |- (CAST(floor(ln(CAST(coalesce(cr.c, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         | - CAST(floor(ln(CAST(tot.nr + 256 AS DOUBLE)) * 1e6) AS BIGINT)) AS w_q
         |FROM spine s LEFT JOIN ct ON s.b = ct.bucket
         |             LEFT JOIN cr ON s.b = cr.bucket CROSS JOIN tot""".stripMargin
    },
    Gate("dsir_importance") { (s, dir) =>
      TextAnalysis.importanceScore(
        s.read.parquet(s"$dir/documents.parquet"), Pipeline.dsirWeights(s, dir), dim = 256)
        .select(col("doc_id"), col("n_bigrams"), col("importance_q"))
    } { dsirImportanceOracle },
    // the scan-only twin: weight array as a plan literal, per-row
    // transform+aggregate — same oracle proves join ≡ scan under the gate
    Gate("dsir_importance_scan") { (s, dir) =>
      TextAnalysis.importanceScoreScan(
        s.read.parquet(s"$dir/documents.parquet"), Pipeline.dsirWeights(s, dir), dim = 256)
        .select(col("doc_id"), col("n_bigrams"), col("importance_q"))
    } {
      // the scan-only twin shares the oracle verbatim: join ≡ scan is part
      // of what the gate proves
      dsirImportanceOracle
    },
    // the learned BPE merge table is the full training trajectory: any
    // divergence in pair counting, tie-breaking, or fusion order at any
    // round changes every later row
    // bills the shared trained-tokenizer memo (Pipeline.bpeMerges — the
    // 8-round incremental trainer, ~26 small shuffle+checkpoint jobs) as
    // its own bench line, exactly like colocation__prolog: the double
    // underscore sorts before every bpe_* family gate, so bpe_encode
    // (the family's alphabetical first consumer) stops absorbing the
    // training cost and encode/export/fairness/packing report marginal
    // cost. The output IS the training trajectory (same oracle as
    // bpe_merges) — integer-exact and oracle-checked like any gate.
    Gate("bpe__prolog") { (s, dir) =>
      Pipeline.bpeMerges(s, dir)
    } {
      // the family-prolog bench line returns the training trajectory —
      // same result, same oracle as bpe_merges
      bpeOracle(merges = 8)
    },
    Gate("bpe_merges") { (s, dir) =>
      Pipeline.bpeMerges(s, dir)
    } { bpeOracle(merges = 8) },
    // train -> tokenize end to end: learned merges fold into one
    // scan-stage projection (driver-held literals, no merge-table join);
    // the trained table and the per-doc token counts come from the
    // family memo (one training, one tokenization per corpus snapshot)
    Gate("bpe_encode") { (s, dir) =>
      Pipeline.bpeTokenCounts(s, dir)
    } { bpeEncodeOracle(merges = 8) },
    // trained-tokenizer fairness card: one global merge table, per-lang
    // tokens per 100 chars (Petrov et al. 2023)
    Gate("tokenizer_compression") { (s, dir) =>
      TextAnalysis.tokenizerCompressionCard(
        s.read.parquet(s"$dir/documents.parquet"), Pipeline.bpeTokenCounts(s, dir))
    } {
      // per-language compression over the SAME trained merge chain: the
      // encode join grouped by the documents' lang column
      s"""WITH ${bpeCtes(8)},
         |enc AS (
         |  SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |         CAST(sum(len(string_split(trim(b.sym), ' '))) AS BIGINT) AS n_bpe_tokens
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
         |  JOIN bw8 b ON d.w = b.w
         |  WHERE len(d.w) > 0
         |  GROUP BY d.doc_id)
         |SELECT doc.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(length(doc.text)) AS BIGINT) AS sum_chars,
         |       CAST(sum(enc.n_words) AS BIGINT) AS sum_words,
         |       CAST(sum(enc.n_bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
         |       100.0 * CAST(sum(enc.n_bpe_tokens) AS DOUBLE)
         |         / CAST(sum(length(doc.text)) AS DOUBLE) AS bpe_per_100_chars,
         |       CAST(sum(length(doc.text)) AS DOUBLE)
         |         / CAST(sum(enc.n_bpe_tokens) AS DOUBLE) AS chars_per_bpe_token
         |FROM documents doc JOIN enc ON doc.doc_id = enc.doc_id
         |GROUP BY doc.lang""".stripMargin
    },
    // tokenize -> pack end to end: sequence packing budgeted by REAL
    // tokenizer counts (the trained BPE's per-doc token counts), not the
    // whitespace proxy — what a training pipeline actually ships
    // trainer handoff: the ordered subword stream per document under the
    // 8-merge learned table (same train collect as pack_by_bpe)
    Gate("bpe_export") { (s, dir) =>
      TextAnalysis.bpeExportTokens(
        s.read.parquet(s"$dir/documents.parquet"), Pipeline.bpeLearned(s, dir))
    } {
      // the fused per-word symbol streams (bw8.sym) re-joined onto the word
      // sequence with positions; parallel unnests zip in DuckDB
      s"""WITH ${bpeCtes(8)},
         |dw AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
         |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS p
         |  FROM documents)
         |SELECT d.doc_id,
         |  CAST(sum(len(string_split(trim(b.sym), ' '))) AS BIGINT) AS n_tokens,
         |  string_agg(trim(b.sym), ' ' ORDER BY d.p) AS token_stream
         |FROM dw d JOIN bw8 b ON d.w = b.w
         |WHERE len(d.w) > 0
         |GROUP BY d.doc_id""".stripMargin
    },
    Gate("pack_by_bpe") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val counts = Pipeline.bpeTokenCounts(s, dir).select(col("doc_id"), col("n_bpe_tokens"))
      CorpusOps.packSequences(docs.join(counts, "doc_id"), budgetTokens = 256,
        tokenCountCol = Some("n_bpe_tokens"))
    } {
      // the BPE training chain feeds per-doc real token counts into the
      // same greedy packing recursion (budget 256)
      s"""WITH RECURSIVE ${bpeCtes(8)},
         |cnt AS (
         |  SELECT d.doc_id, CAST(sum(len(string_split(trim(b.sym), ' '))) AS BIGINT) AS tokens
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) d
         |  JOIN bw8 b ON d.w = b.w
         |  WHERE len(d.w) > 0
         |  GROUP BY d.doc_id),
         |ord AS (
         |  SELECT doc.lang, doc.doc_id, cnt.tokens,
         |         row_number() OVER (PARTITION BY doc.lang ORDER BY doc.doc_id) AS rn
         |  FROM documents doc JOIN cnt ON doc.doc_id = cnt.doc_id),
         |${packCte(256)}
         |SELECT lang, doc_id, tokens, bin FROM pack""".stripMargin
    }
  )
}
