package graft.gates

import graft.Pipeline
import graft.functions.PortableHash.{M, affine, h60Sql}
import graft.operators._
import org.apache.spark.sql.functions._
import Shared.{componentCtes, decimalsToDigits, droppedCte, minhashPairsCte, packCte, shinglesCte}

/** Corpus curation: the composed curation pipeline, contamination, splits,
  * sampling, mixtures, packing, corpus statistics and multimodal plumbing.
  * The curation oracles run the same md5-prefix arithmetic as CorpusOps
  * (portable-hash determinism), so assignments match bit-for-bit.
  */
private[graft] object CurationGates {

  /** doc_ids passing the Gopher repetition thresholds, over `src` —
    * the same gram/count/threshold chain as the text_repetition oracle,
    * reduced to the boolean and parameterized by source relation for
    * composition into the curation pipeline.
    */
  private def repetitionOkCte(src: String): String =
    s"""rw AS (SELECT doc_id, string_split(text,' ') AS ws FROM $src),
       |rg AS (
       |  SELECT doc_id, n, ${h60Sql("g")} AS h FROM (
       |    SELECT doc_id, 2 AS n, unnest(list_transform(range(0, greatest(len(ws)-1, 0)),
       |      i -> array_to_string(ws[i+1:i+2], ' '))) AS g FROM rw
       |    UNION ALL
       |    SELECT doc_id, 3 AS n, unnest(list_transform(range(0, greatest(len(ws)-2, 0)),
       |      i -> array_to_string(ws[i+1:i+3], ' '))) AS g FROM rw
       |    UNION ALL
       |    SELECT doc_id, 4 AS n, unnest(list_transform(range(0, greatest(len(ws)-3, 0)),
       |      i -> array_to_string(ws[i+1:i+4], ' '))) AS g FROM rw
       |    UNION ALL
       |    SELECT doc_id, 5 AS n, unnest(list_transform(range(0, greatest(len(ws)-4, 0)),
       |      i -> array_to_string(ws[i+1:i+5], ' '))) AS g FROM rw)),
       |rcn AS (SELECT doc_id, n, h, CAST(count(*) AS BIGINT) AS cnt FROM rg GROUP BY doc_id, n, h),
       |ragg AS (SELECT doc_id, n, max(cnt) AS max_cnt, sum(cnt) AS tot,
       |          coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0) AS dup
       |        FROM rcn GROUP BY doc_id, n),
       |rok AS (
       |  SELECT w.doc_id FROM rw w LEFT JOIN ragg a ON w.doc_id = a.doc_id
       |  GROUP BY w.doc_id, len(w.ws)
       |  HAVING coalesce(CAST(max(CASE WHEN n = 2 THEN max_cnt * 2 END) AS DOUBLE)
       |           / CAST(len(w.ws) AS DOUBLE), 0.0) <= 0.20
       |     AND coalesce(CAST(max(CASE WHEN n = 3 THEN max_cnt * 3 END) AS DOUBLE)
       |           / CAST(len(w.ws) AS DOUBLE), 0.0) <= 0.18
       |     AND coalesce(CAST(max(CASE WHEN n = 4 THEN max_cnt * 4 END) AS DOUBLE)
       |           / CAST(len(w.ws) AS DOUBLE), 0.0) <= 0.16
       |     AND coalesce(CAST(max(CASE WHEN n = 5 THEN dup END) AS DOUBLE)
       |           / CAST(max(CASE WHEN n = 5 THEN tot END) AS DOUBLE), 0.0) <= 0.15)""".stripMargin

  /** The curation pipeline as one composed oracle: every stage is the
    * SQL twin of the operator [[graft.operators.CorpusOps.curate]] runs,
    * in the same order, each over the previous stage's output.
    */
  private def curateOracle(numHashes: Int, bands: Int, threshold: Double,
                           tgtValues: String): String =
    s"""WITH RECURSIVE
       |cq AS (
       |  SELECT doc_id FROM documents
       |  WHERE len(string_split(text,' ')) >= 5
       |    AND CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE)
       |        / CAST(len(string_split(text,' ')) AS DOUBLE) BETWEEN 2.0 AND 12.0
       |    AND (CASE WHEN length(text) > 0 THEN
       |          CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
       |          / CAST(length(text) AS DOUBLE) ELSE 0.0 END) <= 0.3),
       |${repetitionOkCte("documents")},
       |base AS MATERIALIZED (
       |  SELECT * FROM documents
       |  WHERE doc_id IN (SELECT doc_id FROM cq) AND doc_id IN (SELECT doc_id FROM rok)),
       |${minhashPairsCte(numHashes, bands, threshold, src = "base")},
       |${componentCtes("dup", "id_a", "id_b")},
       |$droppedCte,
       |kept2 AS MATERIALIZED (
       |  SELECT * FROM base WHERE doc_id NOT IN (SELECT node FROM dropped)),
       |tgt(g, w) AS (VALUES $tgtValues),
       |cnt AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n FROM kept2
       |        WHERE lang IN (SELECT g FROM tgt) GROUP BY lang),
       |scw AS (SELECT c.g, c.n, t.w FROM cnt c JOIN tgt t ON c.g = t.g),
       |scarce AS (SELECT g, n, w FROM scw a WHERE NOT EXISTS (
       |  SELECT 1 FROM scw b WHERE b.n * a.w < a.n * b.w
       |                         OR (b.n * a.w = a.n * b.w AND b.g < a.g))),
       |thr AS (SELECT scw.g, (10000 * scw.w * s.n) // (s.w * scw.n) AS bp FROM scw, scarce s),
       |kept3 AS (
       |  SELECT k.* FROM kept2 k JOIN thr ON k.lang = thr.g
       |  WHERE ${h60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 < thr.bp)
       |SELECT doc_id, lang, source,
       |  CASE WHEN ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
       |       WHEN ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM kept3""".stripMargin

  /** The image fixtures' aHash in closed form: the 8x8 grid samples the
    * fixture pixel formula at (rx*w//8, ry*h//8) (the decodeImages
    * nearest-neighbor rule), bit k set iff g*64 > sum, all integer:
    * `bits(doc_id, k, b)`.
    */
  private val ahashBitsCtes: String =
    """WITH m AS (
      |  SELECT doc_id, doc_id % 250 AS cid,
      |    CAST(4 + (doc_id % 250) % 13 AS BIGINT) AS w,
      |    CAST(4 + (doc_id % 250) % 11 AS BIGINT) AS h
      |  FROM documents),
      |samp AS (
      |  SELECT m.doc_id, k.range AS k,
      |    (m.cid * 31 + (((k.range % 8) * m.w) // 8) * 7
      |       + (((k.range // 8) * m.h) // 8) * 13) % 256 AS lum
      |  FROM m, range(0, 64) k),
      |tot AS (SELECT doc_id, SUM(lum) AS s FROM samp GROUP BY doc_id),
      |bits AS (
      |  SELECT samp.doc_id, samp.k, CASE WHEN samp.lum * 64 > tot.s THEN 1 ELSE 0 END AS b
      |  FROM samp JOIN tot USING (doc_id))""".stripMargin

  /** Efraimidis–Spirakis priorities with n_chars as the weight, every
    * one a long: `k(doc_id, lang, weight, priority_q)`.
    */
  private def samplePriorityCtes: String =
    s"""WITH h AS (
       |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
       |         ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} % 2147483647 AS r
       |  FROM documents WHERE n_chars > 0),
       |k AS (
       |  SELECT doc_id, lang, weight,
       |         ((CAST(floor(ln(CAST(2147483647 AS DOUBLE)) * 1000000) AS BIGINT)
       |           - CAST(floor(ln(CAST(r + 1 AS DOUBLE)) * 1000000) AS BIGINT))
       |          * 1048576) // weight AS priority_q
       |  FROM h)""".stripMargin

  /** [[packCte]] with a 512-token budget over each language's docs in id
    * order, a doc's tokens its space-split word count.
    */
  private def wordPackCtes: String =
    s"""WITH RECURSIVE ord AS (
       |  SELECT lang, doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS tokens,
       |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
       |  FROM documents),
       |${packCte(512)}""".stripMargin

  val gates: Seq[Gate] = Seq(
    // the full curation pipeline: quality -> repetition -> near-dup
    // pruning -> rebalance -> split, each stage over the previous one's
    // output (rebalance thresholds derive from post-dedup counts)
    Gate("curate_corpus") { (s, dir) =>
      CorpusOps.curate(s.read.parquet(s"$dir/documents.parquet"),
        targetWeights = Seq("en" -> 4L, "de" -> 1L, "fr" -> 1L, "es" -> 1L),
        share = Share.materialize)
    } {
      curateOracle(numHashes = 64, bands = 16, threshold = 0.5,
        tgtValues = "('en', CAST(4 AS BIGINT)), ('de', 1), ('fr', 1), ('es', 1)")
    },
    // the same pipeline through the DURABLE stage-boundary hook
    // (Pipeline.parquetShare — the multi-node / 100 TB shape where stage
    // boundaries live in storage, not executor block stores): identical
    // oracle, so the gate proves the result is hook-invariant, and the
    // bench artifact records the parquet-vs-localCheckpoint delta
    Gate("curate_corpus_pq") { (s, dir) =>
      val stageDir = java.nio.file.Files.createTempDirectory("graft_curate_pq").toString
      CorpusOps.curate(s.read.parquet(s"$dir/documents.parquet"),
        targetWeights = Seq("en" -> 4L, "de" -> 1L, "fr" -> 1L, "es" -> 1L),
        share = Pipeline.parquetShare(stageDir))
    } {
      // hook-invariance: the parquet-share variant must hash-match the
      // identical oracle
      curateOracle(numHashes = 64, bands = 16, threshold = 0.5,
        tgtValues = "('en', CAST(4 AS BIGINT)), ('de', 1), ('fr', 1), ('es', 1)")
    },
    Gate("contamination") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      CorpusOps.contamination(docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50), n = 5)
    } {
      s"""WITH ${shinglesCte(5, "documents")},
         |th AS (
         |  SELECT doc_id, CAST(len(s) AS BIGINT) AS n_grams, ${h60Sql("g")} AS h
         |  FROM (SELECT doc_id, s, unnest(s) AS g FROM sh WHERE doc_id < 50)),
         |tr AS (
         |  SELECT DISTINCT ${h60Sql("g")} AS h
         |  FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id >= 50))
         |SELECT th.doc_id, first(th.n_grams) AS n_grams, count(tr.h) AS n_contaminated,
         |  round(CAST(count(tr.h) AS DOUBLE) / CAST(first(th.n_grams) AS DOUBLE), 6) AS contamination
         |FROM th LEFT JOIN tr ON th.h = tr.h
         |GROUP BY th.doc_id""".stripMargin
    },
    Gate("bloom_contamination") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      CorpusOps.bloomContamination(docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50),
        n = 5, mBits = 1 << 17, numHashes = 3)
    } {
      // Bloom membership == distinct-position-set membership: a bit is set
      // iff its position appears in the train position set, so the oracle
      // skips the bit array and checks the positions directly.
      {
        val m = 1 << 17
        def posSql(b: String, i: Int) = { val (a, c) = affine(i); s"((($b) * $a + $c) % $M) % $m" }
        s"""WITH ${shinglesCte(5, "documents")},
           |tb AS (
           |  SELECT DISTINCT ${h60Sql("g")} % $M AS b
           |  FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id >= 50)),
           |pos AS (
           |  ${(0 until 3).map(i => s"SELECT DISTINCT ${posSql("b", i)} AS p FROM tb").mkString("\n  UNION ")}),
           |te AS (
           |  SELECT doc_id, CAST(len(s) AS BIGINT) AS n_grams, ${h60Sql("g")} % $M AS b
           |  FROM (SELECT doc_id, s, unnest(s) AS g FROM sh WHERE doc_id < 50)),
           |fl AS (
           |  SELECT doc_id, n_grams,
           |    CASE WHEN ${(0 until 3).map(i => s"${posSql("b", i)} IN (SELECT p FROM pos)").mkString("\n      AND ")}
           |    THEN 1 ELSE 0 END AS hit
           |  FROM te)
           |SELECT doc_id, first(n_grams) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_bloom,
           |  round(CAST(sum(hit) AS DOUBLE) / CAST(first(n_grams) AS DOUBLE), 6) AS bloom_contamination
           |FROM fl GROUP BY doc_id""".stripMargin
      }
    },
    Gate("split_assign") { (s, dir) =>
      CorpusOps.hashSplit(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("split"))
    } {
      s"""SELECT doc_id,
         |  CASE WHEN ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |       WHEN ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },
    // snapshot diff against a synthesized "next crawl": every 7th doc
    // removed, every 5th changed (among survivors), 50 added under
    // shifted ids — all four statuses fire
    Gate("corpus_diff") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val nextCrawl = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .select(col("doc_id"), col("text"))
        .unionAll(docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      CorpusOps.corpusDiff(docs, nextCrawl)
    } {
      s"""WITH nextcrawl AS (
         |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 7 != 0
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50),
         |o AS (SELECT doc_id, ${h60Sql("text")} AS old_hash FROM documents),
         |n AS (SELECT doc_id, ${h60Sql("text")} AS new_hash FROM nextcrawl)
         |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_hash, new_hash,
         |  CASE WHEN old_hash IS NULL THEN 'added'
         |       WHEN new_hash IS NULL THEN 'removed'
         |       WHEN old_hash = new_hash THEN 'same'
         |       ELSE 'changed' END AS status
         |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin
    },
    Gate("sample_stratified") { (s, dir) =>
      CorpusOps.stratifiedSample(s.read.parquet(s"$dir/documents.parquet"), "lang",
        Map("en" -> 2500), defaultBp = 7500)
        .select(col("doc_id"), col("lang"))
    } {
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} % 10000 <
         |      CASE WHEN lang = 'en' THEN 2500 ELSE 7500 END""".stripMargin
    },
    Gate("pack_sequences") { (s, dir) =>
      CorpusOps.packSequences(s.read.parquet(s"$dir/documents.parquet"), budgetTokens = 512)
    } {
      s"""$wordPackCtes
         |SELECT lang, doc_id, tokens, bin FROM pack""".stripMargin
    },
    Gate("corpus_shuffle") { (s, dir) =>
      CorpusOps.deterministicShuffle(s.read.parquet(s"$dir/documents.parquet"), shards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    } {
      s"""WITH h AS (
         |  SELECT doc_id, ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} AS hh FROM documents)
         |SELECT doc_id, hh % 8 AS shard,
         |       row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) - 1 AS pos
         |FROM h""".stripMargin
    },
    // long-document context-window chunking: 16-token windows, 4-token
    // overlap (stride 12) — zero-shuffle scan-stage explode
    Gate("chunk_documents") { (s, dir) =>
      CorpusOps.chunkDocuments(s.read.parquet(s"$dir/documents.parquet"),
        chunkTokens = 16, overlapTokens = 4)
    } {
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
        |  FROM documents),
        |starts AS (
        |  SELECT doc_id, words,
        |         unnest(generate_series(CAST(0 AS BIGINT), (len(words) - 1) // 12)) AS chunk_index
        |  FROM w WHERE len(words) > 0)
        |SELECT doc_id, chunk_index,
        |       CAST(len(words[chunk_index*12 + 1 : chunk_index*12 + 16]) AS BIGINT) AS n_tokens,
        |       array_to_string(words[chunk_index*12 + 1 : chunk_index*12 + 16], ' ') AS chunk_text
        |FROM starts""".stripMargin
    },
    // corpus card: exact surface only — the HLL twin (distinct_tokens_est,
    // the 100 TB path) is engine-specific and spec-gated against the exact
    // count instead of oracle-hashed
    Gate("corpus_stats") { (s, dir) =>
      CorpusOps.corpusStats(s.read.parquet(s"$dir/documents.parquet"), Seq("lang"))
        .drop("distinct_tokens_est")
    } {
      """WITH w AS (
        |  SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS words,
        |         CAST(length(text) AS BIGINT) AS c
        |  FROM documents),
        |dg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(len(words)) AS BIGINT) AS n_tokens,
        |         CAST(sum(c) AS BIGINT) AS n_chars
        |  FROM w GROUP BY lang),
        |tg AS (
        |  SELECT lang, CAST(count(DISTINCT t) AS BIGINT) AS distinct_tokens
        |  FROM (SELECT lang, unnest(words) AS t FROM w) GROUP BY lang)
        |SELECT dg.lang, n_docs, n_tokens, n_chars,
        |       coalesce(distinct_tokens, 0) AS distinct_tokens
        |FROM dg LEFT JOIN tg ON dg.lang = tg.lang""".stripMargin
    },
    Gate("corpus_rollup") { (s, dir) =>
      CorpusOps.rollupCard(s.read.parquet(s"$dir/documents.parquet"))
    } {
      """SELECT CASE WHEN GROUPING(lang) = 1 THEN '<all>' ELSE lang END AS lang,
        |  CASE WHEN GROUPING(source) = 1 THEN '<all>' ELSE source END AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin
    },
    Gate("corpus_grouping_sets") { (s, dir) =>
      CorpusOps.groupingSetsCard(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // hierarchical rollup card: subtotals + grand total in one pass,
      // rolled-up levels as the '<all>' sentinel
      // cross-tab card: both marginals + cross cells in one Expand pass
      """SELECT CASE WHEN GROUPING(lang) = 1 THEN '<all>' ELSE lang END AS lang,
        |  CASE WHEN GROUPING(source) = 1 THEN '<all>' ELSE source END AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY GROUPING SETS ((lang), (source), (lang, source))""".stripMargin
    },
    Gate("source_js") { (s, dir) =>
      decimalsToDigits(
        CorpusOps.sourceJsDivergence(s.read.parquet(s"$dir/documents.parquet"), topK = 50))
    } {
      // source-pair Jensen-Shannon over the global top-50 vocab: dense
      // (source x word) grid, quantized-ln integer-ratio terms, HUGEINT
      // numerator, one double division
      """WITH w AS (
        |  SELECT source AS g, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS wd
        |  FROM documents),
        |vocab AS (
        |  SELECT wd FROM (SELECT wd, count(*) AS c FROM w GROUP BY wd
        |                  ORDER BY c DESC, wd LIMIT 50)),
        |cnts AS (
        |  SELECT g, wd, CAST(count(*) AS BIGINT) AS c
        |  FROM w WHERE wd IN (SELECT wd FROM vocab) GROUP BY g, wd),
        |tot AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM cnts GROUP BY g),
        |dense AS (
        |  SELECT t.g, v.wd, coalesce(c.c, 0) AS c, t.n
        |  FROM tot t CROSS JOIN vocab v
        |  LEFT JOIN cnts c ON c.g = t.g AND c.wd = v.wd),
        |pr AS (
        |  SELECT a.g AS source_a, b.g AS source_b, a.n AS n_a, b.n AS n_b,
        |         CAST(a.c AS HUGEINT) * b.n AS x, CAST(b.c AS HUGEINT) * a.n AS y,
        |         a.c AS ca, b.c AS cb
        |  FROM dense a JOIN dense b ON a.wd = b.wd AND a.g < b.g),
        |tm AS (
        |  SELECT source_a, source_b, n_a, n_b,
        |    (CASE WHEN ca > 0 THEN x * CAST(
        |        CAST(floor(ln(CAST(2 * x AS DOUBLE)) * 1e6) AS BIGINT)
        |        - CAST(floor(ln(CAST(x + y AS DOUBLE)) * 1e6) AS BIGINT) AS HUGEINT)
        |      ELSE 0 END) +
        |    (CASE WHEN cb > 0 THEN y * CAST(
        |        CAST(floor(ln(CAST(2 * y AS DOUBLE)) * 1e6) AS BIGINT)
        |        - CAST(floor(ln(CAST(x + y AS DOUBLE)) * 1e6) AS BIGINT) AS HUGEINT)
        |      ELSE 0 END) AS t
        |  FROM pr)
        |SELECT source_a, source_b, n_a, n_b,
        |       CAST(CAST(sum(t) AS HUGEINT) AS VARCHAR) AS js_num_q,
        |       CAST(sum(t) AS DOUBLE)
        |         / (2.0 * CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) * 1e6) AS js
        |FROM tm GROUP BY source_a, source_b, n_a, n_b""".stripMargin
    },
    Gate("source_concentration") { (s, dir) =>
      CorpusOps.concentration(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // per-lang source HHI + top share: integer sums, two divisions
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang, source),
        |a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |         CAST(sum(n) AS BIGINT) AS n_docs,
        |         CAST(sum(n * n) AS BIGINT) AS sumsq, CAST(max(n) AS BIGINT) AS maxn
        |  FROM g GROUP BY lang)
        |SELECT lang, n_sources, n_docs,
        |       CAST(sumsq AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE) AS hhi,
        |       CAST(maxn AS DOUBLE) / CAST(n_docs AS DOUBLE) AS top_share
        |FROM a""".stripMargin
    },
    Gate("gini_sources") { (s, dir) =>
      CorpusOps.gini(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // Lorenz-curve inequality of the source mix: ascending rank-weighted
      // sum, one final division
      """WITH g AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang, source),
        |r AS (
        |  SELECT lang, n,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY n, source) AS BIGINT) AS i
        |  FROM g)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sources,
        |       CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(2 * sum(i * n) - (count(*) + 1) * sum(n) AS DOUBLE)
        |         / CAST(count(*) * sum(n) AS DOUBLE) AS gini
        |FROM r GROUP BY lang""".stripMargin
    },
    Gate("score_percentiles") { (s, dir) =>
      CorpusOps.percentileRank(s.read.parquet(s"$dir/documents.parquet"), "n_chars")
    } {
      // strictly-below percentile ranks off the value-domain count table;
      // ties share one rank
      """WITH t AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS value FROM documents),
        |c AS (SELECT lang, value, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY lang, value),
        |cum AS (
        |  SELECT lang, value, cnt,
        |         sum(cnt) OVER (PARTITION BY lang ORDER BY value) - cnt AS below,
        |         sum(cnt) OVER (PARTITION BY lang) AS n
        |  FROM c)
        |SELECT t.doc_id, t.lang, t.value,
        |       CAST((10000 * cum.below) // cum.n AS BIGINT) AS pct_bp
        |FROM t JOIN cum ON t.lang = cum.lang AND t.value = cum.value""".stripMargin
    },
    Gate("token_budget_curve") { (s, dir) =>
      CorpusOps.tokenBudgetCurve(s.read.parquet(s"$dir/documents.parquet"), "n_chars")
    } {
      // tokens surviving each quality-percentile cut: percentile ranks ->
      // 100 buckets -> descending cumulative mass
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS value,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |c AS (SELECT lang, value, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY lang, value),
        |cum AS (
        |  SELECT lang, value, cnt,
        |         sum(cnt) OVER (PARTITION BY lang ORDER BY value) - cnt AS below,
        |         sum(cnt) OVER (PARTITION BY lang) AS n
        |  FROM c),
        |r AS (
        |  SELECT t.doc_id, t.tok, (10000 * cum.below) // cum.n AS pct
        |  FROM t JOIN cum ON t.lang = cum.lang AND t.value = cum.value),
        |b AS (
        |  SELECT CAST(pct // 100 AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(tok) AS BIGINT) AS n_tokens
        |  FROM r GROUP BY 1)
        |SELECT bucket, n_docs, n_tokens,
        |  CAST(sum(n_docs) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_docs,
        |  CAST(sum(n_tokens) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(sum(n_tokens) OVER (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |    / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share
        |FROM b""".stripMargin
    },
    Gate("score_joint_deciles") { (s, dir) =>
      CorpusOps.scoreJointDeciles(
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("n_words", size(split(col("text"), " ")).cast("long")),
        "n_chars", "n_words")
    } {
      // joint decile dependence table of two scores via the global
      // percentile-rank machinery
      """WITH t AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS a,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS b
        |  FROM documents),
        |ca AS (SELECT a AS value, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY a),
        |cma AS (
        |  SELECT value, cnt, sum(cnt) OVER (ORDER BY value) - cnt AS below,
        |         sum(cnt) OVER () AS n
        |  FROM ca),
        |ra AS (
        |  SELECT t.doc_id, ((10000 * cma.below) // cma.n) // 1000 AS da
        |  FROM t JOIN cma ON t.a = cma.value),
        |cb AS (SELECT b AS value, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY b),
        |cmb AS (
        |  SELECT value, cnt, sum(cnt) OVER (ORDER BY value) - cnt AS below,
        |         sum(cnt) OVER () AS n
        |  FROM cb),
        |rb AS (
        |  SELECT t.doc_id, ((10000 * cmb.below) // cmb.n) // 1000 AS db
        |  FROM t JOIN cmb ON t.b = cmb.value)
        |SELECT CAST(ra.da AS BIGINT) AS decile_a, CAST(rb.db AS BIGINT) AS decile_b,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM ra JOIN rb ON ra.doc_id = rb.doc_id
        |GROUP BY 1, 2""".stripMargin
    },
    Gate("score_correlation") { (s, dir) =>
      CorpusOps.scoreCorrelation(
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("n_words", size(split(col("text"), " ")).cast("long")),
        aCol = "n_chars", bCol = "n_words")
    } {
      // Pearson on raw integer scores, Spearman on dense (value, id) ranks
      // — int128 cross terms, doubles only in the last expression
      """WITH t AS (
        |  SELECT doc_id AS id, n_chars AS a,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS b
        |  FROM documents),
        |r AS (
        |  SELECT id, a, b,
        |         CAST(row_number() OVER (ORDER BY a, id) AS BIGINT) AS ra,
        |         CAST(row_number() OVER (ORDER BY b, id) AS BIGINT) AS rb
        |  FROM t),
        |ag AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb,
        |         sum(CAST(a AS HUGEINT) * CAST(b AS HUGEINT)) AS sab,
        |         sum(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS saa,
        |         sum(CAST(b AS HUGEINT) * CAST(b AS HUGEINT)) AS sbb,
        |         sum(CAST(ra - rb AS HUGEINT) * CAST(ra - rb AS HUGEINT)) AS sdd
        |  FROM r)
        |SELECT n_docs,
        |       CAST(CAST(n_docs AS HUGEINT) * sab
        |            - CAST(sa AS HUGEINT) * CAST(sb AS HUGEINT) AS DOUBLE)
        |         / (sqrt(CAST(CAST(n_docs AS HUGEINT) * saa
        |                      - CAST(sa AS HUGEINT) * CAST(sa AS HUGEINT) AS DOUBLE))
        |            * sqrt(CAST(CAST(n_docs AS HUGEINT) * sbb
        |                        - CAST(sb AS HUGEINT) * CAST(sb AS HUGEINT) AS DOUBLE))) AS pearson,
        |       1.0 - (6.0 * CAST(sdd AS DOUBLE))
        |         / CAST(CAST(n_docs AS HUGEINT) * CAST(n_docs AS HUGEINT) * CAST(n_docs AS HUGEINT)
        |                - CAST(n_docs AS HUGEINT) AS DOUBLE) AS spearman
        |FROM ag""".stripMargin
    },
    Gate("curriculum_stages") { (s, dir) =>
      CorpusOps.curriculumStages(s.read.parquet(s"$dir/documents.parquet"), stages = 4)
    } {
      // value-based curriculum bands from the exactQuantiles rank rule —
      // boundary pivot + scan-stage comparisons, ties land low
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS BIGINT) AS bpe_tokens
        |  FROM documents),
        |c AS (
        |  SELECT lang, bpe_tokens AS value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM t GROUP BY lang, bpe_tokens),
        |cum AS (
        |  SELECT lang, value, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY value) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM c),
        |q AS (SELECT CAST(unnest([2500, 5000, 7500]) AS BIGINT) AS q_bp),
        |b0 AS (
        |  SELECT lang, q_bp, value FROM cum CROSS JOIN q
        |  WHERE cum - cnt < (q_bp * n + 9999) // 10000
        |    AND (q_bp * n + 9999) // 10000 <= cum),
        |b AS (
        |  SELECT lang,
        |    max(CASE WHEN q_bp = 2500 THEN value END) AS b1,
        |    max(CASE WHEN q_bp = 5000 THEN value END) AS b2,
        |    max(CASE WHEN q_bp = 7500 THEN value END) AS b3
        |  FROM b0 GROUP BY lang)
        |SELECT t.doc_id, t.lang, t.bpe_tokens,
        |       CAST(1 + (CASE WHEN t.bpe_tokens > b.b1 THEN 1 ELSE 0 END)
        |              + (CASE WHEN t.bpe_tokens > b.b2 THEN 1 ELSE 0 END)
        |              + (CASE WHEN t.bpe_tokens > b.b3 THEN 1 ELSE 0 END) AS BIGINT) AS stage
        |FROM t JOIN b ON t.lang = b.lang""".stripMargin
    },
    // best-10-per-source curation cut; ranking signals are rational in
    // integer counts, so the double order is engine-reproducible
    Gate("quality_topk") { (s, dir) =>
      CorpusOps.keepTopKPerGroup(s.read.parquet(s"$dir/documents.parquet"), k = 10)
    } {
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS stop_hits
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      (CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0 END) DESC,
        |      n_words DESC, doc_id) AS rank
        |  FROM q)
        |SELECT doc_id, source, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 10""".stripMargin
    },
    // exact doc-length percentiles per language — integer rank selection
    // over the (lang, n_chars) count table, never a corpus sort
    Gate("exact_quantiles") { (s, dir) =>
      CorpusOps.exactQuantiles(s.read.parquet(s"$dir/documents.parquet"),
        valueCol = "n_chars", qsBp = Seq(2500, 5000, 9000, 9900, 10000))
    } {
      """WITH c AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM documents GROUP BY lang, n_chars),
        |cum AS (
        |  SELECT lang, value, cnt,
        |         CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY value) AS BIGINT) AS cum,
        |         CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM c),
        |q AS (SELECT CAST(unnest([2500, 5000, 9000, 9900, 10000]) AS BIGINT) AS q_bp)
        |SELECT lang, q_bp, value, n
        |FROM cum CROSS JOIN q
        |WHERE cum - cnt < (q_bp * n + 9999) // 10000
        |  AND (q_bp * n + 9999) // 10000 <= cum""".stripMargin
    },
    // deterministic ES-weighted sample, chars as the weight: every
    // priority is a long (quantized-ln contract), so the 40 winners and
    // their order are engine-exact
    Gate("weighted_sample") { (s, dir) =>
      CorpusOps.weightedSample(s.read.parquet(s"$dir/documents.parquet"),
        k = 40, weightCol = "n_chars")
    } {
      s"""$samplePriorityCtes
         |SELECT doc_id, lang, weight, priority_q
         |FROM k ORDER BY priority_q, doc_id LIMIT 40""".stripMargin
    },
    Gate("weighted_sample_grouped") { (s, dir) =>
      CorpusOps.weightedSampleByGroup(
        s.read.parquet(s"$dir/documents.parquet"), kPerGroup = 5, weightCol = "n_chars",
        groupCol = "lang")
    } {
      s"""$samplePriorityCtes,
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang ORDER BY priority_q, doc_id) AS rank
         |  FROM k)
         |SELECT doc_id, lang, weight, priority_q, CAST(rank AS BIGINT) AS rank
         |FROM rk WHERE rank <= 5""".stripMargin
    },
    // 4:1:1:1 en/de/fr/es target; zh is outside the target and drops.
    // en is the scarcest per weight, so it survives in full.
    Gate("rebalance_mixture") { (s, dir) =>
      CorpusOps.rebalanceMixture(s.read.parquet(s"$dir/documents.parquet"),
        Seq("en" -> 4L, "de" -> 1L, "fr" -> 1L, "es" -> 1L))
        .select(col("doc_id"), col("lang"), col("source"))
    } {
      // mixture rebalancing: scarcest group by integer cross-compare keeps
      // bp 10000; others floor-div down to proportion — identical integer
      // arithmetic to CorpusOps.rebalanceMixture ('//' truncates, operands
      // are positive, so it is floor)
      s"""WITH tgt(g, w) AS (VALUES ('en', CAST(4 AS BIGINT)), ('de', 1), ('fr', 1), ('es', 1)),
         |cnt AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n FROM documents
         |        WHERE lang IN (SELECT g FROM tgt) GROUP BY lang),
         |scw AS (SELECT c.g, c.n, t.w FROM cnt c JOIN tgt t ON c.g = t.g),
         |scarce AS (SELECT g, n, w FROM scw a WHERE NOT EXISTS (
         |  SELECT 1 FROM scw b WHERE b.n * a.w < a.n * b.w
         |                         OR (b.n * a.w = a.n * b.w AND b.g < a.g))),
         |thr AS (SELECT scw.g, (10000 * scw.w * s.n) // (s.w * scw.n) AS bp FROM scw, scarce s)
         |SELECT d.doc_id, d.lang, d.source FROM documents d JOIN thr ON d.lang = thr.g
         |WHERE ${h60Sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 < thr.bp""".stripMargin
    },
    // T = 2 keeps the exponent 1 - 1/T an exact double (0.5) in both
    // engines; thresholds derive from integer group counts
    Gate("mixture_temperature") { (s, dir) =>
      CorpusOps.temperatureSample(s.read.parquet(s"$dir/documents.parquet"), temperature = 2.0)
        .select(col("doc_id"), col("lang"))
    } {
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
         |           WHERE lang IS NOT NULL GROUP BY lang),
         |mn AS (SELECT min(n) AS n_min FROM c),
         |thr AS (SELECT c.lang,
         |          CAST(floor(10000 * pow(CAST(mn.n_min AS DOUBLE) / CAST(c.n AS DOUBLE), 0.5)) AS BIGINT) AS t
         |        FROM c, mn)
         |SELECT d.doc_id, d.lang FROM documents d JOIN thr ON d.lang = thr.lang
         |WHERE ${h60Sql("'temp:' || CAST(doc_id AS VARCHAR)")} % 10000 < thr.t""".stripMargin
    },
    // equal-weight target: en is the most abundant, so it stays at one
    // epoch and de/fr/es repeat ~3x; zh is outside the target and drops
    Gate("mixture_upsample") { (s, dir) =>
      CorpusOps.upsampleMixture(s.read.parquet(s"$dir/documents.parquet"),
        Seq("en" -> 1L, "de" -> 1L, "fr" -> 1L, "es" -> 1L))
        .select(col("doc_id"), col("lang"), col("epoch"))
    } {
      // epoch upsampling: reference group by MAX-ratio integer
      // cross-compare keeps one epoch; others repeat rq//10000 times plus
      // one iff the salted hash bucket < rq % 10000 — identical integer
      // arithmetic to CorpusOps.upsampleMixture; copies come from a
      // recursive numbers CTE joined on i < n_copies
      s"""WITH RECURSIVE tgt(g, w) AS (VALUES ('en', CAST(1 AS BIGINT)), ('de', 1), ('fr', 1), ('es', 1)),
         |cnt AS (SELECT lang AS g, CAST(count(*) AS BIGINT) AS n FROM documents
         |        WHERE lang IN (SELECT g FROM tgt) GROUP BY lang),
         |scw AS (SELECT c.g, c.n, t.w FROM cnt c JOIN tgt t ON c.g = t.g),
         |ref AS (SELECT g, n, w FROM scw a WHERE NOT EXISTS (
         |  SELECT 1 FROM scw b WHERE b.n * a.w > a.n * b.w
         |                         OR (b.n * a.w = a.n * b.w AND b.g < a.g))),
         |rep AS (SELECT scw.g, (10000 * scw.w * r.n) // (r.w * scw.n) AS rq FROM scw, ref r),
         |nums(i) AS (SELECT CAST(0 AS BIGINT) UNION ALL SELECT i + 1 FROM nums WHERE i + 1 < 1000),
         |d AS (SELECT doc_id, lang, rq // 10000 +
         |        CASE WHEN ${h60Sql("'epoch:' || CAST(doc_id AS VARCHAR)")} % 10000 < rq % 10000
         |             THEN 1 ELSE 0 END AS n_copies
         |      FROM documents JOIN rep ON lang = rep.g)
         |SELECT d.doc_id, d.lang, nums.i AS epoch
         |FROM d JOIN nums ON nums.i < d.n_copies""".stripMargin
    },
    Gate("negative_samples") { (s, dir) =>
      CorpusOps.negativeSamples(s.read.parquet(s"$dir/documents.parquet"), k = 4)
    } { CorpusOps.negativeSamplesSql(k = 4) },
    Gate("cdc_chunks") { (s, dir) =>
      CorpusOps.cdcChunks(s.read.parquet(s"$dir/documents.parquet"), k = 2, maskBits = 5)
    } { CorpusOps.cdcChunksSql(k = 2, maskBits = 5) },
    Gate("unimax_allocation") { (s, dir) =>
      CorpusOps.unimaxAllocation(s.read.parquet(s"$dir/documents.parquet"),
        budget = 40000L, epochCap = 2)
    } { CorpusOps.unimaxAllocationSql(budget = 40000L, epochCap = 2) },
    Gate("source_overlap") { (s, dir) =>
      CorpusOps.sourceOverlap(s.read.parquet(s"$dir/documents.parquet"), n = 3)
    } {
      // inter-source redundancy matrix: distinct-gram Jaccard per source
      // pair via a per-hash bounded self-join
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT DISTINCT source, ${h60Sql("gr")} AS h FROM (
         |    SELECT source, unnest(list_transform(range(0, greatest(len(ws) - 2, 0)),
         |      i -> array_to_string(ws[i+1:i+3], ' '))) AS gr FROM w)),
         |t AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
         |c AS (
         |  SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_common
         |  FROM g a JOIN g b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
         |SELECT c.source_a, c.source_b, c.n_common, ta.n AS n_a, tb.n AS n_b,
         |       CAST(c.n_common AS DOUBLE) / CAST(ta.n + tb.n - c.n_common AS DOUBLE) AS jaccard
         |FROM c JOIN t ta ON c.source_a = ta.source JOIN t tb ON c.source_b = tb.source""".stripMargin
    },
    Gate("packing_efficiency") { (s, dir) =>
      val packed = CorpusOps.packSequences(
        s.read.parquet(s"$dir/documents.parquet"), budgetTokens = 512L)
      CorpusOps.packingEfficiency(packed, budgetTokens = 512L)
    } {
      // the pack_sequences recursion reduced to its per-group efficiency
      // card: bins, exact basis-point fill, oversize-document count
      s"""$wordPackCtes
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(max(bin) + 1 AS BIGINT) AS n_bins,
         |  CAST(sum(tokens) AS BIGINT) AS sum_tokens,
         |  CAST(sum(CASE WHEN tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
         |  (10000 * CAST(sum(tokens) AS BIGINT)) // ((max(bin) + 1) * 512) AS fill_bp
         |FROM pack GROUP BY lang""".stripMargin
    },
    Gate("multimodal_features") { (s, dir) =>
      val media = Multimodal.asMediaTable(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.extractFeatures(media)
        .select(col("media_id"), col("n_bytes"), col("byte_checksum"))
    } {
      // text is ASCII in the testdata, so per-char ord == per-byte value and
      // char length == byte length; the rolling checksum matches
      // Multimodal.byteFeatures' stub kernel exactly
      s"""SELECT doc_id AS media_id, CAST(length(text) AS BIGINT) AS n_bytes,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text,''), c -> CAST(ord(c) AS BIGINT))),
         |    (acc, x) -> (acc * 31 + x) % ${graft.operators.Multimodal.checksumMod}) AS byte_checksum
         |FROM documents""".stripMargin
    },
    // real codec path: deterministic PNGs built and encoded by
    // javax.imageio, decoded back by javax.imageio, plus the explicit
    // nearest-neighbor resize — every output re-derived in closed form
    // by the oracle (PNG is lossless, fixture pixels are a formula)
    Gate("multimodal_decode") { (s, dir) =>
      val media = Multimodal.pngFixtures(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.decodeImages(media, resizeTo = 8)
        .select(col("media_id"), col("width"), col("height"), col("pixel_sum"),
          col("rs_width"), col("rs_height"), col("rs_pixel_sum"))
    } {
      // the decoded-image surfaces re-derived in closed form: the PNG
      // fixtures are gray WxH with pixel(x,y) = (id*31 + x*7 + y*13) % 256
      // (PNG is lossless, so ImageIO.read returns exactly these samples),
      // and the nearest-neighbor resize reads src(x*w//rw, y*h//rh)
      """WITH m AS (
        |  SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS w, CAST(4 + doc_id % 11 AS BIGINT) AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, w, h,
        |    CASE WHEN greatest(w, h) <= 8 THEN w ELSE greatest(1, (w * 8) // greatest(w, h)) END AS rw,
        |    CASE WHEN greatest(w, h) <= 8 THEN h ELSE greatest(1, (h * 8) // greatest(w, h)) END AS rh
        |  FROM m),
        |full_px AS (
        |  -- no lateral range() in the gate's DuckDB: fixture dims are bounded
        |  -- (w <= 16, h <= 14), so iterate the fixed bound and filter per row
        |  SELECT r.doc_id, CAST(SUM((r.doc_id * 31 + x.range * 7 + y.range * 13) % 256) AS BIGINT) AS pixel_sum
        |  FROM r, range(0, 16) x, range(0, 14) y
        |  WHERE x.range < r.w AND y.range < r.h
        |  GROUP BY r.doc_id),
        |rs_px AS (
        |  SELECT r.doc_id, CAST(SUM((r.doc_id * 31 + ((x.range * r.w) // r.rw) * 7
        |           + ((y.range * r.h) // r.rh) * 13) % 256) AS BIGINT) AS rs_pixel_sum
        |  FROM r, range(0, 8) x, range(0, 8) y
        |  WHERE x.range < r.rw AND y.range < r.rh
        |  GROUP BY r.doc_id)
        |SELECT r.doc_id AS media_id, r.w AS width, r.h AS height, f.pixel_sum,
        |  r.rw AS rs_width, r.rh AS rs_height, s.rs_pixel_sum
        |FROM r
        |JOIN full_px f USING (doc_id)
        |JOIN rs_px s USING (doc_id)""".stripMargin
    },
    // perceptual aHash over REAL decoded PNGs; content keyed by
    // doc_id % 250 so every image has exactly one duplicate partner —
    // the fixture for the near-dup pair gate below
    // phash and the near-dup pair gates read the ONE memoized aHash
    // table (Pipeline.imagePhash): the javax.imageio PNG encode+decode
    // pass is the family's dominant cost and previously ran per gate
    Gate("image_phash") { (s, dir) =>
      Pipeline.imagePhash(s, dir)
    } {
      // aHash re-derived in closed form; the two 32-bit halves keep every
      // value small-positive in both engines
      s"""$ahashBitsCtes
        |SELECT doc_id AS media_id, TRUE AS ok,
        |  CAST(SUM(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << CAST(k - 32 AS INT)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |  CAST(SUM(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |FROM bits GROUP BY doc_id""".stripMargin
    },
    Gate("image_neardup") { (s, dir) =>
      Multimodal.imageNearDupPairs(Pipeline.imagePhash(s, dir), maxHamming = 3)
    } {
      // banded hamming pairs over the same closed-form hashes: 16-bit band
      // equi-join (shiftright == floor-div on the nonneg halves), exact
      // bit_count(xor) filter at <= 3 — complete by pigeonhole over 4 bands
      s"""$ahashBitsCtes,
        |hsh AS (
        |  SELECT doc_id AS media_id,
        |    CAST(SUM(CASE WHEN k >= 32 THEN b * (CAST(1 AS BIGINT) << CAST(k - 32 AS INT)) ELSE 0 END) AS BIGINT) AS ahash_hi,
        |    CAST(SUM(CASE WHEN k < 32 THEN b * (CAST(1 AS BIGINT) << CAST(k AS INT)) ELSE 0 END) AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY doc_id),
        |bnd AS (
        |  SELECT media_id, ahash_hi, ahash_lo, bb.range AS band,
        |    CASE WHEN bb.range = 0 THEN ahash_lo % 65536
        |         WHEN bb.range = 1 THEN (ahash_lo // 65536) % 65536
        |         WHEN bb.range = 2 THEN ahash_hi % 65536
        |         ELSE (ahash_hi // 65536) % 65536 END AS bv
        |  FROM hsh, range(0, 4) bb)
        |SELECT DISTINCT a.media_id AS id_a, c.media_id AS id_b,
        |  CAST(bit_count(xor(a.ahash_hi, c.ahash_hi))
        |     + bit_count(xor(a.ahash_lo, c.ahash_lo)) AS BIGINT) AS hamming
        |FROM bnd a JOIN bnd c ON a.band = c.band AND a.bv = c.bv AND a.media_id < c.media_id
        |WHERE bit_count(xor(a.ahash_hi, c.ahash_hi))
        |    + bit_count(xor(a.ahash_lo, c.ahash_lo)) <= 3""".stripMargin
    },
    // real frame sampling: deterministic animated GIFs built and decoded
    // by javax.imageio's sequence reader/writer; every k-th frame's
    // dimensions and luma sum re-derived in closed form (GIF is
    // palette-lossless for <=256 grays)
    Gate("multimodal_frames") { (s, dir) =>
      val media = Multimodal.gifFixtures(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.decodeFrames(media, everyK = 2)
        .select(col("media_id"), col("n_frames"), col("frame_idx"),
          col("width"), col("height"), col("pixel_sum"))
    } {
      // sampled-frame surfaces in closed form: the GIF fixtures carry
      // n_frames = 2 + id % 5 full-size gray frames with
      // pixel(f, x, y) = (id*31 + f*17 + x*7 + y*13) % 256; the sampler
      // reads every 2nd frame
      """WITH m AS (
        |  SELECT doc_id, CAST(2 + doc_id % 5 AS BIGINT) AS n_frames,
        |    CAST(4 + doc_id % 13 AS BIGINT) AS w, CAST(4 + doc_id % 11 AS BIGINT) AS h
        |  FROM documents),
        |fr AS (
        |  SELECT m.doc_id, m.n_frames, m.w, m.h, f.range AS frame_idx
        |  FROM m, range(0, 6) f
        |  WHERE f.range < m.n_frames AND f.range % 2 = 0),
        |px AS (
        |  SELECT fr.doc_id, fr.frame_idx,
        |    CAST(SUM((fr.doc_id * 31 + fr.frame_idx * 17 + x.range * 7 + y.range * 13) % 256) AS BIGINT) AS pixel_sum
        |  FROM fr, range(0, 16) x, range(0, 14) y
        |  WHERE x.range < fr.w AND y.range < fr.h
        |  GROUP BY fr.doc_id, fr.frame_idx)
        |SELECT fr.doc_id AS media_id, fr.n_frames, fr.frame_idx, fr.w AS width, fr.h AS height,
        |  px.pixel_sum
        |FROM fr JOIN px ON fr.doc_id = px.doc_id AND fr.frame_idx = px.frame_idx""".stripMargin
    },
    // real audio: deterministic PCM16 WAVs containerized and decoded by
    // javax.sound.sampled; PCM is lossless so the frame count, format
    // fields and integer sample sum are all re-derivable in closed form
    Gate("multimodal_audio") { (s, dir) =>
      val media = Multimodal.wavFixtures(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.decodeAudio(media)
        .select(col("media_id"), col("n_frames"), col("channels"),
          col("sample_rate"), col("sample_sum"))
    } {
      // decoded-WAV surfaces in closed form: PCM16 fixtures carry
      // sample(i) = (id*31 + i*7) % 65536 - 32768 interleaved over
      // frames*channels (<= 299*2 = 598 flat samples per clip)
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(200 + doc_id % 100 AS BIGINT) AS n_frames,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |    CAST(8000 + (doc_id % 4) * 4000 AS BIGINT) AS sample_rate
        |  FROM documents),
        |s AS (
        |  SELECT m.doc_id,
        |    CAST(SUM((m.doc_id * 31 + i.range * 7) % 65536 - 32768) AS BIGINT) AS sample_sum
        |  FROM m, range(0, 600) i
        |  WHERE i.range < m.n_frames * m.channels
        |  GROUP BY m.doc_id)
        |SELECT m.doc_id AS media_id, m.n_frames, m.channels, m.sample_rate, s.sample_sum
        |FROM m JOIN s USING (doc_id)""".stripMargin
    },
    Gate("audio_energy") { (s, dir) =>
      val media = Multimodal.wavFixtures(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.audioEnergyWindows(media, windowSamples = 128,
        thresholdMeanSquare = 100000000L)
    } {
      // per-window energies re-derived from the same closed-form samples;
      // the silence decision is the identical integer cross-compare
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(200 + doc_id % 100 AS BIGINT) AS n_frames,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS channels
        |  FROM documents),
        |s AS (
        |  SELECT m.doc_id, CAST(i.range // 128 AS BIGINT) AS window_idx,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(SUM(((m.doc_id * 31 + i.range * 7) % 65536 - 32768)
        |           * ((m.doc_id * 31 + i.range * 7) % 65536 - 32768)) AS BIGINT) AS energy_q
        |  FROM m, range(0, 600) i
        |  WHERE i.range < m.n_frames * m.channels
        |  GROUP BY m.doc_id, i.range // 128)
        |SELECT doc_id AS media_id, window_idx, n_samples, energy_q,
        |  energy_q < n_samples * 100000000 AS silent
        |FROM s""".stripMargin
    },
    Gate("audio_clipping") { (s, dir) =>
      val media = Multimodal.wavFixtures(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.audioClipping(media, threshold = 32000L)
    } {
      // clipping: closed-form PCM16 fixture samples, |s| >= 32000 count and
      // peak per clip — the audio_energy sample formula reaggregated
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(200 + doc_id % 100 AS BIGINT) AS n_frames,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS channels
        |  FROM documents),
        |s AS (
        |  SELECT m.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(CASE WHEN abs((m.doc_id * 31 + i.range * 7) % 65536 - 32768) >= 32000
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |    CAST(max(abs((m.doc_id * 31 + i.range * 7) % 65536 - 32768)) AS BIGINT) AS peak
        |  FROM m, range(0, 600) i
        |  WHERE i.range < m.n_frames * m.channels
        |  GROUP BY m.doc_id)
        |SELECT doc_id AS media_id, TRUE AS ok, n_samples, n_clipped, peak,
        |  CAST(n_clipped AS DOUBLE) / CAST(n_samples AS DOUBLE) AS clipped_share
        |FROM s""".stripMargin
    },
    Gate("image_size_filter") { (s, dir) =>
      val media = Multimodal.pngFixtures(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.imageSizeFilter(media, minEdge = 6L, maxAspect = 2L)
    } {
      // size/aspect policy over the closed-form fixture dimensions; the
      // aspect decision is the same integer cross-compare as the operator
      """WITH m AS (
        |  SELECT doc_id, CAST(4 + doc_id % 13 AS BIGINT) AS w,
        |         CAST(4 + doc_id % 11 AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id AS media_id, TRUE AS ok, w AS width, h AS height,
        |  (least(w, h) >= 6 AND greatest(w, h) <= 2 * least(w, h)) AS keep
        |FROM m""".stripMargin
    },
    Gate("video_keyframes") { (s, dir) =>
      val media = Multimodal.gifFixtures(s.read.parquet(s"$dir/documents.parquet"))
      Multimodal.keyframes(media, minLumaDelta = 200L)
    } {
      // keyframes: the multimodal_frames pixel sums at everyK=1 plus the
      // identical lag/delta/keep decision
      """WITH m AS (
        |  SELECT doc_id, CAST(2 + doc_id % 5 AS BIGINT) AS n_frames,
        |    CAST(4 + doc_id % 13 AS BIGINT) AS w, CAST(4 + doc_id % 11 AS BIGINT) AS h
        |  FROM documents),
        |fr AS (
        |  SELECT m.doc_id, m.n_frames, m.w, m.h, f.range AS frame_idx
        |  FROM m, range(0, 6) f
        |  WHERE f.range < m.n_frames),
        |px AS (
        |  SELECT fr.doc_id, fr.n_frames, fr.frame_idx,
        |    CAST(SUM((fr.doc_id * 31 + fr.frame_idx * 17 + x.range * 7 + y.range * 13) % 256) AS BIGINT) AS pixel_sum
        |  FROM fr, range(0, 16) x, range(0, 14) y
        |  WHERE x.range < fr.w AND y.range < fr.h
        |  GROUP BY fr.doc_id, fr.n_frames, fr.frame_idx),
        |lagd AS (
        |  SELECT doc_id, n_frames, frame_idx, pixel_sum,
        |    lag(pixel_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
        |  FROM px)
        |SELECT doc_id AS media_id, n_frames, CAST(frame_idx AS BIGINT) AS frame_idx, pixel_sum,
        |  CAST(CASE WHEN prev IS NULL THEN 0 ELSE abs(pixel_sum - prev) END AS BIGINT) AS luma_delta
        |FROM lagd
        |WHERE prev IS NULL OR abs(pixel_sum - prev) >= 200""".stripMargin
    }
  )
}
