package graft.gates

import graft.functions.PortableHash.{M, affine, h60Sql}
import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared.{olsFitSql, probeCosineSql, wideOlsFitSql}

/** Text analysis: language id, quality and readability scores, language-model
  * scores, URL features, heuristic filters, retrieval and vocabulary statistics.
  */
private[graft] object TextGates {

  /** Dirty-text affixes for the text_normalize gate (ASCII escapes so the
    * source survives any tooling): decomposed combining sequences
    * (e+U+0301, i+U+0308, n+U+0300 — NFC must compose them), control
    * bytes (U+0001, DEL), and mixed-whitespace runs. Interpolated into
    * BOTH the Spark query and the oracle SQL so the inputs are
    * code-point-identical by construction.
    */
  private val normDirtyPrefix = "Café \t naïve  "
  private val normDirtySuffix = " x fiǹ"

  /** Deterministic synthetic URL for the url_* gates (the corpus carries
    * none): scheme + optional userinfo + mixed-case subdomain + source
    * domain + optional port + path + optional query, all pure integer
    * functions of doc_id. [[urlSyntheticSql]] is the byte-identical SQL.
    */
  private def withSyntheticUrl(docs: DataFrame): DataFrame =
    docs.withColumn("url", concat(
      lit("https://"),
      when(col("doc_id") % 3 === 0, lit("user:pw@")).otherwise(lit("")),
      lit("Sub"), (col("doc_id") % 4).cast("string"), lit("."),
      col("source"), lit(".example.com"),
      when(col("doc_id") % 5 === 0, lit(":8443")).otherwise(lit("")),
      lit("/a/b"),
      when(col("doc_id") % 2 === 0, lit("/c")).otherwise(lit("")),
      when(col("doc_id") % 7 === 0, lit("?q=1")).otherwise(lit(""))))

  private val urlSyntheticSql: String =
    """'https://' || CASE WHEN doc_id % 3 = 0 THEN 'user:pw@' ELSE '' END ||
      |    'Sub' || CAST(doc_id % 4 AS VARCHAR) || '.' || source || '.example.com' ||
      |    CASE WHEN doc_id % 5 = 0 THEN ':8443' ELSE '' END ||
      |    '/a/b' || CASE WHEN doc_id % 2 = 0 THEN '/c' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN '?q=1' ELSE '' END""".stripMargin

  /** host/path_depth/has_query extraction, the SQL twin of
    * [[graft.operators.TextAnalysis.urlFeatures]] (same RE2-portable
    * patterns; each is anchored so first-match replace == global).
    */
  private val urlFeaturesSql: String =
    s"""SELECT doc_id, url,
       |    lower(regexp_replace(regexp_replace(
       |      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
       |      '^[^@]*@', ''), ':[0-9]+$$', '')) AS host,
       |    CAST(len(list_filter(string_split(
       |      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'),
       |      x -> x <> '')) AS BIGINT) AS path_depth,
       |    contains(url, '?') AS has_query
       |  FROM aug""".stripMargin

  /** Stopword-count language id per document, carrying the columns
    * `keys`: the four scores `sc` and the argmax (ties to the earlier
    * language) `p(keys, predicted_lang)`.
    */
  private def langIdCtes(keys: String): String =
    s"""WITH sc AS (
       |  SELECT $keys,
       |    CAST(len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','nicht'))) AS BIGINT) AS score_de,
       |    CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS score_en,
       |    CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que'))) AS BIGINT) AS score_es,
       |    CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les','des'))) AS BIGINT) AS score_fr
       |  FROM documents),
       |p AS (
       |  SELECT $keys,
       |    CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
       |         WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
       |         WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
       |         ELSE 'fr' END AS predicted_lang
       |  FROM sc)""".stripMargin

  /** BM25 (k1 = 1.2, b = 0.75) for the terms spark, join and window:
    * each matched term's quantized contribution `q(doc_id, contrib_q)`.
    * Constants are interpolated from the same Scala doubles the operator
    * uses (shortest round-trip repr parses back to the identical bits);
    * the idf ln() is floored to 1e-6 before use and per-term
    * contributions are integer-quantized before any per-document sum,
    * so the result is independent of float-add order on both engines.
    */
  private def bm25Ctes: String =
    s"""WITH dl AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |                 CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
       |  WHERE w IN ('spark','join','window') GROUP BY doc_id, w),
       |df AS (SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY w),
       |sc AS (
       |  SELECT tf.doc_id,
       |    floor(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0) * 1000000.0) / 1000000.0 AS idf,
       |    tf.tf, dl.dl, stats.avgdl
       |  FROM tf JOIN dl USING(doc_id) JOIN df USING(w) CROSS JOIN stats),
       |q AS (
       |  SELECT doc_id, CAST(floor(idf * (CAST(tf AS DOUBLE) * ${1.2 + 1.0}) /
       |    (CAST(tf AS DOUBLE) + ${1.2} * (${1.0 - 0.75} + ${0.75} * CAST(dl AS DOUBLE) / avgdl))
       |    * 1000000000.0) AS BIGINT) AS contrib_q
       |  FROM sc)""".stripMargin

  /** `name(doc_id, bg)`: each adjacent word pair of the docs in
    * `src(doc_id, ws)`, space-joined.
    */
  private def bigramsCte(name: String, src: String): String =
    s"""$name AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws)-1, 0)),
       |          i -> array_to_string(ws[i+1:i+2], ' '))) AS bg FROM $src)""".stripMargin

  /** The lmScore chain over `documents`, trained on itself: bigram and
    * unigram counts `c12`, `c1`, vocabulary size `v`, the add-one
    * contribution of each bigram `sc(doc_id, contrib_q)` and the
    * per-doc sums `agg(doc_id, n_bigrams, logprob_q)`.
    */
  private def lmScoreCtes: String =
    s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
       |${bigramsCte("bgs", "w")},
       |c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bgs GROUP BY bg),
       |uni AS (SELECT unnest(ws) AS w1 FROM w),
       |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w1),
       |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
       |sc AS (SELECT b.doc_id,
       |         CAST(floor(ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
       |       - CAST(floor(ln(CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS contrib_q
       |       FROM bgs b
       |       LEFT JOIN c12 ON b.bg = c12.bg
       |       LEFT JOIN c1 ON string_split(b.bg, ' ')[1] = c1.w1
       |       CROSS JOIN v),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |          CAST(sum(contrib_q) AS BIGINT) AS logprob_q FROM sc GROUP BY doc_id)""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("text_langid") { (s, dir) =>
      TextAnalysis.languageId(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("lang"), col("score_de"), col("score_en"),
          col("score_es"), col("score_fr"), col("predicted_lang"))
    } {
      """SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(text,' '), w -> w IN ('der','die','das','und','nicht'))) AS BIGINT) AS score_de,
        |  CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS score_en,
        |  CAST(len(list_filter(string_split(text,' '), w -> w IN ('el','la','de','y','que'))) AS BIGINT) AS score_es,
        |  CAST(len(list_filter(string_split(text,' '), w -> w IN ('le','la','et','les','des'))) AS BIGINT) AS score_fr,
        |  CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
        |       WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
        |       WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
        |       ELSE 'fr' END AS predicted_lang
        |FROM documents""".stripMargin
    },
    Gate("text_quality") { (s, dir) =>
      TextAnalysis.qualityScore(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_chars"), col("n_words"), col("mean_word_len"),
          col("stopword_ratio"), col("digit_ratio"), col("quality_ok"))
    } {
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_words,
        |    CAST(len(list_filter(string_split(text,' '), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS stop_hits,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS n_digits
        |  FROM documents)
        |SELECT doc_id, n_chars, n_words,
        |  CASE WHEN n_words > 0 THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0 END AS mean_word_len,
        |  CASE WHEN n_words > 0 THEN CAST(stop_hits AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0 END AS stopword_ratio,
        |  CASE WHEN n_chars > 0 THEN CAST(n_digits AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS digit_ratio,
        |  (n_words >= 5 AND
        |   (CASE WHEN n_words > 0 THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0 END) >= 2.0 AND
        |   (CASE WHEN n_words > 0 THEN CAST(n_chars - (n_words - 1) AS DOUBLE) / CAST(n_words AS DOUBLE) ELSE 0.0 END) <= 12.0 AND
        |   (CASE WHEN n_chars > 0 THEN CAST(n_digits AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END) <= 0.3) AS quality_ok
        |FROM q""".stripMargin
    },
    // Flesch reading ease + FK grade: exact integer sentence/word/
    // vowel-run counts, fixed double expression trees
    Gate("text_readability") { (s, dir) =>
      TextAnalysis.readability(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("n_sentences"), col("n_words"),
          col("n_syllables"), col("flesch"), col("fk_grade"))
    } {
      // Flesch / FK: identical counting contracts (terminal-punct runs,
      // non-empty tokens, vowel-group runs + vowel-less-word floor)
      """WITH c AS (
        |  SELECT doc_id,
        |    greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT)) AS n_sentences,
        |    CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+', 0))
        |      + len(list_filter(string_split(text, ' '),
        |          w -> length(w) > 0 AND length(regexp_replace(lower(w), '[aeiouy]', '', 'g')) = length(w)))
        |      AS BIGINT) AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_sentences, n_words, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |            - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
        |  ELSE 0.0 END AS flesch,
        |  CASE WHEN n_words > 0 THEN
        |    0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)) - 15.59
        |  ELSE 0.0 END AS fk_grade
        |FROM c""".stripMargin
    },
    Gate("token_count") { (s, dir) =>
      TextAnalysis.tokenCount(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"))
    } {
      """SELECT doc_id,
        |  CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS BIGINT) AS bpe_tokens
        |FROM documents""".stripMargin
    },
    Gate("doc_fingerprint") { (s, dir) =>
      TextAnalysis.fingerprint(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("doc_id"), col("md5_fp"), col("min_word_fp"))
    } {
      """SELECT doc_id, md5(text) AS md5_fp,
        |  array_to_string(list_sort(list_distinct(
        |    list_transform(string_split(text,' '), w -> substring(md5(w),1,8))))[1:4], '-') AS min_word_fp
        |FROM documents""".stripMargin
    },
    Gate("text_repetition") { (s, dir) =>
      TextAnalysis.repetitionMetrics(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // gram hashes run the same md5-prefix arithmetic as the engine, so a
      // collision (if one ever occurred) would merge the same counts on
      // both sides; fractions are exact integer divisions (IEEE-identical)
      s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         |g AS (
         |  SELECT doc_id, n, ${h60Sql("g")} AS h FROM (
         |    SELECT doc_id, 2 AS n, unnest(list_transform(range(0, greatest(len(ws)-1, 0)),
         |      i -> array_to_string(ws[i+1:i+2], ' '))) AS g FROM w
         |    UNION ALL
         |    SELECT doc_id, 3 AS n, unnest(list_transform(range(0, greatest(len(ws)-2, 0)),
         |      i -> array_to_string(ws[i+1:i+3], ' '))) AS g FROM w
         |    UNION ALL
         |    SELECT doc_id, 4 AS n, unnest(list_transform(range(0, greatest(len(ws)-3, 0)),
         |      i -> array_to_string(ws[i+1:i+4], ' '))) AS g FROM w
         |    UNION ALL
         |    SELECT doc_id, 5 AS n, unnest(list_transform(range(0, greatest(len(ws)-4, 0)),
         |      i -> array_to_string(ws[i+1:i+5], ' '))) AS g FROM w)),
         |c AS (SELECT doc_id, n, h, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY doc_id, n, h),
         |a AS (SELECT doc_id, n, max(cnt) AS max_cnt, sum(cnt) AS tot,
         |        coalesce(sum(cnt) FILTER (WHERE cnt > 1), 0) AS dup
         |      FROM c GROUP BY doc_id, n),
         |nw AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_words FROM documents)
         |SELECT nw.doc_id, nw.n_words,
         |  coalesce(CAST(max(CASE WHEN n = 2 THEN max_cnt * 2 END) AS DOUBLE)
         |           / CAST(nw.n_words AS DOUBLE), 0.0) AS top2gram_frac,
         |  coalesce(CAST(max(CASE WHEN n = 3 THEN max_cnt * 3 END) AS DOUBLE)
         |           / CAST(nw.n_words AS DOUBLE), 0.0) AS top3gram_frac,
         |  coalesce(CAST(max(CASE WHEN n = 4 THEN max_cnt * 4 END) AS DOUBLE)
         |           / CAST(nw.n_words AS DOUBLE), 0.0) AS top4gram_frac,
         |  coalesce(CAST(max(CASE WHEN n = 5 THEN dup END) AS DOUBLE)
         |           / CAST(max(CASE WHEN n = 5 THEN tot END) AS DOUBLE), 0.0) AS dup5gram_frac,
         |  (top2gram_frac <= 0.20 AND top3gram_frac <= 0.18 AND top4gram_frac <= 0.16
         |   AND dup5gram_frac <= 0.15) AS repetition_ok
         |FROM nw LEFT JOIN a ON nw.doc_id = a.doc_id
         |GROUP BY nw.doc_id, nw.n_words""".stripMargin
    },
    Gate("lm_score") { (s, dir) =>
      // self-scored corpus: the documents table is its own LM train set
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.lmScore(docs, docs)
    } {
      s"""$lmScoreCtes
         |SELECT d.doc_id, coalesce(agg.n_bigrams, 0) AS n_bigrams,
         |  coalesce(agg.logprob_q, 0) AS logprob_q
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
    },
    Gate("min_k_prob") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.minKProb(docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50),
        kPercent = 20)
    } {
      s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         |tr AS (SELECT * FROM w WHERE doc_id >= 50),
         |pr AS (SELECT * FROM w WHERE doc_id < 50),
         |bgt AS (SELECT unnest(list_transform(range(0, greatest(len(ws)-1, 0)),
         |          i -> array_to_string(ws[i+1:i+2], ' '))) AS bg FROM tr),
         |c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bgt GROUP BY bg),
         |uni AS (SELECT unnest(ws) AS w1 FROM tr),
         |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w1),
         |v AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1),
         |${bigramsCte("bgp", "pr")},
         |sc AS (SELECT b.doc_id, b.bg,
         |         CAST(floor(ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         |       - CAST(floor(ln(CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)) * 1e6) AS BIGINT) AS contrib_q
         |       FROM bgp b
         |       LEFT JOIN c12 ON b.bg = c12.bg
         |       LEFT JOIN c1 ON string_split(b.bg, ' ')[1] = c1.w1
         |       CROSS JOIN v),
         |rk AS (SELECT doc_id, bg, contrib_q,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY contrib_q, bg) AS rk,
         |         count(*) OVER (PARTITION BY doc_id) AS n
         |       FROM sc),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lowk,
         |          CAST(sum(contrib_q) AS BIGINT) AS sum_lowk_q
         |        FROM rk WHERE rk <= greatest(1, n * 20 // 100) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(agg.n_lowk, 0) AS n_lowk,
         |  coalesce(agg.sum_lowk_q, 0) AS sum_lowk_q
         |FROM (SELECT doc_id FROM documents WHERE doc_id < 50) d
         |LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
    },
    Gate("lm_buckets") { (s, dir) =>
      // CCNet head/middle/tail strata, self-trained like lm_score
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.lmBuckets(docs, docs, buckets = 3)
    } {
      // ntile over (avg double-division of two longs DESC, doc_id): IEEE
      // division is correctly rounded, so the rank — and the bucket — is
      // engine-exact; zero-bigram docs take the -1e18 sentinel (tail).
      s"""$lmScoreCtes,
         |sc2 AS (SELECT d.doc_id, d.lang, coalesce(agg.n_bigrams, 0) AS n_bigrams,
         |          coalesce(agg.logprob_q, 0) AS logprob_q
         |        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
         |r AS (SELECT *, CASE WHEN n_bigrams > 0
         |          THEN CAST(logprob_q AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
         |          ELSE -1e18 END AS avgq FROM sc2),
         |n AS (SELECT doc_id, lang, n_bigrams, logprob_q,
         |        ntile(3) OVER (PARTITION BY lang ORDER BY avgq DESC, doc_id) AS nt FROM r)
         |SELECT doc_id, lang, n_bigrams, logprob_q,
         |  CASE WHEN nt = 1 THEN 'head' WHEN nt = 3 THEN 'tail' ELSE 'middle' END AS ppl_bucket
         |FROM n""".stripMargin
    },
    Gate("moore_lewis") { (s, dir) =>
      // in-domain = the English slice (the dsir gates' target convention)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.mooreLewisSelection(docs, docs.filter(col("lang") === "en"), topK = 100)
    } {
      // Moore–Lewis cross-entropy-difference selection: two lmScore
      // chains (in-domain = en slice, general = whole corpus), rank by
      // the IEEE division delta_q/n_bigrams desc then doc_id, top 100
      s"""WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         |${bigramsCte("bgs", "w")},
         |c12g AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bgs GROUP BY bg),
         |c1g AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM (SELECT unnest(ws) AS w1 FROM w) GROUP BY w1),
         |vg AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1g),
         |wi AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents WHERE lang = 'en'),
         |${bigramsCte("bgsi", "wi")},
         |c12i AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM bgsi GROUP BY bg),
         |c1i AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM (SELECT unnest(ws) AS w1 FROM wi) GROUP BY w1),
         |vi AS (SELECT CAST(count(*) AS BIGINT) AS v FROM c1i),
         |scg AS (SELECT b.doc_id,
         |         CAST(floor(ln(CAST(coalesce(g.c12, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         |       - CAST(floor(ln(CAST(coalesce(u.c1, 0) + vg.v AS DOUBLE)) * 1e6) AS BIGINT) AS contrib_q
         |       FROM bgs b LEFT JOIN c12g g ON b.bg = g.bg
         |       LEFT JOIN c1g u ON string_split(b.bg, ' ')[1] = u.w1 CROSS JOIN vg),
         |sci AS (SELECT b.doc_id,
         |         CAST(floor(ln(CAST(coalesce(g.c12, 0) + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         |       - CAST(floor(ln(CAST(coalesce(u.c1, 0) + vi.v AS DOUBLE)) * 1e6) AS BIGINT) AS contrib_q
         |       FROM bgs b LEFT JOIN c12i g ON b.bg = g.bg
         |       LEFT JOIN c1i u ON string_split(b.bg, ' ')[1] = u.w1 CROSS JOIN vi),
         |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |         CAST(sum(contrib_q) AS BIGINT) AS lq FROM scg GROUP BY doc_id),
         |ai AS (SELECT doc_id, CAST(sum(contrib_q) AS BIGINT) AS lq FROM sci GROUP BY doc_id),
         |sel AS (SELECT ag.doc_id, ag.n_bigrams, ai.lq - ag.lq AS delta_q,
         |          CAST(ai.lq - ag.lq AS DOUBLE) / CAST(ag.n_bigrams AS DOUBLE) AS score
         |        FROM ag JOIN ai ON ag.doc_id = ai.doc_id WHERE ag.n_bigrams > 0),
         |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM sel)
         |SELECT doc_id, n_bigrams, delta_q, CAST(rank AS BIGINT) AS rank, score
         |FROM r WHERE rank <= 100""".stripMargin
    },
    Gate("perplexity_ablation") { (s, dir) =>
      // threshold grid brackets the corpus's mean-logprob quantiles
      // (sf0.01 p10..p90 ≈ −3.44e6..−3.36e6) so the kept share sweeps
      // from ~all to ~none across sources
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.perplexityAblation(docs, docs,
        thresholdsMq = Seq(-3450000L, -3430000L, -3410000L, -3390000L, -3370000L))
    } {
      // per-source perplexity-filter ablation: keep iff mean per-bigram
      // logprob >= t_mq, tested as the integer cross-multiply
      // logprob_q >= t_mq * n_bigrams (no division, no floor divergence)
      s"""$lmScoreCtes,
         |scored AS (
         |  SELECT d.doc_id, d.source,
         |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tok,
         |         coalesce(agg.n_bigrams, 0) AS nb, coalesce(agg.logprob_q, 0) AS lq
         |  FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id),
         |thr AS (SELECT CAST(t AS BIGINT) AS t_mq FROM (VALUES (-3450000), (-3430000),
         |          (-3410000), (-3390000), (-3370000)) tv(t))
         |SELECT s.source, thr.t_mq,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN s.nb > 0 AND s.lq >= thr.t_mq * s.nb THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(s.tok) AS BIGINT) AS tokens_total,
         |  CAST(sum(CASE WHEN s.nb > 0 AND s.lq >= thr.t_mq * s.nb THEN s.tok ELSE 0 END) AS BIGINT) AS tokens_kept,
         |  CAST(sum(CASE WHEN s.nb > 0 AND s.lq >= thr.t_mq * s.nb THEN s.tok ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(s.tok) AS DOUBLE) AS token_share
         |FROM scored s CROSS JOIN thr
         |GROUP BY 1, 2""".stripMargin
    },
    Gate("vocab_drift") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.vocabDrift(docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
    } {
      s"""WITH ca AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_a
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents WHERE doc_id < 250)
         |  GROUP BY word),
         |cb AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_b
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents WHERE doc_id >= 250)
         |  GROUP BY word),
         |j AS (
         |  SELECT COALESCE(ca.word, cb.word) AS word,
         |         COALESCE(ca.n_a, 0) AS n_a, COALESCE(cb.n_b, 0) AS n_b
         |  FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
         |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS tot_a, CAST(sum(n_b) AS BIGINT) AS tot_b,
         |             CAST(count(*) AS BIGINT) AS v FROM j),
         |sc AS (
         |  SELECT word, n_a, n_b,
         |      (CAST(floor(ln(CAST(n_a + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         |       - CAST(floor(ln(CAST(t.tot_a + t.v AS DOUBLE)) * 1e6) AS BIGINT))
         |    - (CAST(floor(ln(CAST(n_b + 1 AS DOUBLE)) * 1e6) AS BIGINT)
         |       - CAST(floor(ln(CAST(t.tot_b + t.v AS DOUBLE)) * 1e6) AS BIGINT)) AS logratio_q
         |  FROM j, t)
         |SELECT word, n_a, n_b, logratio_q FROM sc
         |ORDER BY abs(logratio_q) DESC, word LIMIT 50""".stripMargin
    },
    // the corpus text is clean ASCII, so a dirty column is derived
    // deterministically: decomposed combining sequences (NFC targets),
    // control bytes, and runs of mixed whitespace — mirrored exactly in
    // the oracle SQL (normDirtyPrefix/Suffix interpolate into BOTH)
    Gate("text_normalize") { (s, dir) =>
      val aug = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("aug_text", concat(
          lit(normDirtyPrefix), col("text"), lit(normDirtySuffix)))
      TextAnalysis.normalizeText(aug, "aug_text")
        .select(col("doc_id"), col("text_norm"), col("n_chars_raw"),
          col("n_chars_norm"), col("changed"))
    } {
      // the normalization contract is a Unicode standard (UAX #15), not a
      // library behavior: DuckDB's utf8proc and the JDK produce the same
      // NFC, so the full output TEXT is part of the hash surface
      s"""WITH aug AS (
         |  SELECT doc_id, '$normDirtyPrefix' || text || '$normDirtySuffix' AS aug_text
         |  FROM documents),
         |n AS (
         |  SELECT doc_id, aug_text,
         |    trim(regexp_replace(regexp_replace(nfc_normalize(aug_text),
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         |      '[ \\t\\n\\r]+', ' ', 'g')) AS text_norm
         |  FROM aug)
         |SELECT doc_id, text_norm, CAST(length(aug_text) AS BIGINT) AS n_chars_raw,
         |  CAST(length(text_norm) AS BIGINT) AS n_chars_norm,
         |  text_norm <> aug_text AS changed
         |FROM n""".stripMargin
    },
    // the corpus carries no URLs, so one is derived deterministically
    // from (doc_id, source) — userinfo, mixed-case subdomain, port and
    // query variants all exercised; mirrored exactly in the oracle SQL
    Gate("url_features") { (s, dir) =>
      TextAnalysis.urlFeatures(withSyntheticUrl(s.read.parquet(s"$dir/documents.parquet")))
        .select(col("doc_id"), col("host"), col("path_depth"), col("has_query"))
    } {
      s"""WITH aug AS (
         |  SELECT doc_id, $urlSyntheticSql AS url
         |  FROM documents),
         |f AS (
         |  $urlFeaturesSql)
         |SELECT doc_id, host, path_depth, has_query FROM f""".stripMargin
    },
    Gate("url_canonicalize") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet").withColumn("url", concat(
        lit("HTTPS://"),
        when(col("doc_id") % 3 === 0, lit("user:pw@")).otherwise(lit("")),
        lit("Sub"), (col("doc_id") % 4).cast("string"), lit("."),
        col("source"), lit(".Example.COM"),
        when(col("doc_id") % 5 === 0, lit(":443"))
          .otherwise(when(col("doc_id") % 5 === 1, lit(":8443")).otherwise(lit(""))),
        lit("/a//b"),
        when(col("doc_id") % 2 === 0, lit("/c/")).otherwise(lit("/c")),
        when(col("doc_id") % 7 === 0, lit("?z=1&utm_source=t&a=2"))
          .otherwise(when(col("doc_id") % 7 === 1, lit("?fbclid=x")).otherwise(lit(""))),
        when(col("doc_id") % 3 === 1, lit("#frag")).otherwise(lit(""))))
      TextAnalysis.urlCanonicalize(docs).select(col("doc_id"), col("canon_url"))
    } {
      """WITH u0 AS (
        |  SELECT doc_id,
        |    'HTTPS://' || CASE WHEN doc_id % 3 = 0 THEN 'user:pw@' ELSE '' END ||
        |    'Sub' || CAST(doc_id % 4 AS VARCHAR) || '.' || source || '.Example.COM' ||
        |    CASE WHEN doc_id % 5 = 0 THEN ':443' WHEN doc_id % 5 = 1 THEN ':8443' ELSE '' END ||
        |    '/a//b' || CASE WHEN doc_id % 2 = 0 THEN '/c/' ELSE '/c' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN '?z=1&utm_source=t&a=2'
        |         WHEN doc_id % 7 = 1 THEN '?fbclid=x' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 1 THEN '#frag' ELSE '' END AS url
        |  FROM documents),
        |u1 AS (SELECT doc_id, regexp_extract(url, '^([^#]*)', 1) AS url FROM u0),
        |c AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        |    regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', '') AS hostport,
        |    regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/{2,}', '/') AS sq,
        |    regexp_extract(url, '\?(.*)$', 1) AS query
        |  FROM u1),
        |e AS (
        |  SELECT doc_id, scheme,
        |    regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |    lower(regexp_replace(hostport, ':[0-9]+$', '')) AS host,
        |    CASE WHEN length(sq) > 1 AND sq LIKE '%/' THEN substring(sq, 1, length(sq) - 1) ELSE sq END AS path,
        |    list_sort(list_filter(string_split(query, '&'),
        |      p -> p <> '' AND NOT starts_with(p, 'utm_')
        |           AND NOT starts_with(p, 'fbclid=') AND NOT starts_with(p, 'gclid='))) AS params
        |  FROM c)
        |SELECT doc_id,
        |  scheme || '://' || host ||
        |  CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |            AND NOT (scheme = 'https' AND port = '443')
        |       THEN ':' || port ELSE '' END ||
        |  path ||
        |  CASE WHEN len(params) = 0 THEN '' ELSE '?' || array_to_string(params, '&') END AS canon_url
        |FROM e""".stripMargin
    },
    Gate("langid_mismatch") { (s, dir) =>
      TextAnalysis.langidMismatch(s.read.parquet(s"$dir/documents.parquet"))
    } {
      s"""${langIdCtes("source, lang")}
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN predicted_lang <> lang THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  CAST(sum(CASE WHEN predicted_lang <> lang THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS mismatch_rate
        |FROM p GROUP BY source""".stripMargin
    },
    Gate("url_hostcap") { (s, dir) =>
      val f = TextAnalysis.urlFeatures(withSyntheticUrl(s.read.parquet(s"$dir/documents.parquet")))
      CorpusOps.capPerHost(f, maxPerHost = 20)
        .select(col("doc_id"), col("host"), col("host_rank"))
    } {
      s"""WITH aug AS (
         |  SELECT doc_id, $urlSyntheticSql AS url
         |  FROM documents),
         |f AS (
         |  $urlFeaturesSql),
         |r AS (
         |  SELECT doc_id, host,
         |    CAST(row_number() OVER (PARTITION BY host
         |      ORDER BY ${h60Sql("'hostcap:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS BIGINT) AS host_rank
         |  FROM f)
         |SELECT doc_id, host, host_rank FROM r WHERE host_rank <= 20""".stripMargin
    },
    // the corpus is single-line, so a multi-line page is synthesized
    // deterministically: the original text plus a short line, a clean
    // sentence, a javascript line, and (for doc_id % 7 == 0) a lorem
    // ipsum line — every C4 rule fires somewhere in the gate
    Gate("c4_line_filter") { (s, dir) =>
      val aug = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("page", concat(
          col("text"), when(col("doc_id") % 2 === 0, lit(".")).otherwise(lit("")),
          lit("\ntiny line.\nThis clean sentence carries plenty of words to keep."),
          lit("\nenable javascript to view this page properly today."),
          when(col("doc_id") % 7 === 0, lit("\nLorem ipsum dolor sit amet sample filler text here."))
            .otherwise(lit(""))))
      TextAnalysis.c4LineFilter(aug, minWords = 5, minKeptLines = 2, textCol = "page")
        .select(col("doc_id"), col("text_clean"), col("n_lines"), col("n_lines_kept"), col("c4_ok"))
    } {
      // C4 line rules as pure string arithmetic: the same synthesized page,
      // list_filter with the identical keep predicate, rejoined by chr(10)
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END ||
         |    chr(10) || 'tiny line.' ||
         |    chr(10) || 'This clean sentence carries plenty of words to keep.' ||
         |    chr(10) || 'enable javascript to view this page properly today.' ||
         |    CASE WHEN doc_id % 7 = 0
         |         THEN chr(10) || 'Lorem ipsum dolor sit amet sample filler text here.'
         |         ELSE '' END AS page
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, page, string_split(page, chr(10)) AS lines,
         |    list_filter(string_split(page, chr(10)), x ->
         |      right(trim(x), 1) IN ('.', '!', '?', '"')
         |      AND len(list_filter(string_split(x, ' '), w -> len(w) > 0)) >= 5
         |      AND NOT contains(lower(x), 'javascript')) AS kept
         |  FROM aug)
         |SELECT doc_id,
         |  array_to_string(kept, chr(10)) AS text_clean,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_lines_kept,
         |  len(kept) >= 2 AND NOT contains(lower(page), 'lorem ipsum')
         |    AND NOT contains(page, '{') AS c4_ok
         |FROM k""".stripMargin
    },
    // Gopher A1 rules over a page with deterministically injected bullet
    // lines (%3), an ellipsis teaser (%5), and hash symbols (%4); word
    // bounds 25..80 split the corpus's 10..99 word range both ways
    Gate("gopher_rules") { (s, dir) =>
      val aug = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("page", concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\n- a bullet line\n- another bullet line")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\nteaser to read more...")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(" ## ## # #")).otherwise(lit(""))))
      TextAnalysis.gopherRules(aug, minWords = 25L, maxWords = 80L, textCol = "page")
        .select(col("doc_id"), col("n_words"), col("word_chars"), col("n_symbols"),
          col("n_lines"), col("n_bullet_lines"), col("n_ellipsis_lines"), col("gopher_ok"))
    } {
      // Gopher rules: identical synthesized page, identical integer
      // cross-multiplied decisions — the float ratio never exists
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || CASE WHEN doc_id % 3 = 0
         |             THEN chr(10) || '- a bullet line' || chr(10) || '- another bullet line'
         |             ELSE '' END
         |         || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'teaser to read more...' ELSE '' END
         |         || CASE WHEN doc_id % 4 = 0 THEN ' ## ## # #' ELSE '' END AS page
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, page,
         |    list_filter(string_split(page, ' '), w -> len(w) > 0) AS words,
         |    string_split(page, chr(10)) AS lines
         |  FROM aug),
         |c AS (
         |  SELECT doc_id,
         |    CAST(len(words) AS BIGINT) AS n_words,
         |    CAST(coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS BIGINT) AS word_chars,
         |    CAST(len(page) - len(replace(page, '#', '')) AS BIGINT)
         |      + CAST((len(page) - len(replace(page, '...', ''))) // 3 AS BIGINT) AS n_symbols,
         |    CAST(len(lines) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(lines, l ->
         |      starts_with(trim(l), '-') OR starts_with(trim(l), '*'))) AS BIGINT) AS n_bullet_lines,
         |    CAST(len(list_filter(lines, l -> right(trim(l), 3) = '...')) AS BIGINT) AS n_ellipsis_lines
         |  FROM m)
         |SELECT doc_id, n_words, word_chars, n_symbols, n_lines, n_bullet_lines, n_ellipsis_lines,
         |  n_words >= 25 AND n_words <= 80 AND 3 * n_words <= word_chars
         |  AND word_chars <= 10 * n_words AND 10 * n_symbols <= n_words
         |  AND 10 * n_bullet_lines <= 9 * n_lines
         |  AND 10 * n_ellipsis_lines <= 3 * n_lines AS gopher_ok
         |FROM c""".stripMargin
    },
    Gate("pii_redact") { (s, dir) =>
      // the corpus carries no PII, so a PII-bearing column is derived
      // deterministically from (doc_id, text) — integer arithmetic only,
      // mirrored exactly in the oracle SQL
      val aug = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("pii_text", concat(
          lit("contact u"), col("doc_id").cast("string"),
          lit("@ex"), (col("doc_id") % 10).cast("string"),
          lit(".com or call "), (col("doc_id") % 900 + 100).cast("string"),
          lit("-"), (col("doc_id") * 7 % 800 + 200).cast("string"),
          lit("-"), (col("doc_id") * 13 % 9000 + 1000).cast("string"),
          lit(" ip 10."), (col("doc_id") % 256).cast("string"),
          lit(".0."), (col("doc_id") * 3 % 256).cast("string"),
          lit(" "), col("text")))
      TextAnalysis.redactPii(aug, "pii_text")
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"), col("redacted"))
    } {
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    'contact u' || CAST(doc_id AS VARCHAR) || '@ex' || CAST(doc_id % 10 AS VARCHAR) ||
         |    '.com or call ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-' ||
         |    CAST(doc_id * 7 % 800 + 200 AS VARCHAR) || '-' ||
         |    CAST(doc_id * 13 % 9000 + 1000 AS VARCHAR) ||
         |    ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |    CAST(doc_id * 3 % 256 AS VARCHAR) || ' ' || text AS pii_text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(pii_text, '${TextAnalysis.emailRe}')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(pii_text, '${TextAnalysis.phoneRe}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(pii_text, '${TextAnalysis.ipRe}')) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(pii_text,
         |    '${TextAnalysis.emailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.phoneRe}', '<PHONE>', 'g'),
         |    '${TextAnalysis.ipRe}', '<IP>', 'g') AS redacted
         |FROM aug""".stripMargin
    },
    Gate("bm25_topk") { (s, dir) =>
      TextAnalysis.bm25(s.read.parquet(s"$dir/documents.parquet"),
        terms = Seq("spark", "join", "window"), topK = 25)
    } {
      s"""$bm25Ctes
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit, CAST(sum(contrib_q) AS BIGINT) AS score_q
         |FROM q GROUP BY doc_id ORDER BY score_q DESC, doc_id LIMIT 25""".stripMargin
    },
    // hybrid retrieval: BM25 lexical + brute-force-cosine semantic lists
    // fused by reciprocal rank (doc_id and vec_id share the 0..N id
    // space by construction of the driver's tables)
    Gate("hybrid_rrf") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val lex = TextAnalysis.bm25(docs, terms = Seq("spark", "join", "window"), topK = 50)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("score_q").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("rank"))
      val sem = Ann.bruteForceTopK(emb.filter(col("vec_id") === 7), emb, k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Ann.rrfFuse(Seq(lex, sem), k0 = 60, topK = 25)
    } {
      // bm25 chain (top 50) + brute-force cosine chain (probe 7, top 50)
      // fused by integer reciprocal rank — // truncates positives exactly
      // like Spark's div, so the fused score never touches a float
      s"""$bm25Ctes,
         |lexs AS (
         |  SELECT doc_id, sum(contrib_q) AS score_q
         |  FROM q GROUP BY doc_id ORDER BY score_q DESC, doc_id LIMIT 50),
         |lex AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score_q DESC, doc_id) AS rank FROM lexs),
         |probes AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 7),
         |scored AS (
         |  SELECT c.vec_id AS doc_id,
         |    $probeCosineSql AS cosine
         |  FROM embeddings c, probes p WHERE p.vec_id != c.vec_id),
         |sem AS (
         |  SELECT doc_id, rank FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank FROM scored)
         |  WHERE rank <= 50),
         |contrib AS (
         |  SELECT doc_id, 1000000000000 // (rank + 60) AS c FROM lex
         |  UNION ALL
         |  SELECT doc_id, 1000000000000 // (rank + 60) AS c FROM sem),
         |f AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists, CAST(sum(c) AS BIGINT) AS rrf_q
         |  FROM contrib GROUP BY doc_id ORDER BY rrf_q DESC, doc_id LIMIT 25)
         |SELECT doc_id, n_lists, rrf_q,
         |       CAST(row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS BIGINT) AS rank
         |FROM f""".stripMargin
    },
    // Gopher duplicate-line/paragraph rules over a page with
    // deterministically injected duplicate structure: a footer line
    // repeated twice (three times for %3), and the document's own text
    // recurring as a second paragraph for even ids
    Gate("gopher_dup_segments") { (s, dir) =>
      val aug = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("page", concat(
          col("text"), lit("\n\n"),
          lit("footer line\nfooter line"),
          when(col("doc_id") % 3 === 0, lit("\nfooter line")).otherwise(lit("")),
          lit("\n\n"),
          when(col("doc_id") % 2 === 0, col("text"))
            .otherwise(concat(lit("unique tail "), col("doc_id").cast("string")))))
      TextAnalysis.duplicateSegmentMetrics(aug, textCol = "page")
    } {
      // page synthesis mirrored from the Spark query; dup slots/chars are
      // total − distinct for both granularities (a segment repeated k
      // times contributes k−1 slots and (k−1)·len chars)
      """WITH pages AS (
        |  SELECT doc_id,
        |    text || chr(10) || chr(10) ||
        |    'footer line' || chr(10) || 'footer line' ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'footer line' ELSE '' END ||
        |    chr(10) || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN text ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END
        |    AS page
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    list_filter(string_split(page, chr(10)), s -> len(s) > 0) AS lns,
        |    list_filter(string_split(page, chr(10) || chr(10)), s -> len(s) > 0) AS prs
        |  FROM pages),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(lns) AS BIGINT) AS n_lines,
        |    CAST(len(lns) - len(list_distinct(lns)) AS BIGINT) AS n_dup_lines,
        |    CAST(coalesce(list_sum(list_transform(lns, s -> len(s))), 0) AS BIGINT) AS line_chars,
        |    CAST(coalesce(list_sum(list_transform(lns, s -> len(s))), 0)
        |       - coalesce(list_sum(list_transform(list_distinct(lns), s -> len(s))), 0) AS BIGINT) AS dup_line_chars,
        |    CAST(len(prs) AS BIGINT) AS n_paras,
        |    CAST(len(prs) - len(list_distinct(prs)) AS BIGINT) AS n_dup_paras,
        |    CAST(coalesce(list_sum(list_transform(prs, s -> len(s))), 0) AS BIGINT) AS para_chars,
        |    CAST(coalesce(list_sum(list_transform(prs, s -> len(s))), 0)
        |       - coalesce(list_sum(list_transform(list_distinct(prs), s -> len(s))), 0) AS BIGINT) AS dup_para_chars
        |  FROM m)
        |SELECT doc_id, n_lines, n_dup_lines, line_chars, dup_line_chars,
        |  n_paras, n_dup_paras, para_chars, dup_para_chars,
        |  CASE WHEN n_lines > 0 THEN CAST(n_dup_lines AS DOUBLE) / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS dup_line_frac,
        |  CASE WHEN n_paras > 0 THEN CAST(n_dup_paras AS DOUBLE) / CAST(n_paras AS DOUBLE) ELSE 0.0 END AS dup_para_frac,
        |  CASE WHEN line_chars > 0 THEN CAST(dup_line_chars AS DOUBLE) / CAST(line_chars AS DOUBLE) ELSE 0.0 END AS dup_line_char_frac,
        |  CASE WHEN para_chars > 0 THEN CAST(dup_para_chars AS DOUBLE) / CAST(para_chars AS DOUBLE) ELSE 0.0 END AS dup_para_char_frac,
        |  (n_dup_lines * 10 <= n_lines * 3 AND n_dup_paras * 10 <= n_paras * 3
        |   AND dup_line_chars * 5 <= line_chars AND dup_para_chars * 5 <= para_chars) AS dup_ok
        |FROM c""".stripMargin
    },
    Gate("text_lz_density") { (s, dir) =>
      TextAnalysis.lzDensity(s.read.parquet(s"$dir/documents.parquet"), maxChars = 120)
    } {
      // LZ76 parse of the 120-char document prefix as a recursive CTE —
      // the same one-phrase-per-step recursion as lz_complexity, over raw
      // characters instead of location symbols
      """WITH RECURSIVE seqs AS (
        |  SELECT doc_id, substring(text, 1, 120) AS seq FROM documents WHERE len(text) > 0),
        |lz(doc_id, seq, n, p, c) AS (
        |  SELECT doc_id, seq, length(seq), 1, 0 FROM seqs
        |  UNION ALL
        |  SELECT doc_id, seq, n, p + least(coalesce(mm, 0) + 1, n - p + 1), c + 1
        |  FROM (
        |    SELECT doc_id, seq, n, p, c,
        |           list_max(list_filter(range(1, n - p + 2),
        |             L -> strpos(substring(seq, 1, CAST(p + L - 2 AS INT)),
        |                         substring(seq, CAST(p AS INT), CAST(L AS INT))) > 0)) AS mm
        |    FROM lz WHERE p <= n))
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_scanned, CAST(c AS BIGINT) AS n_phrases,
        |       CAST(c * 1000000 // n AS BIGINT) AS lz_q
        |FROM lz WHERE p > n""".stripMargin
    },
    Gate("text_entropy") { (s, dir) =>
      TextAnalysis.charEntropy(s.read.parquet(s"$dir/documents.parquet"), maxChars = 200)
    } {
      // char-level Shannon entropy under the quantized-ln contract: the
      // numerator n·lnq(n) − Σ c·lnq(c) is an exact long; one final division
      """WITH cs AS (
        |  SELECT doc_id, string_split(substring(text, 1, 200), '') AS ch,
        |         CAST(least(len(text), 200) AS BIGINT) AS n_chars
        |  FROM documents WHERE len(text) > 0),
        |cnt AS (
        |  SELECT doc_id, n_chars,
        |         list_transform(list_distinct(ch),
        |           c -> CAST(len(list_filter(ch, x -> x = c)) AS BIGINT)) AS cnts
        |  FROM cs),
        |ag AS (
        |  SELECT doc_id, n_chars,
        |         n_chars * CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 1e6) AS BIGINT)
        |           - CAST(list_sum(list_transform(cnts,
        |               c -> c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))) AS BIGINT)
        |           AS entropy_num_q
        |  FROM cnt)
        |SELECT doc_id, n_chars, entropy_num_q,
        |       CAST(entropy_num_q AS DOUBLE)
        |         / (CAST(n_chars AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS entropy_nats
        |FROM ag""".stripMargin
    },
    Gate("zipf_fit") { (s, dir) =>
      TextAnalysis.zipfFit(s.read.parquet(s"$dir/documents.parquet"), topK = 50)
    } {
      // OLS of lnq(count) on lnq(rank) over the top-50 vocabulary — all five
      // sums exact longs; slope/intercept fixed double-expression trees
      s"""WITH w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
        |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word),
        |r AS (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rank FROM c),
        |xy AS (
        |  SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |         CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM r WHERE rank <= 50),
        |${olsFitSql("n_points", "slope", "intercept")}""".stripMargin
    },
    Gate("tfidf_topterms") { (s, dir) =>
      TextAnalysis.tfidfTopTerms(s.read.parquet(s"$dir/documents.parquet"), topK = 3)
    } {
      // tf · quantized-idf exact longs; per-doc top-3 with term-asc tie-break
      """WITH tf AS (
        |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY doc_id, w),
        |df AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.w, tf.tf, df.df,
        |         tf.tf * (CAST(floor(ln(CAST(nd.n_docs AS DOUBLE)) * 1e6) AS BIGINT)
        |                - CAST(floor(ln(CAST(df.df AS DOUBLE)) * 1e6) AS BIGINT)) AS score_q
        |  FROM tf JOIN df USING(w) CROSS JOIN nd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score_q DESC, w) AS rk
        |      FROM sc)
        |SELECT doc_id, w AS term, tf, df, score_q, CAST(rk AS BIGINT) AS rank
        |FROM r WHERE rk <= 3""".stripMargin
    },
    Gate("pmi_collocations") { (s, dir) =>
      TextAnalysis.pmiCollocations(s.read.parquet(s"$dir/documents.parquet"),
        minCount = 5, discount = 1, topK = 50)
    } {
      // word2phrase discounted PMI: lnq(c_ab−δ)+lnq(N)−lnq(c_a)−lnq(c_b)
      // exact longs; zero-shuffle adjacent pairs become 1-indexed list peeks
      """WITH t AS (
        |  SELECT list_filter(string_split(text,' '), w -> len(w) > 0) AS ws FROM documents),
        |uni AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(ws) AS w FROM t) GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_words FROM uni),
        |bi AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM (
        |    SELECT ws[i] AS w1, ws[i + 1] AS w2
        |    FROM t, LATERAL (SELECT unnest(range(1, len(ws))) AS i))
        |  GROUP BY w1, w2 HAVING count(*) >= 5 AND count(*) > 1)
        |SELECT w1, w2, c_ab, ca.c AS c_a, cb.c AS c_b,
        |       CAST(floor(ln(CAST(c_ab - 1 AS DOUBLE)) * 1e6) AS BIGINT)
        |       + CAST(floor(ln(CAST(tot.n_words AS DOUBLE)) * 1e6) AS BIGINT)
        |       - CAST(floor(ln(CAST(ca.c AS DOUBLE)) * 1e6) AS BIGINT)
        |       - CAST(floor(ln(CAST(cb.c AS DOUBLE)) * 1e6) AS BIGINT) AS score_q
        |FROM bi JOIN uni ca ON bi.w1 = ca.w JOIN uni cb ON bi.w2 = cb.w CROSS JOIN tot
        |ORDER BY score_q DESC, w1, w2 LIMIT 50""".stripMargin
    },
    Gate("template_affix") { (s, dir) =>
      TextAnalysis.templateAffix(s.read.parquet(s"$dir/documents.parquet"), cap = 120)
    } {
      // group-wide LCP/LCS from the lexicographic extremes; the monotone
      // prefix-equality count is identical string arithmetic on both sides
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |         min(text) AS mint, max(text) AS maxt,
        |         min(reverse(right(text, 120))) AS minr,
        |         max(reverse(right(text, 120))) AS maxr
        |  FROM documents GROUP BY source),
        |l AS (
        |  SELECT source, n_docs, mint,
        |    CAST(len(list_filter(range(1, least(least(len(mint), len(maxt)), 120) + 1),
        |        i -> substr(mint, 1, CAST(i AS INT)) = substr(maxt, 1, CAST(i AS INT)))) AS BIGINT) AS lcp_len,
        |    CAST(len(list_filter(range(1, least(least(len(minr), len(maxr)), 120) + 1),
        |        i -> substr(minr, 1, CAST(i AS INT)) = substr(maxr, 1, CAST(i AS INT)))) AS BIGINT) AS lcs_len
        |  FROM g)
        |SELECT source, n_docs, lcp_len, lcs_len,
        |       substr(mint, 1, CAST(lcp_len AS INT)) AS lcp
        |FROM l""".stripMargin
    },
    Gate("license_tag") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet").withColumn("lic_text",
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" Creative Commons Attribution"))
            .when(col("doc_id") % 5 === 1, lit(" Released under the MIT License"))
            .when(col("doc_id") % 5 === 2, lit(" All Rights Reserved."))
            .when(col("doc_id") % 5 === 3, lit(" Apache License 2.0 All Rights Reserved"))
            .otherwise(lit(""))))
      TextAnalysis.licenseTag(docs, "lic_text")
        .groupBy(col("license")).agg(count(lit(1)).cast("long").as("n_docs"))
    } {
      // first-match-wins license CASE over injected markers (priority
      // exercised by the apache+arr branch)
      """WITH aug AS (
        |  SELECT doc_id, lower(text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' Creative Commons Attribution'
        |         WHEN doc_id % 5 = 1 THEN ' Released under the MIT License'
        |         WHEN doc_id % 5 = 2 THEN ' All Rights Reserved.'
        |         WHEN doc_id % 5 = 3 THEN ' Apache License 2.0 All Rights Reserved'
        |         ELSE '' END) AS lt
        |  FROM documents),
        |t AS (
        |  SELECT CASE WHEN contains(lt, 'creative commons') THEN 'cc'
        |              WHEN contains(lt, 'mit license') THEN 'mit'
        |              WHEN contains(lt, 'apache license') THEN 'apache'
        |              WHEN contains(lt, 'general public license') THEN 'gpl'
        |              WHEN contains(lt, 'all rights reserved') THEN 'arr'
        |              ELSE 'none' END AS license
        |  FROM aug)
        |SELECT license, CAST(count(*) AS BIGINT) AS n_docs FROM t GROUP BY license""".stripMargin
    },
    Gate("ngram_diversity") { (s, dir) =>
      TextAnalysis.ngramDiversity(s.read.parquet(s"$dir/documents.parquet"), n = 3)
    } {
      s"""WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT source, ${h60Sql("g")} AS h FROM (
         |    SELECT source, unnest(list_transform(range(0, greatest(len(ws) - 2, 0)),
         |      i -> array_to_string(ws[i+1:i+3], ' '))) AS g FROM w))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
         |       CAST(count(DISTINCT h) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS diversity
         |FROM g GROUP BY source""".stripMargin
    },
    Gate("heaps_fit") { (s, dir) =>
      TextAnalysis.heapsFit(s.read.parquet(s"$dir/documents.parquet"), sampleEvery = 8L)
    } {
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |fo AS (
        |  SELECT min(doc_id) AS fd FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY word),
        |nv AS (SELECT fd // 8 AS bucket, CAST(count(*) AS BIGINT) AS nv FROM fo GROUP BY fd // 8),
        |tk AS (SELECT doc_id // 8 AS bucket, CAST(sum(len(ws)) AS BIGINT) AS nt FROM w GROUP BY doc_id // 8),
        |cum AS (
        |  SELECT tk.bucket,
        |         sum(coalesce(nv.nv, 0)) OVER (ORDER BY tk.bucket ROWS UNBOUNDED PRECEDING) AS v,
        |         sum(tk.nt) OVER (ORDER BY tk.bucket ROWS UNBOUNDED PRECEDING) AS n
        |  FROM tk LEFT JOIN nv ON tk.bucket = nv.bucket),
        |xy AS (
        |  SELECT CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS x,
        |         CAST(floor(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) AS y
        |  FROM cum),
        |${wideOlsFitSql("n_points", "beta", "log_k")}""".stripMargin
    },
    Gate("length_histogram") { (s, dir) =>
      TextAnalysis.lengthHistogram(s.read.parquet(s"$dir/documents.parquet"))
    } {
      """WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents)
        |SELECT source, CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
        |       CAST(CAST(1 AS BIGINT) << CAST(length(bin(n)) - 1 AS INT) AS BIGINT) AS bucket_lo
        |FROM t GROUP BY source, length(bin(n)) - 1""".stripMargin
    },
    Gate("boilerplate_share") { (s, dir) =>
      TextAnalysis.boilerplateShare(s.read.parquet(s"$dir/documents.parquet"), n = 2, minDocs = 5)
    } {
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT doc_id, source, ${h60Sql("g")} AS h FROM (
         |    SELECT doc_id, source, unnest(list_transform(range(0, greatest(len(ws) - 1, 0)),
         |      i -> array_to_string(ws[i+1:i+2], ' '))) AS g FROM w)),
         |b AS (
         |  SELECT source, h FROM (
         |    SELECT source, h, count(DISTINCT doc_id) AS nd FROM g GROUP BY source, h)
         |  WHERE nd >= 5)
         |SELECT g.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_grams,
         |       CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |       CAST(sum(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS boiler_share
         |FROM g LEFT JOIN b ON g.source = b.source AND g.h = b.h
         |GROUP BY g.doc_id""".stripMargin
    },
    Gate("oov_rate") { (s, dir) =>
      TextAnalysis.oovRate(s.read.parquet(s"$dir/documents.parquet"), vocabSize = 50)
    } { TextAnalysis.oovRateSql(vocabSize = 50) },
    Gate("vocab_topk") { (s, dir) =>
      TextAnalysis.buildVocab(s.read.parquet(s"$dir/documents.parquet"), topK = 50)
    } {
      """WITH w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
        |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c),
        |r AS (SELECT word, n,
        |        row_number() OVER (ORDER BY n DESC, word) AS rank,
        |        CAST(sum(n) OVER (ORDER BY n DESC, word ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum
        |      FROM c)
        |SELECT CAST(rank AS BIGINT) AS rank, word, n, cum / t.total AS cum_frac
        |FROM r, t WHERE rank <= 50""".stripMargin
    },
    Gate("hll_distinct") { (s, dir) =>
      Hll.distinctTokens(s.read.parquet(s"$dir/documents.parquet"))
    } { Hll.distinctTokensSql() },
    Gate("cms_word_counts") { (s, dir) =>
      TextAnalysis.cmsWordCounts(s.read.parquet(s"$dir/documents.parquet"),
        probes = Seq("join", "scan", "customer", "zzz_absent"), depth = 3, width = 1024)
    } {
      {
        val (depth, width) = (3, 1024)
        def posSql(b: String, i: Int) = { val (a, c) = affine(i); s"((($b) * $a + $c) % $M) % $width" }
        val rowSelects = (0 until depth)
          .map(i => s"SELECT $i AS i, ${posSql("b", i)} AS p FROM tb").mkString("\n  UNION ALL ")
        val probeSelects = (0 until depth)
          .map(i => s"SELECT word, $i AS i, ${posSql("b", i)} AS p FROM pb").mkString("\n  UNION ALL ")
        s"""WITH w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
           |tb AS (SELECT ${h60Sql("word")} % $M AS b FROM w),
           |r AS (
           |  $rowSelects),
           |s AS (SELECT i, p, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY i, p),
           |pr AS (SELECT unnest(['join','scan','customer','zzz_absent']) AS word),
           |pb AS (SELECT word, ${h60Sql("word")} % $M AS b FROM pr),
           |pp AS (
           |  $probeSelects)
           |SELECT word, CAST(min(coalesce(c, 0)) AS BIGINT) AS est_n
           |FROM pp LEFT JOIN s USING (i, p)
           |GROUP BY word""".stripMargin
      }
    },
    Gate("heavy_hitters") { (s, dir) =>
      TextAnalysis.heavyHitters(s.read.parquet(s"$dir/documents.parquet"),
        minCount = 500L, depth = 3, width = 1024)
    } {
      // CMS candidate filter: est(word) is a pure function of the word, so
      // the per-token gate reduces to a per-word predicate; est never
      // undershoots, so (est >= t AND n >= t) == (n >= t).
      {
        val (depth, width, minCount) = (3, 1024, 500L)
        def posSql(b: String, i: Int) = { val (a, c) = affine(i); s"((($b) * $a + $c) % $M) % $width" }
        val rowSelects = (0 until depth)
          .map(i => s"SELECT $i AS i, ${posSql("b", i)} AS p FROM tb").mkString("\n  UNION ALL ")
        val wordSelects = (0 until depth)
          .map(i => s"SELECT word, n, $i AS i, ${posSql("b", i)} AS p FROM wb").mkString("\n  UNION ALL ")
        s"""WITH w AS (SELECT unnest(string_split(text,' ')) AS word FROM documents),
           |tb AS (SELECT ${h60Sql("word")} % $M AS b FROM w),
           |r AS (
           |  $rowSelects),
           |s AS (SELECT i, p, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY i, p),
           |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY word),
           |wb AS (SELECT word, n, ${h60Sql("word")} % $M AS b FROM c),
           |pp AS (
           |  $wordSelects),
           |est AS (SELECT word, first(n) AS n, CAST(min(coalesce(s.c, 0)) AS BIGINT) AS est
           |        FROM pp LEFT JOIN s USING (i, p) GROUP BY word)
           |SELECT word, n FROM est WHERE est >= $minCount AND n >= $minCount""".stripMargin
      }
    },
    Gate("word_entropy") { (s, dir) =>
      TextAnalysis.wordEntropy(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // corpus-level quantized-ln word entropy per source
      """WITH wc AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE len(w) > 0 GROUP BY source, w),
        |m AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sq
        |  FROM wc GROUP BY source)
        |SELECT source, n_tokens, n_types,
        |  n_tokens * CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) - sq AS entropy_num_q,
        |  CAST(n_tokens * CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) - sq AS DOUBLE)
        |    / (CAST(n_tokens AS DOUBLE) * 1000000.0) AS entropy_nats
        |FROM m""".stripMargin
    },
    Gate("good_turing") { (s, dir) =>
      TextAnalysis.goodTuring(s.read.parquet(s"$dir/documents.parquet"))
    } { TextAnalysis.goodTuringSql() },
    // interpolated Kneser-Ney bigram held-out scoring per source —
    // exact rational probabilities on the quantized-ln grid
    Gate("kn_score") { (s, dir) =>
      TextAnalysis.knScore(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // Kneser-Ney: train on doc_id % 4 != 0, score the held-out rest;
      // num/den per the rational D=3/4 formulation, HUGEINT products
      """WITH t AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split(text, ' '), w -> len(w) > 0) AS ws
        |  FROM documents),
        |tb AS (
        |  SELECT ws[i] AS w1, ws[i + 1] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  WHERE doc_id % 4 != 0),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM tb GROUP BY w1, w2),
        |lf AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |              CAST(count(*) AS BIGINT) AS n1f FROM bi GROUP BY w1),
        |ct AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b FROM bi GROUP BY w2),
        |dd AS (SELECT CAST(count(*) AS HUGEINT) AS d2 FROM bi),
        |hb AS (
        |  SELECT source, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  WHERE doc_id % 4 = 0),
        |sc AS (
        |  SELECT hb.source,
        |    CASE WHEN lf.c1 IS NOT NULL THEN
        |      CAST(greatest(4 * coalesce(bi.c12, 0) - 3, 0) AS HUGEINT) * dd.d2
        |        + 3::HUGEINT * lf.n1f * coalesce(ct.n1b, 0)
        |    ELSE CAST(coalesce(ct.n1b, 0) AS HUGEINT) END AS num,
        |    CASE WHEN lf.c1 IS NOT NULL THEN 4::HUGEINT * lf.c1 * dd.d2
        |    ELSE greatest(dd.d2, 1::HUGEINT) END AS den
        |  FROM hb LEFT JOIN bi ON hb.w1 = bi.w1 AND hb.w2 = bi.w2
        |          LEFT JOIN lf ON hb.w1 = lf.w1
        |          LEFT JOIN ct ON hb.w2 = ct.w2
        |          CROSS JOIN dd)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(CAST(floor(ln(CAST(den AS DOUBLE)) * 1e6) AS BIGINT)
        |         - CAST(floor(ln(CAST(greatest(num, 1::HUGEINT) AS DOUBLE)) * 1e6) AS BIGINT))
        |       AS BIGINT) AS nll_q,
        |  CAST(sum(CASE WHEN num = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(sum(CAST(floor(ln(CAST(den AS DOUBLE)) * 1e6) AS BIGINT)
        |         - CAST(floor(ln(CAST(greatest(num, 1::HUGEINT) AS DOUBLE)) * 1e6) AS BIGINT))
        |       AS DOUBLE) / (CAST(count(*) AS DOUBLE) * 1e6) AS nll_nats
        |FROM sc GROUP BY source""".stripMargin
    },
    Gate("term_burstiness") { (s, dir) =>
      TextAnalysis.termBurstiness(s.read.parquet(s"$dir/documents.parquet"), topK = 50)
    } {
      // Church-Gale cf/df burstiness for the top-50 corpus terms
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |cf AS (SELECT word, CAST(count(*) AS BIGINT) AS cf FROM w GROUP BY word),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df
        |       FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY word),
        |top AS (
        |  SELECT cf.word, cf.cf, df.df,
        |         row_number() OVER (ORDER BY cf.cf DESC, cf.word) AS rank
        |  FROM cf JOIN df USING (word))
        |SELECT CAST(rank AS BIGINT) AS rank, word, cf, df,
        |       CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness
        |FROM top WHERE rank <= 50""".stripMargin
    },
    Gate("lang_confusion") { (s, dir) =>
      TextAnalysis.langConfusion(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // declared-vs-detected confusion cells (same langid CTEs as the
      // rate monitor)
      s"""${langIdCtes("lang")}
        |SELECT lang AS declared, predicted_lang AS detected,
        |       CAST(count(*) AS BIGINT) AS n_docs
        |FROM p GROUP BY lang, predicted_lang""".stripMargin
    },
    Gate("token_fertility") { (s, dir) =>
      TextAnalysis.tokenFertility(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // tokenizer fertility: exact-long sums, one final division
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS BIGINT) AS bpe
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(ws) AS BIGINT) AS sum_ws, CAST(sum(bpe) AS BIGINT) AS sum_bpe,
        |       CAST(sum(bpe) AS DOUBLE) / CAST(sum(ws) AS DOUBLE) AS fertility
        |FROM t GROUP BY lang""".stripMargin
    },
    // blocklist mixes present corpus words with an absent probe so both
    // filter outcomes fire
    Gate("badwords_filter") { (s, dir) =>
      TextAnalysis.badwordsFilter(s.read.parquet(s"$dir/documents.parquet"),
        Seq("slow", "crash", "zzz_absent"))
        .select(col("doc_id"), col("n_badwords"), col("kept"))
    } {
      // C4 blocklist decision — distinct-set intersection in both engines
      """SELECT doc_id,
        |  CAST(len(list_intersect(string_split(text,' '), ['slow','crash','zzz_absent'])) AS BIGINT) AS n_badwords,
        |  len(list_intersect(string_split(text,' '), ['slow','crash','zzz_absent'])) = 0 AS kept
        |FROM documents""".stripMargin
    },
    // joint filter-ablation matrix over a page column augmented with the
    // same deterministic decorations the per-filter gates use (terminal
    // period %2, bullets %3, hashes %4, ellipsis teaser %5, lorem %7, and
    // one always-clean sentence) so every filter fires both ways; the
    // five decisions are the composed library filters over ONE scan
    Gate("filter_ablation") { (s, dir) =>
      val aug = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("page", concat(
          col("text"),
          when(col("doc_id") % 2 === 0, lit(".")).otherwise(lit("")),
          when(col("doc_id") % 3 === 0,
            lit("\n- a bullet line\n- another bullet line")).otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(" ## ## # #")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("\nteaser to read more...")).otherwise(lit("")),
          lit("\nThis clean sentence carries plenty of words to keep."),
          when(col("doc_id") % 7 === 0, lit("\nLorem ipsum dolor sit amet sample filler text here."))
            .otherwise(lit(""))))
      TextAnalysis.filterAblation(aug, Seq("slow", "crash", "zzz_absent"),
        c4MinWords = 5, c4MinKeptLines = 2, gopherMinWords = 25L, gopherMaxWords = 80L,
        textCol = "page")
    } {
      // joint filter-ablation matrix: the five composed filter decisions
      // re-derived over the identical augmented page, collapsed to the
      // decision-combination table (word mass = gopher's filtered count)
      """WITH aug AS (
        |  SELECT doc_id, lang,
        |    text
        |    || CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END
        |    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- a bullet line' || chr(10) || '- another bullet line' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN ' ## ## # #' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'teaser to read more...' ELSE '' END
        |    || chr(10) || 'This clean sentence carries plenty of words to keep.'
        |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Lorem ipsum dolor sit amet sample filler text here.' ELSE '' END AS page
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, page,
        |    string_split(page, ' ') AS rawwords,
        |    list_filter(string_split(page, ' '), w -> len(w) > 0) AS words,
        |    string_split(page, chr(10)) AS lines
        |  FROM aug),
        |sc AS (
        |  SELECT *,
        |    len(list_filter(rawwords, w -> w IN ('der','die','das','und','nicht'))) AS score_de,
        |    len(list_filter(rawwords, w -> w IN ('the','a','of','and','to'))) AS score_en,
        |    len(list_filter(rawwords, w -> w IN ('el','la','de','y','que'))) AS score_es,
        |    len(list_filter(rawwords, w -> w IN ('le','la','et','les','des'))) AS score_fr
        |  FROM m),
        |fl AS (
        |  SELECT doc_id,
        |    (len(list_filter(lines, x ->
        |        right(trim(x), 1) IN ('.', '!', '?', '"')
        |        AND len(list_filter(string_split(x, ' '), w -> len(w) > 0)) >= 5
        |        AND NOT contains(lower(x), 'javascript'))) >= 2
        |      AND NOT contains(lower(page), 'lorem ipsum')
        |      AND NOT contains(page, '{')) AS c4_ok,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS BIGINT) AS word_chars,
        |    CAST(len(page) - len(replace(page, '#', '')) AS BIGINT)
        |      + CAST((len(page) - len(replace(page, '...', ''))) // 3 AS BIGINT) AS n_symbols,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*'))) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(lines, l -> right(trim(l), 3) = '...')) AS BIGINT) AS n_ellipsis_lines,
        |    CAST(length(page) AS BIGINT) AS q_chars,
        |    CAST(len(rawwords) AS BIGINT) AS q_words,
        |    CAST(length(page) - length(regexp_replace(page, '[0-9]', '', 'g')) AS BIGINT) AS n_digits,
        |    len(list_intersect(rawwords, ['slow','crash','zzz_absent'])) = 0 AS badwords_ok,
        |    (CASE WHEN score_de = greatest(score_de, score_en, score_es, score_fr) THEN 'de'
        |          WHEN score_en = greatest(score_de, score_en, score_es, score_fr) THEN 'en'
        |          WHEN score_es = greatest(score_de, score_en, score_es, score_fr) THEN 'es'
        |          ELSE 'fr' END) = lang AS lang_ok
        |  FROM sc),
        |d AS (
        |  SELECT doc_id, c4_ok,
        |    (n_words >= 25 AND n_words <= 80 AND 3 * n_words <= word_chars
        |     AND word_chars <= 10 * n_words AND 10 * n_symbols <= n_words
        |     AND 10 * n_bullet_lines <= 9 * n_lines
        |     AND 10 * n_ellipsis_lines <= 3 * n_lines) AS gopher_ok,
        |    (q_words >= 5 AND
        |     (CASE WHEN q_words > 0 THEN CAST(q_chars - (q_words - 1) AS DOUBLE) / CAST(q_words AS DOUBLE) ELSE 0.0 END) >= 2.0 AND
        |     (CASE WHEN q_words > 0 THEN CAST(q_chars - (q_words - 1) AS DOUBLE) / CAST(q_words AS DOUBLE) ELSE 0.0 END) <= 12.0 AND
        |     (CASE WHEN q_chars > 0 THEN CAST(n_digits AS DOUBLE) / CAST(q_chars AS DOUBLE) ELSE 0.0 END) <= 0.3) AS quality_ok,
        |    badwords_ok, lang_ok, n_words
        |  FROM fl)
        |SELECT c4_ok, gopher_ok, quality_ok, badwords_ok, lang_ok,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS sum_words
        |FROM d GROUP BY 1, 2, 3, 4, 5""".stripMargin
    }
  )
}
