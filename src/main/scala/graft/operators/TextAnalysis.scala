package graft.operators

import graft.functions.PortableHash
import graft.functions.GeoFunctions.{dq, lnq}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language id, quality
  * scoring, token counting, fingerprinting. Pure Catalyst expressions —
  * these run in the scan stage at 100 TB with no shuffle at all.
  */
object TextAnalysis {

  /** Tiny per-language marker dictionaries (n-gram/stopword heuristic). */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "nicht"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  private def markerHits(words: Column, markers: Seq[String]): Column =
    size(filter(words, w => markers.foldLeft(lit(false))((acc, m) => acc || (w === m))))

  /** Language-id scores + argmax prediction (ties: language name order). */
  def languageId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), " ")
    val scored = langMarkers.toSeq.sortBy(_._1).foldLeft(docs) { case (d, (lang, markers)) =>
      d.withColumn(s"score_$lang", markerHits(words, markers).cast("long"))
    }
    val langs = langMarkers.keys.toSeq.sorted
    val best = langs.tail.foldLeft((col(s"score_${langs.head}"), lit(langs.head))) {
      case ((bestScore, bestLang), l) =>
        val s = col(s"score_$l")
        (when(s > bestScore, s).otherwise(bestScore),
          when(s > bestScore, lit(l)).otherwise(bestLang))
    }
    scored.withColumn("predicted_lang", best._2)
  }

  /** Quality heuristics: length, word stats, stopword/punct/digit ratios.
    * All divisions guarded; ratios in [0,1].
    */
  def qualityScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = split(t, " ")
    val nWords = size(words).cast("long")
    val nChars = length(t).cast("long")
    val stopHits = markerHits(words, langMarkers("en"))
    docs
      .withColumn("n_chars", nChars)
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        when(nWords > 0, (nChars - (nWords - 1)).cast("double") / nWords.cast("double")).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(nWords > 0, stopHits.cast("double") / nWords.cast("double")).otherwise(lit(0.0)))
      .withColumn("digit_ratio",
        when(nChars > 0,
          (nChars - length(regexp_replace(t, "[0-9]", ""))).cast("double") / nChars.cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("quality_ok",
        col("n_words") >= 5 && col("mean_word_len") >= 2.0 && col("mean_word_len") <= 12.0 &&
          col("digit_ratio") <= 0.3)
  }

  /** Flesch reading-ease / Flesch–Kincaid grade card (Kincaid et al.
    * 1975) — the classic readability prior quality-classifier ensembles
    * still carry. Counting contracts are pure string arithmetic so both
    * engines agree bit-for-bit:
    *  - sentences = max(1, runs of `[.!?]+`);
    *  - words = non-empty whitespace tokens;
    *  - syllables = vowel-group runs (`[aeiouy]+`, casefolded; runs
    *    cannot span the space separator so the text-level count equals
    *    the per-word sum) plus one per vowel-less word (the standard
    *    max(1, runs) per-word floor).
    * The two scores are fixed double expression trees over those exact
    * integers — IEEE-identical. Scan-stage column arithmetic only: no
    * explode, no shuffle beyond whatever the caller adds.
    *
    * @return input + (n_sentences, n_words, n_syllables, flesch,
    *         fk_grade); zero-word docs read flesch 0 / grade 0
    */
  def readability(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = filter(split(t, " "), w => length(w) > 0)
    val nWords = size(words).cast("long")
    val nSent = greatest(lit(1L),
      size(expr(s"regexp_extract_all($textCol, '[.!?]+', 0)")).cast("long"))
    val vowelRuns = size(expr(s"regexp_extract_all(lower($textCol), '[aeiouy]+', 0)")).cast("long")
    val zeroVowelWords = size(filter(words,
      w => length(regexp_replace(lower(w), "[aeiouy]", "")) === length(w))).cast("long")
    val nSyl = (vowelRuns + zeroVowelWords).cast("long")
    val wps = nWords.cast("double") / nSent.cast("double")
    val spw = nSyl.cast("double") / nWords.cast("double")
    docs
      .withColumn("n_sentences", nSent)
      .withColumn("n_words", nWords)
      .withColumn("n_syllables", nSyl)
      .withColumn("flesch",
        when(nWords > 0, lit(206.835) - lit(1.015) * wps - lit(84.6) * spw)
          .otherwise(lit(0.0)))
      .withColumn("fk_grade",
        when(nWords > 0, lit(0.39) * wps + lit(11.8) * spw - lit(15.59))
          .otherwise(lit(0.0)))
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning", §2.2): keep only lines that end in
    * terminal punctuation (`.` `!` `?` `"` after trimming), carry at
    * least `minWords` whitespace words, and do not mention "javascript"
    * (case-insensitive); flag the page as `c4_ok` when at least
    * `minKeptLines` lines survive and the page contains neither "lorem
    * ipsum" (case-insensitive) nor a curly brace. The kept lines are
    * rejoined with a newline as `text_clean`.
    *
    * The "sentence" unit is the newline-delimited line (the common
    * large-scale simplification of the paper's sentence rules — exact
    * sentence splitting needs a language model and is not
    * engine-portable; this contract is pure string arithmetic, so the
    * oracle reproduces it bit-for-bit). Everything runs as higher-order
    * `filter`/`size` over the line array in the scan stage: no explode,
    * no shuffle.
    *
    * @return input columns + (text_clean, n_lines, n_lines_kept, c4_ok)
    */
  def c4LineFilter(docs: DataFrame, minWords: Int = 5, minKeptLines: Int = 3,
                   textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val keepLine = (l: Column) => {
      val nWords = size(filter(split(l, " "), w => length(w) > 0))
      substring(trim(l), -1, 1).isin(".", "!", "?", "\"") &&
        nWords >= minWords && !lower(l).contains("javascript")
    }
    val kept = filter(lines, keepLine)
    docs
      .withColumn("text_clean", array_join(kept, "\n"))
      .withColumn("n_lines", size(lines).cast("long"))
      .withColumn("n_lines_kept", size(kept).cast("long"))
      .withColumn("c4_ok",
        size(kept) >= minKeptLines &&
          !lower(t).contains("lorem ipsum") && !t.contains("{"))
  }

  /** Gopher document-level quality rules (Rae et al. 2021, "Scaling
    * Language Models", table A1) as INTEGER-EXACT decisions: word count
    * within [minWords, maxWords]; mean word length in [3, 10] checked by
    * cross-multiplication (`3·n ≤ Σlen ≤ 10·n` — no float ratio ever
    * materializes, so an external engine reproduces every boundary
    * decision); symbol-to-word ratio ≤ 0.1 for `#` and `...` combined
    * (`10·(n_hash + n_ellipsis) ≤ n_words`); at most 90% of lines
    * starting with a bullet (`10·n_bullet ≤ 9·n_lines`) and at most 30%
    * ending in an ellipsis (`10·n_ell_lines ≤ 3·n_lines`). Words are
    * single-space splits and lines newline splits (the repo-wide
    * convention); `...` counts leftmost non-overlapping occurrences (the
    * `replace` semantics both engines share).
    *
    * Everything is higher-order array arithmetic in the scan stage — no
    * explode, no shuffle.
    *
    * @return input columns + (n_words, word_chars, n_symbols, n_lines,
    *         n_bullet_lines, n_ellipsis_lines, gopher_ok)
    */
  def gopherRules(docs: DataFrame, minWords: Long = 50L, maxWords: Long = 100000L,
                  textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val words = filter(split(t, " "), w => length(w) > 0)
    val nWords = size(words).cast("long")
    val wordChars = aggregate(transform(words, w => length(w).cast("long")), lit(0L), _ + _)
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nEllipsis = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long")
    val lines = split(t, "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, l =>
      trim(l).startsWith("-") || trim(l).startsWith("*"))).cast("long")
    val nEllLines = size(filter(lines, l => trim(l).endsWith("..."))).cast("long")
    docs
      .withColumn("n_words", nWords)
      .withColumn("word_chars", wordChars)
      .withColumn("n_symbols", nHash + nEllipsis)
      .withColumn("n_lines", nLines)
      .withColumn("n_bullet_lines", nBullet)
      .withColumn("n_ellipsis_lines", nEllLines)
      .withColumn("gopher_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
          lit(3L) * col("n_words") <= col("word_chars") &&
          col("word_chars") <= lit(10L) * col("n_words") &&
          lit(10L) * col("n_symbols") <= col("n_words") &&
          lit(10L) * col("n_bullet_lines") <= lit(9L) * col("n_lines") &&
          lit(10L) * col("n_ellipsis_lines") <= lit(3L) * col("n_lines"))
  }

  /** Token counts: whitespace tokens and a BPE-ish regex tokenization
    * (letter runs / digit runs / single non-space symbols).
    */
  def tokenCount(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("ws_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(col(textCol), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("long"))

  /** Tokenizer fertility per group — BPE-ish tokens per whitespace word,
    * the standard "how expensive is this language/source under the
    * tokenizer" diagnostic that drives mixture and budget decisions
    * (fertility far above ~1.3 on a language usually means the vocabulary
    * underserves it). Sums are exact longs; `fertility` is one final
    * division of exact integers (IEEE-identical across engines).
    *
    * Scale shape: [[tokenCount]]'s counters are scan-stage; the
    * aggregation is one map-side-combinable groupBy over |groups| rows.
    */
  def tokenFertility(docs: DataFrame, groupCol: String = "lang",
                     textCol: String = "text"): DataFrame =
    tokenCount(docs, textCol)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("sum_ws"),
        sum(col("bpe_tokens")).as("sum_bpe"))
      .withColumn("fertility", col("sum_bpe").cast("double") / col("sum_ws").cast("double"))

  /** Per-language tokenizer-compression ratio card over a TRAINED
    * tokenizer (the multilingual-fairness diagnostic of Petrov et al.
    * 2023 "Language Model Tokenizers Introduce Unfairness Between
    * Languages"): one global BPE merge table, per-language tokens per
    * 100 characters — languages the tokenizer compresses badly pay more
    * sequence length for the same text. Complements [[tokenFertility]]
    * (regex-proxy tokens per whitespace word) with the real learned-
    * merge encoder ([[bpeEncode]]).
    *
    * Exactness: integer sums (chars, words, trained-BPE tokens) per
    * language; the two ratios are one IEEE division each at the end.
    *
    * Scale shape: one broadcast-merge-table encode scan (bpeEncode's
    * memoized per-partition fold), one doc_id equi-join, one bounded
    * (≤ #languages rows) groupBy. No extra shuffles beyond the encode.
    *
    * @param enc the [[bpeEncode]] output (doc_id, n_words, n_bpe_tokens)
    * @return (lang, n_docs, sum_chars, sum_words, sum_bpe_tokens,
    *         bpe_per_100_chars, chars_per_bpe_token)
    */
  def tokenizerCompressionCard(docs: DataFrame, enc: DataFrame,
                               idCol: String = "doc_id", textCol: String = "text",
                               langCol: String = "lang"): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
        length(col(textCol)).cast("long").as("_chars"))
      .join(enc.select(col("doc_id"), col("n_words"), col("n_bpe_tokens")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("_chars")).cast("long").as("sum_chars"),
        sum(col("n_words")).cast("long").as("sum_words"),
        sum(col("n_bpe_tokens")).cast("long").as("sum_bpe_tokens"))
      .withColumn("bpe_per_100_chars",
        lit(100.0) * col("sum_bpe_tokens").cast("double") / col("sum_chars").cast("double"))
      .withColumn("chars_per_bpe_token",
        col("sum_chars").cast("double") / col("sum_bpe_tokens").cast("double"))

  /** C4-style blocklist filter (Raffel et al. 2020 drop pages containing
    * any "bad word"): per document, the number of DISTINCT blocklist
    * words present and the keep decision. Distinct-set semantics
    * (`array_intersect`) make the count order- and multiplicity-free —
    * identical in any engine.
    *
    * Scale shape: the blocklist is a plan literal (real lists are
    * 100s–1000s of words — well under broadcast size) and the
    * intersection is scan-stage; NO shuffle, every column passes through.
    */
  def badwordsFilter(docs: DataFrame, blocklist: Seq[String],
                     textCol: String = "text"): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist — nothing to filter")
    docs
      .withColumn("n_badwords",
        size(array_intersect(split(col(textCol), " "), typedLit(blocklist))).cast("long"))
      .withColumn("kept", col("n_badwords") === 0L)
  }

  /** Joint quality-filter ablation matrix — the "filter Venn" planning
    * card a curation pipeline publishes before committing to a recipe
    * (cf. Penedo et al. 2023, RefinedWeb §4; Longpre et al. 2023, "A
    * Pretrainer's Guide"): every document is scored by ALL admission
    * filters in one pass — [[c4LineFilter]] line rules, [[gopherRules]]
    * A1 rules, the [[qualityScore]] heuristics, the [[badwordsFilter]]
    * blocklist, and declared-vs-detected language agreement
    * ([[languageId]]) — then collapsed to the ≤2⁵-row decision-
    * combination table with document and word mass per cell. Marginal
    * removal rates, every pairwise overlap, and the "uniquely removed
    * by filter X" share all read directly off the matrix; running the
    * filters one at a time costs five corpus scans and still never
    * yields the joint distribution.
    *
    * Scale shape: the five decisions are the audited library filters
    * themselves COMPOSED over one read of the corpus — all scan-stage
    * column arithmetic (higher-order array ops, no UDF, no explode), so
    * the only shuffle is the final map-side-combinable groupBy onto at
    * most 32 rows. At 100 TB this is one pass over the documents table.
    */
  def filterAblation(docs: DataFrame, blocklist: Seq[String],
                     c4MinWords: Int = 5, c4MinKeptLines: Int = 3,
                     gopherMinWords: Long = 50L, gopherMaxWords: Long = 100000L,
                     textCol: String = "text", langCol: String = "lang"): DataFrame = {
    val flagged = badwordsFilter(
      gopherRules(
        c4LineFilter(
          qualityScore(languageId(docs, textCol), textCol),
          c4MinWords, c4MinKeptLines, textCol),
        gopherMinWords, gopherMaxWords, textCol),
      blocklist, textCol)
    flagged
      .withColumn("lang_ok", col("predicted_lang") === col(langCol))
      .groupBy(col("c4_ok"), col("gopher_ok"), col("quality_ok"),
        col("kept").as("badwords_ok"), col("lang_ok"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("sum_words"))
  }

  /** All word n-grams with multiplicity, as one codegen'd scan-stage pass
    * ([[graft.plans.WordNgrams]] — the repetition twin of the distinct
    * shingle kernel used by the sketches).
    */
  def ngrams(textCol: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.WordNgrams(ColumnShim.expression(textCol), n))
  }

  /** Gopher-style repetition metrics (Rae et al. 2021, "Scaling Language
    * Models", table A1): per document, the fraction of words covered by
    * the single most frequent word n-gram for n ∈ `topNs` (counting
    * overlapped positions, `max_count * n / n_words`), and the fraction
    * of n-gram positions lying in *duplicated* n-grams for n = `dupN`.
    * `repetition_ok` applies the published thresholds (0.20/0.18/0.16
    * for top-2/3/4-gram, 0.15 for duplicate 5-grams).
    *
    * Scale shape: grams are generated in the scan stage (codegen kernel),
    * immediately reduced to 8-byte portable hashes, and aggregated with
    * map-side combine on (doc, n, gram-hash); nothing wider than a hash
    * ever shuffles, and both aggregations key on the document id, so a
    * 100 TB corpus distributes on document boundaries. A gram-hash
    * collision (p ≈ 2⁻⁶⁰ per distinct-gram pair within one document)
    * would merge two gram counts; the oracle runs the identical hash
    * arithmetic, so results stay engine-exact regardless.
    *
    * All emitted fractions are exact-integer divisions (IEEE-identical
    * across engines); no transcendental functions are involved.
    */
  def repetitionMetrics(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
                        topNs: Seq[Int] = Seq(2, 3, 4), dupN: Int = 5): DataFrame = {
    val ns = (topNs :+ dupN).distinct.sorted
    val grams = ns.map { n =>
      docs.select(col(idCol).as("doc_id"), lit(n).as("n"),
        explode(ngrams(col(textCol), n)).as("_g"))
    }.reduce(_.unionAll(_))
      .select(col("doc_id"), col("n"), PortableHash.h60(col("_g")).as("_h"))
    val perGram = grams.groupBy(col("doc_id"), col("n"), col("_h"))
      .agg(count(lit(1)).as("cnt"))
    val perN = perGram.groupBy(col("doc_id"), col("n")).agg(
      max(col("cnt")).as("max_cnt"),
      sum(col("cnt")).as("tot"),
      coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)).as("dup_cnt"))
    val topCols = topNs.map(n =>
      max(when(col("n") === n, col("max_cnt") * n)).as(s"_top$n"))
    val dupCols = Seq(
      max(when(col("n") === dupN, col("dup_cnt"))).as("_dup"),
      max(when(col("n") === dupN, col("tot"))).as("_tot"))
    val aggCols = topCols ++ dupCols
    val wide = perN.groupBy(col("doc_id")).agg(aggCols.head, aggCols.tail: _*)
    val nWords = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("n_words"))
    val fracCols = topNs.map(n =>
      coalesce(col(s"_top$n").cast("double") / col("n_words").cast("double"), lit(0.0))
        .as(s"top${n}gram_frac"))
    val dupFrac = coalesce(col("_dup").cast("double") / col("_tot").cast("double"), lit(0.0))
      .as(s"dup${dupN}gram_frac")
    val okCond = topNs.zip(Seq(0.20, 0.18, 0.16)).map { case (n, t) =>
      col(s"top${n}gram_frac") <= t
    }.reduce(_ && _) && col(s"dup${dupN}gram_frac") <= 0.15
    nWords.join(wide, Seq("doc_id"), "left")
      .select(col("doc_id") +: col("n_words") +: fracCols :+ dupFrac: _*)
      .withColumn("repetition_ok", okCond)
  }

  /** LZ76 compression density — the engine-portable twin of the zlib
    * compression-ratio quality filter (Dolma/RedPajama use gzip ratio;
    * zlib isn't available to a SQL oracle, an LZ76 parse is): documents
    * whose prefix parses into few phrases per character are templated or
    * repetitive. Runs the codegen'd [[graft.plans.Lz76PhraseCount]] over
    * the first `maxChars` characters — pure scan stage, no shuffle, and
    * per-row cost is bounded by the `maxChars` plan constant regardless of
    * document length (at 100 TB the parse happens where the text is read
    * and only the three small output columns move further).
    *
    * `lz_q` = phrases·10⁶ div chars-scanned (integer division, both
    * engines truncate positive values identically — no float ratio).
    * Low lz_q = repetitive. Random text parses at roughly
    * n/log(n) phrases; natural text sits well below.
    *
    * @return (doc_id, n_chars_scanned, n_phrases, lz_q)
    */
  def lzDensity(docs: DataFrame, maxChars: Int = 120,
                textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val phrases = ColumnShim.column(
      graft.plans.Lz76PhraseCount(ColumnShim.expression(col(textCol)), maxChars))
    docs
      .select(col(idCol).as("doc_id"),
        least(length(col(textCol)), lit(maxChars)).cast("long").as("n_chars_scanned"),
        phrases.as("n_phrases"))
      .filter(col("n_chars_scanned") > 0)
      // `div`, not `/`: Column./ is double true-division in Spark
      .withColumn("lz_q", expr("n_phrases * 1000000L div n_chars_scanned"))
  }

  /** Gopher duplicate-line / duplicate-paragraph filters (Rae et al.
    * 2021, table A1 — the repetition rules [[repetitionMetrics]] does NOT
    * cover): per document, the fraction of line (paragraph) slots
    * occupied by repeats beyond each first occurrence, and the fraction
    * of line (paragraph) characters in those repeat slots. Paragraphs
    * split on a blank line, lines on '\n'; empty segments are ignored.
    * `dup_ok` applies the published thresholds (0.30 for the count
    * fractions, 0.20 for the character fractions).
    *
    * Scale shape: pure scan-stage higher-order array arithmetic — split,
    * array_distinct, and two aggregates per granularity; NO shuffle, no
    * explode, nothing leaves the scan. A repeated segment contributes
    * (count−1) slots and (count−1)·len chars, which is exactly
    * total − distinct for both measures, so no per-segment counting pass
    * is needed. Decisions are integer cross-multiplied (the float ratio
    * never exists); emitted fractions are single exact-integer divisions
    * (IEEE-identical across engines).
    */
  def duplicateSegmentMetrics(docs: DataFrame, textCol: String = "text",
                              idCol: String = "doc_id"): DataFrame = {
    def segs(sep: String) = filter(split(col(textCol), sep), s => length(s) > 0)
    def chars(a: Column) = aggregate(a, lit(0L), (acc, s) => acc + length(s).cast("long"))
    def metrics(sep: String, tag: String): Seq[(String, Column)] = {
      val a = segs(sep)
      val d = array_distinct(a)
      Seq(
        s"n_${tag}s" -> size(a).cast("long"),
        s"n_dup_${tag}s" -> (size(a) - size(d)).cast("long"),
        s"${tag}_chars" -> chars(a),
        s"dup_${tag}_chars" -> (chars(a) - chars(d)))
    }
    val cols = metrics("\n", "line") ++ metrics("\n\n", "para")
    val out = cols.foldLeft(docs.select(col(idCol).as("doc_id"), col(textCol))) {
      case (df, (n, c)) => df.withColumn(n, c)
    }
    def frac(num: String, den: String) =
      when(col(den) > 0, col(num).cast("double") / col(den).cast("double")).otherwise(lit(0.0))
    // integer cross-multiplied thresholds: dup*10 <= n*3 (0.30), *5 <= *1 (0.20)
    val ok =
      col("n_dup_lines") * 10 <= col("n_lines") * 3 &&
      col("n_dup_paras") * 10 <= col("n_paras") * 3 &&
      col("dup_line_chars") * 5 <= col("line_chars") &&
      col("dup_para_chars") * 5 <= col("para_chars")
    out
      .withColumn("dup_line_frac", frac("n_dup_lines", "n_lines"))
      .withColumn("dup_para_frac", frac("n_dup_paras", "n_paras"))
      .withColumn("dup_line_char_frac", frac("dup_line_chars", "line_chars"))
      .withColumn("dup_para_char_frac", frac("dup_para_chars", "para_chars"))
      .withColumn("dup_ok", ok)
      .drop(textCol)
  }

  /** PII patterns shared between the operator and its oracle twin — the
    * subset of regex syntax (character classes, bounded repetition) that
    * behaves identically under Java regex (Spark) and RE2 (DuckDB).
    */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val ipRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII detection + redaction: counts of email / phone / IPv4 matches and
    * the text with each match replaced by a type tag. Redaction order is
    * email → phone → IP (an email's host could otherwise be bitten by the
    * dotted-quad pattern). Pure scan-stage projection — no shuffle; at
    * 100 TB this runs where the text is read and nothing else moves.
    *
    * The IPv4 pattern is the standard pragmatic dotted-quad (allows
    * octets > 255), matching common scrubber behavior.
    */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("n_emails", size(regexp_extract_all(t, lit(emailRe), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(phoneRe), lit(0))).cast("long"))
      .withColumn("n_ips", size(regexp_extract_all(t, lit(ipRe), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(
            regexp_replace(t, emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>"),
          ipRe, "<IP>"))
  }

  /** BM25 ranked retrieval (Robertson–Spärck Jones): score every document
    * against a bag of query terms, return the top `k` by score.
    *
    * Scale shape: term frequencies come from one map-side-combinable
    * aggregation over the exploded scan (only rows matching the tiny term
    * set survive the scan filter); document frequencies and corpus stats
    * are broadcast (|terms| rows and 1 row); the only data-sized shuffle
    * keys on doc_id; the top-k is a TakeOrdered, never a global sort.
    *
    * Engine-exactness: floating-point addition is order-sensitive, so
    * per-term contributions are quantized to integer micro-units *before*
    * the per-document sum — an integer sum is associative, making the
    * result independent of partial-aggregation order and bit-identical in
    * any engine. The one transcendental (ln in idf) is floored to 1e-6
    * before use, so a last-ulp libm divergence cannot propagate.
    *
    * @return (doc_id, n_terms_hit, score_q) — score in 1e-9 units.
    */
  def bm25(docs: DataFrame, terms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
           topK: Int = 25, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "bm25: empty term set")
    val dl = docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("_w"))
      .filter(col("_w").isin(terms: _*))
      .groupBy(col("doc_id"), col("_w")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("_w")).agg(count(lit(1)).cast("double").as("df"))
    val idf = floor(log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) * 1e6) / 1e6
    val tfD = col("tf").cast("double")
    val norm = tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))
    val contribQ = floor(col("idf") * (tfD * lit(k1 + 1.0)) / norm * 1e9).cast("long")
    tf.join(dl, Seq("doc_id"))
      .join(broadcast(df), Seq("_w"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", idf)
      .withColumn("contrib_q", contribQ)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("contrib_q")).as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(topK)
  }

  /** Vocabulary induction: the `topK` most frequent words with rank and
    * cumulative corpus coverage — the token-frequency table a tokenizer
    * build starts from. One map-side-combinable count aggregation over
    * the exploded scan; the rank/coverage window runs on `topK` rows
    * only (a constant), never on the full vocabulary, and total counts
    * come from a broadcast 1-row aggregate. Ties rank by word for
    * engine-stable order.
    */
  def buildVocab(docs: DataFrame, topK: Int = 100, textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).cast("double").as("total"))
    val top = counts.orderBy(col("n").desc, col("word")).limit(topK)
    val w = Window.orderBy(col("n").desc, col("word")).rowsBetween(Window.unboundedPreceding, 0)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(Window.orderBy(col("n").desc, col("word"))))
      .withColumn("cum_frac", sum(col("n")).over(w).cast("double") / col("total"))
      .select(col("rank").cast("long").as("rank"), col("word"), col("n"), col("cum_frac"))
  }

  /** Count-min-sketch word frequencies (Cormode & Muthukrishnan 2005):
    * estimate corpus counts for `probes` through a `depth`×`width`
    * counter matrix instead of a full vocabulary aggregation. Row `i`
    * hashes each token to bucket `affine_i(h60(word) mod M) mod width`;
    * the estimate is the minimum over rows of the probe's bucket counts
    * — an upper bound of the true count (collisions only ever add), with
    * overshoot ≈ corpus_tokens/width per row, Pr[overshoot > 2e·N/width]
    * < e^-depth.
    *
    * Scale shape: [[buildVocab]]'s exact `groupBy(word)` carries
    * vocabulary-sized state — fine for natural-language vocabularies,
    * unbounded for adversarial token spaces (URLs, ids, code
    * identifiers) at 100 TB. The sketch is a map-side-combinable
    * aggregation over at most `depth`·`width` groups: the exchange moves
    * ≤ partitions·depth·width pre-combined rows regardless of corpus or
    * vocabulary size, and the sketch itself (`depth`·`width` longs) is a
    * mergeable bounded artifact — shards' sketches sum. Probes are a
    * broadcast-joined constant. All arithmetic is the portable
    * [[graft.functions.PortableHash]] family — bucket choices reproduce
    * bit-for-bit in any engine.
    *
    * @return (word, est_n) per probe word, est_n ≥ the true count
    */
  def cmsWordCounts(docs: DataFrame, probes: Seq[String], depth: Int = 3,
                    width: Int = 1024, textCol: String = "text"): DataFrame = {
    require(depth >= 1 && width >= 1, s"depth/width must be positive, got $depth x $width")
    require(probes.nonEmpty, "probes must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    def buckets = (0 until depth).map(i =>
      pmod(PortableHash.affineHash(col("_b"), i), lit(width.toLong)))
    val sketch = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .select(pmod(PortableHash.h60(col("word")), lit(PortableHash.M)).as("_b"))
      .select(posexplode(array(buckets: _*)).as(Seq("_i", "_p")))
      .groupBy(col("_i"), col("_p")).agg(count(lit(1)).as("_c"))
    val probePos = probes.toDF("word")
      .select(col("word"), pmod(PortableHash.h60(col("word")), lit(PortableHash.M)).as("_b"))
      .select(col("word"), posexplode(array(buckets: _*)).as(Seq("_i", "_p")))
    broadcast(probePos).join(sketch, Seq("_i", "_p"), "left")
      .groupBy(col("word"))
      .agg(min(coalesce(col("_c"), lit(0L))).as("est_n"))
  }

  /** Exact heavy hitters by count-min candidate filtering: all words with
    * true count ≥ `minCount`, with their EXACT counts — at a cost that
    * never materializes vocabulary-sized aggregation state for the long
    * tail. Two scans: (1) build the [[cmsWordCounts]] sketch (bounded
    * `depth`·`width` groups); (2) re-scan, look each token's estimate up
    * in the broadcast sketch (scan-stage `array` literal indexing — no
    * join), and ONLY candidate tokens (estimate ≥ `minCount`, a
    * deterministic superset of the answer since CMS never undershoots)
    * enter the exact count groupBy, whose key space is ≤ the true heavy
    * hitters plus collision survivors (ε·N/width overshoot each), not
    * the vocabulary. A final exact filter removes the false candidates.
    *
    * The sketch travels as a `depth`·`width` long-array plan literal
    * (e.g. 3·1024 = 24 KiB), the same bounded-broadcast contract as the
    * DSIR scan scorer; size `width` so ~N/width stays well under
    * `minCount` or the candidate set degrades toward the vocabulary
    * (loud in the plan, never wrong).
    *
    * @return (word, n) — exact counts, every word with n ≥ minCount
    */
  def heavyHitters(docs: DataFrame, minCount: Long, depth: Int = 3,
                   width: Int = 1024, textCol: String = "text"): DataFrame = {
    require(minCount >= 1, s"heavyHitters: minCount must be >= 1, got $minCount")
    require(depth >= 1 && width >= 1, s"depth/width must be positive, got $depth x $width")
    // pass 1: sketch rows -> dense depth*width long array on the driver
    val sketchRows = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .select(pmod(PortableHash.h60(col("word")), lit(PortableHash.M)).as("_b"))
      .select(posexplode(array((0 until depth).map(i =>
        pmod(PortableHash.affineHash(col("_b"), i), lit(width.toLong))): _*)).as(Seq("_i", "_p")))
      .groupBy(col("_i"), col("_p")).agg(count(lit(1)).as("_c"))
      .collect()
    val arr = new Array[Long](depth * width)
    sketchRows.foreach(r => arr(r.getInt(0) * width + r.getLong(1).toInt) = r.getLong(2))
    val sk = typedlit(arr.toSeq)
    // pass 2: scan-stage estimate lookup gates the exact aggregation
    val est = (0 until depth).map(i =>
      element_at(sk, (lit(i * width) +
        pmod(PortableHash.affineHash(col("_b"), i), lit(width.toLong)) + lit(1L)).cast("int")))
      .reduce(least(_, _))
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .withColumn("_b", pmod(PortableHash.h60(col("word")), lit(PortableHash.M)))
      .filter(est >= minCount)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
  }

  /** BPE merge training (Sennrich et al. 2016): learn `merges` byte-pair
    * merge rules over the corpus's word-frequency table — each round
    * counts adjacent symbol pairs weighted by word count, picks the most
    * frequent (ties: lexicographically smallest pair), and fuses it
    * everywhere. The canonical subword-tokenizer trainer, here as a
    * distributed loop with the same shape as [[graft.operators.KMeans]]:
    * the argmax (a single row) collects to the driver each round, then
    * the merge applies as a scan-stage projection. Driver state is one
    * merge rule per round.
    *
    * Pair counting is INCREMENTAL (the classic fast-BPE trick): the pair
    * table is built once with a full explode, then each round only the
    * words containing the fused pair contribute a delta (their pair
    * multiset before, negated, plus after) — fusing ' a b ' cannot
    * change adjacencies in any word that does not contain it. A naive
    * trainer pays one full-corpus pair explode + shuffle per round
    * (32k-merge real vocab = 32k corpus scans); here the per-round
    * shuffle is |pair vocab| + |pairs of affected words|, and the only
    * full-width per-round work is the scan-stage contains/replace over
    * the word table. The incremental counts are exact integer sums, so
    * the trajectory is bit-identical to recomputation.
    *
    * Engine-exactness: symbol sequences live as single-space-delimited
    * strings with sentinel boundary spaces, and a merge applies as
    * left-to-right non-overlapping `replace(' a b ' → ' ab ')` — the
    * identical algorithm in the JVM and any SQL engine, and exactly
    * BPE's leftmost-first fusion order. Counting and tie-breaks are
    * integer/lexicographic, so the full merge table is reproducible
    * bit-for-bit.
    *
    * @return (step ∈ 1..merges, lhs, rhs, freq) — the merge table;
    *         training stops early if no pair remains
    */
  def bpeTrain(docs: DataFrame, merges: Int = 8, textCol: String = "text",
               share: DataFrame => DataFrame = Share.materialize): DataFrame = {
    val spark = docs.sparkSession
    require(merges >= 1, s"merges must be >= 1, got $merges")

    // word-frequency table, words as boundary-padded char sequences
    var seqs = share(docs
      .select(explode(split(col(textCol), " ")).as("_w"))
      .filter(length(col("_w")) > 0)
      .groupBy(col("_w")).agg(count(lit(1)).as("_cnt"))
      .select(col("_cnt"),
        concat(lit(" "), concat_ws(" ", filter(split(col("_w"), ""), c => length(c) > 0)), lit(" "))
          .as("_sym")))

    // signed pair-contribution rows (a, b, _c) of one symbol table:
    // single-symbol words carry no pairs (sequence(0, -1) would
    // descend); drop them before the pair explode
    def pairRows(df: DataFrame, negate: Boolean): DataFrame =
      df.select((col("_cnt") * lit(if (negate) -1L else 1L)).as("_n"),
          split(trim(col("_sym")), " ").as("_t"))
        .filter(size(col("_t")) >= 2)
        .select(col("_n"), explode(
          transform(sequence(lit(0), size(col("_t")) - 2),
            j => struct(element_at(col("_t"), j + 1).as("a"), element_at(col("_t"), j + 2).as("b"))))
          .as("_p"))
        .select(col("_p.a").as("a"), col("_p.b").as("b"), col("_n").as("_c"))

    // pair-count table, built once; updated by deltas each round
    var pc = share(pairRows(seqs, negate = false)
      .groupBy(col("a"), col("b")).agg(sum(col("_c")).as("_c")))

    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val best = pc.filter(col("_c") > 0)
        .orderBy(col("_c").desc, col("a"), col("b")).limit(1)
        .collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += ((step, a, b, c))
        // two literal replace passes: a left-to-right non-overlapping
        // scan misses every second occurrence of a contiguous run (the
        // shared boundary space is consumed by the previous match), and
        // after one pass no two missed occurrences remain adjacent, so
        // the second pass completes the exhaustive leftmost-first fusion
        // — BPE's application order exactly, in any engine with the
        // standard replace algorithm. Replacements cannot spawn new
        // pattern hits: ' a$b ' contains no interior space.
        val pat = s" $a $b "
        val fuse = (s: Column) => replace(s, lit(pat), lit(s" $a$b "))
        // only words containing ' a b ' change their pair multiset:
        // retract their old pairs, add their fused pairs
        val affected = seqs.filter(col("_sym").contains(pat))
        val delta = pairRows(affected, negate = true)
          .unionAll(pairRows(affected.withColumn("_sym", fuse(fuse(col("_sym")))), negate = false))
        pc = share(pc.unionAll(delta)
          .groupBy(col("a"), col("b")).agg(sum(col("_c")).as("_c"))
          .filter(col("_c") =!= 0))
        seqs = share(seqs.withColumn("_sym",
          when(col("_sym").contains(pat), fuse(fuse(col("_sym")))).otherwise(col("_sym"))))
        step += 1
      }
    }
    import spark.implicits._
    learned.toSeq.toDF("step", "lhs", "rhs", "freq")
      .select(col("step").cast("long").as("step"), col("lhs"), col("rhs"), col("freq"))
  }

  /** One word through the BPE merge table: boundary-padded symbol string,
    * then per merge rule EXACTLY two non-overlapping left-to-right literal
    * replaces — bit-identical to the two-pass `replace` fusion the trainer
    * and the oracle run (`java.lang.String.replace` and Spark's
    * `StringReplace`/`UTF8String.replace` share the same leftmost
    * non-overlapping algorithm). A token-list scan that re-checks the pair
    * at a fused position is NOT equivalent: on an odd run `a a a a a` with
    * merge (a,a), two-pass replace yields [aa, a, aa] while the list scan
    * yields [aa, aa, a] — same count here, but different symbols for every
    * later merge. Returns the token count.
    */
  /** The fused subword stream of one word under a merge table, as the
    * trimmed single-space-joined token string — the unit both the
    * count kernel and the export kernel share.
    */
  private[graft] def bpeFuseWordSymbols(w: String, merges: Array[(String, String)]): String = {
    // split(col, "") + nonempty filter ≡ Java regex split on "" with the
    // trailing empty removed: per-code-unit, identical on both sides
    var s = w.split("").filter(_.nonEmpty).mkString(" ", " ", " ")
    var i = 0
    while (i < merges.length) {
      val (a, b) = merges(i)
      val pat = s" $a $b "
      if (s.contains(pat)) { // fast path only: replace of an absent pattern is identity
        val rep = s" $a$b "
        s = s.replace(pat, rep)
        s = s.replace(pat, rep)
      }
      i += 1
    }
    s.trim
  }

  private[graft] def bpeFuseWord(w: String, merges: Array[(String, String)]): Long = {
    val s = bpeFuseWordSymbols(w, merges)
    // "t1 t2 ... tn" with single interior spaces: tokens = spaces + 1
    var spaces = 0L
    var j = 0
    while (j < s.length) { if (s.charAt(j) == ' ') spaces += 1; j += 1 }
    spaces + 1
  }

  /** Apply a learned BPE merge table ([[bpeTrain]] output, or any
    * (lhs, rhs) sequence in merge order) and count the resulting subword
    * tokens per document — the train→tokenize path a pipeline runs to
    * budget sequence-packing and billing by real tokenizer counts
    * instead of whitespace proxies.
    *
    * Scale shape: the merge table is a broadcast array, applied per word
    * by [[bpeFuseWord]] inside one typed `mapPartitions` kernel over the
    * exploded word scan — plan size is CONSTANT in |merges| (a real
    * 32k-merge vocabulary is just a bigger broadcast value), unlike a
    * compiled nested-replace fold whose Catalyst tree grows 2·|merges|
    * deep and dies on analysis/codegen limits long before real vocab
    * sizes. Word token counts are pure functions of the word, so the
    * kernel memoizes per partition (the vocabulary is tiny next to the
    * occurrence stream); the only shuffle is the final groupBy(doc).
    *
    * @return (doc_id, n_words, n_bpe_tokens)
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)],
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val bc = docs.sparkSession.sparkContext.broadcast(merges.toArray)
    val words = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("_w"))
      .filter(length(col("_w")) > 0)
    val outSchema = StructType(Seq(words.schema.head, StructField("_t", LongType, nullable = false)))
    words.mapPartitions { rows =>
      val table = bc.value
      val memo = new java.util.HashMap[String, java.lang.Long]()
      rows.map { r =>
        val w = r.getString(1)
        var t = memo.get(w)
        if (t == null) {
          t = java.lang.Long.valueOf(bpeFuseWord(w, table))
          if (memo.size < (1 << 20)) memo.put(w, t) // bounded per-partition state
        }
        Row(r.get(0), t.longValue)
      }
    }(Encoders.row(outSchema))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_t")).as("n_bpe_tokens"))
  }

  /** Token-SEQUENCE export — the trainer-handoff step after [[bpeEncode]]
    * has done the counting: per document, the ordered subword token
    * stream under the learned merge table (space-joined; ids are a
    * trivial dictionary join away). This is the artifact a training job
    * actually reads; everything upstream (dedup, filter, pack) was in
    * service of producing it.
    *
    * Scale shape: same broadcast-table + memoizing mapPartitions kernel
    * as [[bpeEncode]] (plan constant in |merges|), except the kernel
    * keeps each word's fused STRING; document reassembly is one
    * groupBy(doc) with an array_sort over (position, tokens) structs —
    * order-stable under any partitioning, the dedupParagraphs contract.
    *
    * @return (doc_id, n_tokens, token_stream)
    */
  def bpeExportTokens(docs: DataFrame, merges: Seq[(String, String)],
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val bc = docs.sparkSession.sparkContext.broadcast(merges.toArray)
    val words = docs
      .select(col(idCol), posexplode(split(col(textCol), " ")).as(Seq("_p", "_w")))
      .filter(length(col("_w")) > 0)
    val outSchema = StructType(Seq(words.schema.head, words.schema(1),
      StructField("_t", StringType, nullable = false)))
    words.mapPartitions { rows =>
      val table = bc.value
      val memo = new java.util.HashMap[String, String]()
      rows.map { r =>
        val w = r.getString(2)
        var t = memo.get(w)
        if (t == null) {
          t = bpeFuseWordSymbols(w, table)
          if (memo.size < (1 << 20)) memo.put(w, t) // bounded per-partition state
        }
        Row(r.get(0), r.get(1), t)
      }
    }(Encoders.row(outSchema))
      .groupBy(col(idCol))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("_p"), col("_t")))), x => x("_t")))
        .as("token_stream"))
      .withColumn("n_tokens", size(split(col("token_stream"), " ")).cast("long"))
      .select(col(idCol), col("n_tokens"), col("token_stream"))
  }

  /** The nested-replace-fold twin of [[bpeEncode]]: compiles the merge
    * table into 2·|merges| literal replaces in one scan-stage projection.
    * Same semantics by construction (both are two-pass leftmost-first
    * fusion; TextFilterSpec pins kernel ≡ fold), but the plan grows with
    * the merge table — usable only at small merge counts, retained as the
    * executable cross-check of the kernel against Spark's own `replace`.
    */
  private[graft] def bpeEncodeFold(docs: DataFrame, merges: Seq[(String, String)],
                                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val charSym = concat(lit(" "),
      concat_ws(" ", filter(split(col("_w"), ""), c => length(c) > 0)), lit(" "))
    val fused = merges.foldLeft(charSym) { case (s, (a, b)) =>
      val once = replace(s, lit(s" $a $b "), lit(s" $a$b "))
      replace(once, lit(s" $a $b "), lit(s" $a$b "))
    }
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("_w"))
      .filter(length(col("_w")) > 0)
      .select(col(idCol), size(split(trim(fused), " ")).cast("long").as("_t"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("_t")).as("n_bpe_tokens"))
  }

  /** URL features for crawl curation (the C4/RefinedWeb source-level
    * signals): lowercased host with userinfo/port stripped, path segment
    * depth, and a query-string flag. Pure scan-stage regex/array ops,
    * each pattern RE2-portable so an external engine reproduces the
    * parse exactly (no backreferences, no lookaround — and no
    * `parse_url`, which is Spark-only).
    *
    * @return input columns + host, path_depth, has_query
    */
  def urlFeatures(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    val u = col(urlCol)
    val authority = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val host = lower(regexp_replace(regexp_replace(authority, "^[^@]*@", ""), ":[0-9]+$", ""))
    val path = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val depth = size(filter(split(path, "/"), s => s =!= "")).cast("long")
    docs
      .withColumn("host", host)
      .withColumn("path_depth", depth)
      .withColumn("has_query", u.contains("?"))
  }

  /** Unicode normalization of a string column (UAX #15, default NFC) as
    * a codegen'd expression — see [[graft.plans.UnicodeNormalize]].
    */
  def unicodeNormalize(textCol: Column, form: String = "NFC"): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.UnicodeNormalize(ColumnShim.expression(textCol), form))
  }

  /** Text cleanup for crawl ingest: Unicode NFC normalization (combining
    * sequences → canonical composed form, so "e"+U+0301 and "é" hash and
    * dedup identically), control-character removal (everything below
    * 0x20 except tab/newline/CR, plus DEL — the bytes broken extractors
    * leave behind), and whitespace collapse + trim. Everything is
    * scan-stage (one codegen'd normalize + two regexp_replace), and each
    * step is an engine-portable standard: UAX #15 for the normalization,
    * literal byte classes for the regexes — which is what makes the full
    * output text oracle-checkable, not just its length.
    *
    * @return input columns + text_norm, n_chars_raw, n_chars_norm, changed
    */
  def normalizeText(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val stripped = regexp_replace(unicodeNormalize(col(textCol)),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val collapsed = trim(regexp_replace(stripped, "[ \\t\\n\\r]+", " "))
    docs
      .withColumn("text_norm", collapsed)
      .withColumn("n_chars_raw", length(col(textCol)).cast("long"))
      .withColumn("n_chars_norm", length(col("text_norm")).cast("long"))
      .withColumn("changed", col("text_norm") =!= col(textCol))
  }

  /** CCNet-style n-gram LM quality scoring (Wenzek et al. 2020 filter
    * documents by LM perplexity; reference pipeline: ccnet). A word-bigram
    * LM with add-α smoothing is trained on `train` and every document in
    * `docs` is scored by its total log-likelihood.
    *
    * Engine-stable by construction: P(w2|w1) = (c12 + α) / (c1 + α·V)
    * where every term is an integer (counts, vocabulary size, α), and the
    * only transcendental — ln — is applied to those INTEGERS and floored
    * to 1e-6 units before anything else touches it:
    *   contrib_q = floor(ln(c12+α)·1e6) − floor(ln(c1+α·V)·1e6)   (longs)
    * A last-ulp libm divergence between engines can only flip the floor
    * when ln(n) sits within ~1e-15 of a 1e-6 grid boundary — measure
    * ~1e-9 per distinct count — so the per-document LONG sum is
    * bit-identical in any engine and independent of aggregation order
    * (the same quantization contract as [[bm25]]).
    *
    * Distributed shape: model = two map-side-combinable count groupBys
    * (bigrams, context words) + a 1-row broadcast vocabulary size; scoring
    * is two hash equi-joins on the gram keys — the model never needs to fit
    * on the driver or broadcast, so a 100 TB train corpus works unchanged.
    * Documents with fewer than two words score (0, 0) via the final left
    * join back to the id spine.
    *
    * Conditioning counts use unigram occurrences of w1 (the standard
    * smoothed-LM shortcut, documented contract) rather than
    * bigrams-starting-with-w1; α defaults to 1 (Laplace).
    *
    * @return (doc_id, n_bigrams, logprob_q) — logprob in 1e-6 ln units.
    */
  def lmScore(docs: DataFrame, train: DataFrame, textCol: String = "text",
              idCol: String = "doc_id", alpha: Long = 1L): DataFrame = {
    require(alpha > 0, "lmScore: alpha must be positive")

    val bgCounts = train
      .select(explode(ngrams(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val ctxCounts = train
      .select(explode(split(col(textCol), " ")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = ctxCounts.agg(count(lit(1)).as("v"))

    val scored = docs
      .select(col(idCol).as("doc_id"), explode(ngrams(col(textCol), 2)).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .join(bgCounts, Seq("bg"), "left")
      .join(ctxCounts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("contrib_q",
        lnq(coalesce(col("c12"), lit(0L)) + lit(alpha)) -
          lnq(coalesce(col("c1"), lit(0L)) + lit(alpha) * col("v")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("contrib_q")).as("logprob_q"))

    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logprob_q"), lit(0L)).as("logprob_q"))
  }

  /** Moore–Lewis cross-entropy-difference data selection (Moore & Lewis
    * 2010, "Intelligent Selection of Language Model Training Data"):
    * rank every document by its per-token log-likelihood under an
    * IN-DOMAIN LM minus the same under the GENERAL corpus LM, keep the
    * top K — the canonical exact-LM ancestor of the hashed-feature DSIR
    * gates and of RHO-1-style reference-model deltas, so the registry
    * carries both ends of that approximation spectrum.
    *
    * Determinism: both scores come from [[lmScore]]'s quantized-long
    * contract; the ranking key `delta_q / n_bigrams` is ONE IEEE
    * division of two exact longs (correctly rounded, engine-identical),
    * ties broken by doc_id. Zero-bigram documents carry no evidence and
    * are never selected.
    *
    * Scale shape: two lmScore chains (count-table models + gram
    * equi-joins — the model never sits on the driver), then the global
    * top-K as sort+limit (TakeOrdered, no single-partition window over
    * the corpus); the rank column is a window over the ≤ K selected
    * rows only.
    *
    * @return top-K (doc_id, n_bigrams, delta_q, rank, score)
    */
  def mooreLewisSelection(docs: DataFrame, inDomain: DataFrame, topK: Int = 100,
                          textCol: String = "text", idCol: String = "doc_id",
                          alpha: Long = 1L): DataFrame = {
    require(topK >= 1, "mooreLewisSelection: topK must be positive")
    import org.apache.spark.sql.expressions.Window
    val sIn = lmScore(docs, inDomain, textCol, idCol, alpha)
      .select(col("doc_id"), col("n_bigrams"), col("logprob_q").as("_lq_in"))
    val sGen = lmScore(docs, docs, textCol, idCol, alpha)
      .select(col("doc_id"), col("logprob_q").as("_lq_gen"))
    val top = sIn.join(sGen, Seq("doc_id"))
      .filter(col("n_bigrams") > 0)
      .withColumn("delta_q", col("_lq_in") - col("_lq_gen"))
      .withColumn("score", col("delta_q").cast("double") / col("n_bigrams").cast("double"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("n_bigrams"), col("delta_q"), col("rank"), col("score"))
  }

  /** Per-source perplexity-filter ablation (the CCNet/Gopher tuning
    * loop): sweep LM quality thresholds over the corpus and report, per
    * (source, threshold), how many documents and tokens survive — the
    * table a data engineer reads to pick each source's perplexity cut
    * before a 100 TB filter run commits to one.
    *
    * Threshold semantics: a document is kept iff its mean per-bigram
    * log-likelihood is at least `t_mq` (1e-6 ln units, negative), tested
    * as the integer cross-multiply `logprob_q >= t_mq * n_bigrams` —
    * no division, so no truncate-vs-floor engine divergence on negative
    * sums. Zero-bigram documents fail every threshold (no evidence, no
    * keep). Scores come from [[lmScore]], so the decision inherits its
    * quantized-long bit-exactness.
    *
    * Scale shape: the lmScore joins, one map-side token count, and a
    * broadcast cross join against the ≤ dozens-row threshold grid — the
    * grid multiplies rows BEFORE a map-side-combinable groupBy, never
    * shuffling more than (sources × thresholds) aggregates.
    *
    * @return (source, t_mq, n_docs, n_kept, tokens_total, tokens_kept,
    *         token_share kept)
    */
  def perplexityAblation(docs: DataFrame, train: DataFrame, thresholdsMq: Seq[Long],
                         textCol: String = "text", idCol: String = "doc_id",
                         sourceCol: String = "source"): DataFrame = {
    require(thresholdsMq.nonEmpty, "perplexityAblation: need at least one threshold")
    val spark = docs.sparkSession
    import spark.implicits._
    val scores = lmScore(docs, train, textCol, idCol)
    val meta = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
      size(split(col(textCol), " ")).cast("long").as("_tok"))
    val grid = thresholdsMq.toDF("t_mq")
    meta.join(scores, Seq("doc_id"))
      .crossJoin(broadcast(grid))
      .withColumn("_keep",
        col("n_bigrams") > 0 && col("logprob_q") >= col("t_mq") * col("n_bigrams"))
      .groupBy(col("source"), col("t_mq"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("_keep"), lit(1L)).otherwise(lit(0L))).cast("long").as("n_kept"),
        sum(col("_tok")).cast("long").as("tokens_total"),
        sum(when(col("_keep"), col("_tok")).otherwise(lit(0L))).cast("long").as("tokens_kept"))
      .withColumn("token_share",
        col("tokens_kept").cast("double") / col("tokens_total").cast("double"))
  }

  /** Min-K% Prob membership inference (Shi et al. 2023, "Detecting
    * Pretraining Data from Large Language Models"): a probe document's
    * k% LOWEST per-token log-probabilities under a model trained on the
    * corpus are the telltale — member documents have no surprisingly-
    * improbable tokens, non-members do. Here the model is the same
    * add-α bigram LM as [[lmScore]] (quantized-long contract), so the
    * per-gram contributions, the bottom-k selection (a rank decision
    * with gram-string tie-break — ties carry equal values, so the sum
    * is selection-order-free) and the emitted sums are all engine-exact
    * integers.
    *
    * Scale: the lmScore join shape (count tables + gram equi-joins)
    * plus one per-document window — keyed by doc id.
    */
  def minKProb(probe: DataFrame, train: DataFrame, kPercent: Int = 20,
               textCol: String = "text", idCol: String = "doc_id",
               alpha: Long = 1L): DataFrame = {
    require(kPercent >= 1 && kPercent <= 100, s"kPercent must be in [1,100], got $kPercent")
    require(alpha > 0, "minKProb: alpha must be positive")
    import org.apache.spark.sql.expressions.Window
    val bgCounts = train
      .select(explode(ngrams(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val ctxCounts = train
      .select(explode(split(col(textCol), " ")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = ctxCounts.agg(count(lit(1)).as("v"))
    val contribs = probe
      .select(col(idCol).as("doc_id"), explode(ngrams(col(textCol), 2)).as("bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .join(bgCounts, Seq("bg"), "left")
      .join(ctxCounts, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("contrib_q",
        lnq(coalesce(col("c12"), lit(0L)) + lit(alpha)) -
          lnq(coalesce(col("c1"), lit(0L)) + lit(alpha) * col("v")))
    val lowk = contribs
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("contrib_q"), col("bg"))))
      .filter(col("_rk") <= greatest(lit(1L), expr(s"_n * $kPercent div 100")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lowk"), sum(col("contrib_q")).as("sum_lowk_q"))
    probe.select(col(idCol).as("doc_id"))
      .join(lowk, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lowk"), lit(0L)).as("n_lowk"),
        coalesce(col("sum_lowk_q"), lit(0L)).as("sum_lowk_q"))
  }

  /** CCNet perplexity buckets (Wenzek et al. 2020 §4.3): rank each
    * language's documents by per-token LM log-likelihood and cut into
    * `buckets` equal tiles — head (best), middle, tail — the quality
    * strata CCNet publishes and trains on. Scoring is [[lmScore]]
    * (quantized-long contract); the ranking key is the IEEE double
    * division logprob_q / n_bigrams of two longs — correctly rounded and
    * therefore bit-identical in any engine — with doc_id tie-break, and
    * zero-bigram documents rank worst (tail) by a sentinel, so the
    * whole assignment is engine-exact. `ntile` makes the cut a rank
    * decision (integers), never a score-threshold float compare.
    *
    * Scale note: exact tiles need one per-language sort (the window).
    * At the 100 TB grain CCNet itself cuts by percentile thresholds from
    * a sample; that path is `percentile_approx` over `_avg` feeding a
    * scan-stage `when` — same decisions minus rank-exactness at the
    * boundaries. The rank-exact form is the operator because it is
    * deterministic enough to oracle.
    *
    * @return (doc_id, lang, n_bigrams, logprob_q, ppl_bucket)
    */
  def lmBuckets(docs: DataFrame, train: DataFrame, buckets: Int = 3,
                langCol: String = "lang", textCol: String = "text",
                idCol: String = "doc_id", alpha: Long = 1L): DataFrame = {
    require(buckets >= 1, s"lmBuckets: buckets must be >= 1, got $buckets")
    import org.apache.spark.sql.expressions.Window
    val scored = lmScore(docs, train, textCol, idCol, alpha)
      .join(docs.select(col(idCol).as("doc_id"), col(langCol).as("lang")), Seq("doc_id"))
    val avg = when(col("n_bigrams") > 0,
      col("logprob_q").cast("double") / col("n_bigrams").cast("double"))
      .otherwise(lit(-1e18))
    val w = Window.partitionBy(col("lang")).orderBy(col("_avg").desc, col("doc_id"))
    scored.withColumn("_avg", avg)
      .withColumn("_nt", ntile(buckets).over(w))
      .withColumn("ppl_bucket",
        when(col("_nt") === 1, "head")
          .when(col("_nt") === buckets, "tail")
          .otherwise("middle"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("logprob_q"), col("ppl_bucket"))
  }

  /** Vocabulary drift between two corpora — the ingest-monitoring signal
    * for "did this crawl's word distribution move": per word, the
    * difference of smoothed log-frequencies
    *   logratio = ln((n_a+α)/(N_a+αV)) − ln((n_b+α)/(N_b+αV))
    * over the UNION vocabulary, ranked by |logratio| (the words driving
    * any KL-style divergence; the consumer can weight by p to get KL
    * itself). Same engine-stability contract as [[lmScore]]: ln runs on
    * integers only, floored to 1e-6 units, so every output is a long.
    *
    * Scale shape: two map-side-combinable word counts, a full outer join
    * on the word key, 1-row broadcast totals, TakeOrdered top-k.
    *
    * @return (word, n_a, n_b, logratio_q) — top `topK` by |logratio_q|
    */
  def vocabDrift(corpusA: DataFrame, corpusB: DataFrame, topK: Int = 50,
                 textCol: String = "text", alpha: Long = 1L): DataFrame = {
    require(alpha > 0, "vocabDrift: alpha must be positive")
    def counts(d: DataFrame, out: String) = d
      .select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as(out))

    val joined = counts(corpusA, "n_a").join(counts(corpusB, "n_b"), Seq("word"), "full_outer")
      .select(col("word"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val totals = joined.agg(
      sum(col("n_a")).as("tot_a"), sum(col("n_b")).as("tot_b"),
      count(lit(1)).as("v"))
    joined.crossJoin(broadcast(totals))
      .withColumn("logratio_q",
        (lnq(col("n_a") + lit(alpha)) - lnq(col("tot_a") + lit(alpha) * col("v"))) -
          (lnq(col("n_b") + lit(alpha)) - lnq(col("tot_b") + lit(alpha) * col("v"))))
      .orderBy(abs(col("logratio_q")).desc, col("word"))
      .limit(topK)
      .select(col("word"), col("n_a"), col("n_b"), col("logratio_q"))
  }

  /** DSIR-style hashed-bigram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * train two smoothed bag-of-hashed-bigram models — one on the
    * `target` corpus (what you want more of), one on the `raw` corpus —
    * and weight each of the `dim` hash buckets by the log-ratio of its
    * smoothed frequencies. A document scored by [[importanceScore]]
    * then carries ln p_target(doc) − ln p_raw(doc), the importance
    * weight the paper resamples by.
    *
    * Same engine-stability contract as [[lmScore]]/[[vocabDrift]]: ln
    * runs on INTEGER counts only and is floored to 1e-6 units, so
    *   w_q(b) = [lnq(c_t+α) − lnq(N_t+α·dim)] − [lnq(c_r+α) − lnq(N_r+α·dim)]
    * is a pure long per bucket and every downstream sum is bit-stable
    * across engines and aggregation orders.
    *
    * The weight table is DENSE over all `dim` buckets (buckets unseen in
    * both corpora still carry the nonzero smoothing-only weight), so
    * scoring needs no unseen-bucket special case. Scale shape: two
    * map-side-combinable bucket-count groupBys — at most `dim` rows
    * each, bounded regardless of corpus size, which is the entire point
    * of hashing the feature space — joined onto a `spark.range(dim)`
    * spine with 1-row broadcast totals.
    *
    * @return (bucket, n_target, n_raw, w_q) — one row per hash bucket
    */
  def importanceWeights(target: DataFrame, raw: DataFrame, dim: Int = 1 << 10,
                        textCol: String = "text", alpha: Long = 1L): DataFrame = {
    require(dim > 0, "importanceWeights: dim must be positive")
    require(alpha > 0, "importanceWeights: alpha must be positive")
    def bucketCounts(d: DataFrame, out: String) = d
      .select(explode(ngrams(col(textCol), 2)).as("bg"))
      .select(pmod(graft.functions.PortableHash.h60(col("bg")), lit(dim.toLong)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(out))

    val spine = target.sparkSession.range(dim).select(col("id").as("bucket"))
    val joined = spine
      .join(bucketCounts(target, "_ct"), Seq("bucket"), "left")
      .join(bucketCounts(raw, "_cr"), Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("_ct"), lit(0L)).as("n_target"),
        coalesce(col("_cr"), lit(0L)).as("n_raw"))
    val totals = joined.agg(
      sum(col("n_target")).as("_nt"), sum(col("n_raw")).as("_nr"))
    joined.crossJoin(broadcast(totals))
      .withColumn("w_q",
        (lnq(col("n_target") + lit(alpha)) - lnq(col("_nt") + lit(alpha * dim))) -
          (lnq(col("n_raw") + lit(alpha)) - lnq(col("_nr") + lit(alpha * dim))))
      .select(col("bucket"), col("n_target"), col("n_raw"), col("w_q"))
  }

  /** Score documents against an [[importanceWeights]] table: each
    * document's bigrams hash into the same `dim` buckets and the
    * importance is the long sum of their bucket weights (zero-bigram
    * documents score (0, 0) via the id-spine left join, the [[lmScore]]
    * contract). The weight table is `dim` rows — broadcast — so scoring
    * is one scan-stage explode + broadcast equi-join + groupBy, no
    * corpus shuffle beyond the per-doc aggregation.
    *
    * @return (doc_id, n_bigrams, importance_q) — importance in 1e-6 ln units
    */
  def importanceScore(docs: DataFrame, weights: DataFrame, dim: Int = 1 << 10,
                      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(dim > 0, "importanceScore: dim must be positive")
    val scored = docs
      .select(col(idCol).as("doc_id"), explode(ngrams(col(textCol), 2)).as("bg"))
      .withColumn("bucket", pmod(graft.functions.PortableHash.h60(col("bg")), lit(dim.toLong)))
      .join(broadcast(weights.select(col("bucket"), col("w_q"))), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("w_q")).as("importance_q"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("importance_q"), lit(0L)).as("importance_q"))
  }

  /** Scan-only twin of [[importanceScore]]: the dense `dim`-row weight
    * table collects to a driver array (bounded state, the k-means
    * centroid regime) and each document scores via higher-order
    * `transform` + `aggregate` over its bigram array — per-row, in the
    * scan stage, with NO explode, NO join, NO shuffle at all. Bit-
    * identical to the join form (long sums carry no order dependence;
    * parity is spec-pinned), so it is the 100 TB path — one pass over
    * the corpus — and, being stateless, scores streaming frames
    * unchanged. Prefer the join form only when `dim` is too large to
    * hold as a plan literal (≳1M buckets).
    *
    * @return (doc_id, n_bigrams, importance_q) — importance in 1e-6 ln units
    */
  def importanceScoreScan(docs: DataFrame, weights: DataFrame, dim: Int = 1 << 10,
                          textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(dim > 0, "importanceScoreScan: dim must be positive")
    val arr = new Array[Long](dim)
    weights.select(col("bucket"), col("w_q")).collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    val wlit = typedlit(arr.toSeq)
    val grams = ngrams(col(textCol), 2)
    docs.select(col(idCol).as("doc_id"),
      size(grams).cast("long").as("n_bigrams"),
      aggregate(
        transform(grams, bg => element_at(wlit,
          (pmod(graft.functions.PortableHash.h60(bg), lit(dim.toLong)) + lit(1L)).cast("int"))),
        lit(0L), (acc, x) => acc + x).as("importance_q"))
  }

  /** Winnowing fingerprints (Schleimer et al. 2003 / MOSS): the sliding
    * window-minimum selection over word k-gram hashes, emitting one
    * (pos, gram_hash) row per selected gram. Any shared run of at least
    * `w + k − 1` words between two documents yields an identical
    * selected hash in both — so partial-overlap detection becomes an
    * equi-join on `gram_hash` over a table ~2/(w+1) the gram count,
    * where the global-min sketches ([[fingerprint]], minhash) only see
    * whole-document similarity.
    *
    * Scale shape: the selection is ONE codegen scan-stage expression per
    * document ([[graft.plans.WinnowFingerprints]]: gram md5s + an O(n)
    * monotonic-deque sliding min) followed by an explode — zero
    * shuffles, nothing leaves its scan. Portable-hash h60 mod M buckets,
    * so the oracle reproduces every selection bit-for-bit.
    *
    * @return (doc_id, pos — 0-based gram position, gram_hash)
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 5, w: Int = 4,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    val fp = ColumnShim.column(
      graft.plans.WinnowFingerprints(ColumnShim.expression(col(textCol)), k, w))
    docs.select(col(idCol).as("doc_id"), explode(fp).as("_pk"))
      .select(col("doc_id"),
        (lit(1L << 20) - col("_pk").bitwiseAND(lit((1L << 21) - 1))).as("pos"),
        shiftright(col("_pk"), 21).as("gram_hash"))
  }

  /** MOSS-style overlap detection over [[winnowFingerprints]]: probe
    * documents against a corpus by joining selected gram hashes, then
    * vote on the position offset — a genuine shared RUN (plagiarism,
    * quotation, boilerplate, near-clone spans) shows many matches at ONE
    * aligned offset `pos_a − pos_b`, while coincidental shared grams
    * scatter across offsets. Returns per pair the total match count, the
    * modal offset, and its vote count; `n_at_modal ≈ run length − w − k`
    * for a single shared run.
    *
    * Engine-stable modal vote: offsets are packed `cnt·2^22 +
    * (2^21 − (offset+2^20))` so a plain integer `max` picks the highest
    * count with smallest-offset ties — no argmax nondeterminism.
    *
    * Scale shape: fingerprint tables are ~2/(w+1) of the gram count and
    * never leave their scan; the only data motion is the hash-partitioned
    * equi-join on `gram_hash` plus one (pair, offset) groupBy. Boilerplate
    * grams selected in thousands of corpus documents make hot join keys —
    * `maxHashFreq` (opt-in, like the LSH hot-bucket caps) drops corpus
    * hashes above a selected-occurrence ceiling before the join.
    *
    * @return (id_a — probe, id_b — corpus, n_matches, modal_offset,
    *         n_at_modal), pairs with n_matches ≥ minShared, id_a ≠ id_b
    */
  def winnowOverlap(probe: DataFrame, corpus: DataFrame, k: Int = 5, w: Int = 4,
                    minShared: Long = 2L, maxHashFreq: Long = 0L,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fa = winnowFingerprints(probe, k, w, idCol, textCol)
      .select(col("doc_id").as("id_a"), col("pos").as("pos_a"), col("gram_hash"))
    val fbAll = winnowFingerprints(corpus, k, w, idCol, textCol)
      .select(col("doc_id").as("id_b"), col("pos").as("pos_b"), col("gram_hash"))
    val fb =
      if (maxHashFreq <= 0) fbAll
      else fbAll
        .withColumn("_hn", count(lit(1)).over(Window.partitionBy(col("gram_hash"))))
        .filter(col("_hn") <= maxHashFreq).drop("_hn")
    val offsets = fa.join(fb, Seq("gram_hash"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"), (col("pos_a") - col("pos_b")).as("_off"))
      .agg(count(lit(1)).as("_cnt"))
    offsets
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("_cnt")).as("n_matches"),
        max(col("_cnt") * lit(1L << 22) +
          (lit(1L << 21) - (col("_off") + lit(1L << 20)))).as("_pk"))
      .filter(col("n_matches") >= minShared)
      .select(col("id_a"), col("id_b"), col("n_matches"),
        (lit(1L << 21) - col("_pk").bitwiseAND(lit((1L << 22) - 1)) - lit(1L << 20)).as("modal_offset"),
        shiftright(col("_pk"), 22).as("n_at_modal"))
  }

  /** Character-level Shannon entropy of the document prefix — a cheap
    * quality/compressibility signal (uniform-random text scores near
    * ln|alphabet|, repeated boilerplate near 0) complementing
    * [[lzDensity]]'s parse-based measure. Low-entropy outliers are
    * keyboard-mash / template pages; filtering on an entropy band is a
    * standard pretraining-curation heuristic.
    *
    * Engine-exactness: with character counts c_1..c_m over n = Σc_i
    * prefix characters, H = ln(n) − (Σ c_i·ln c_i)/n nats. Each ln is
    * quantized once to integer micro-nats (`floor(ln·1e6)` — the same
    * lnq contract as lmScore/vocabDrift), making the numerator
    * `n·lnq(n) − Σ c_i·lnq(c_i)` an exact integer; the one final double
    * division of exact longs is IEEE-identical across engines.
    *
    * Scale shape: pure scan-stage higher-order array arithmetic — split
    * to characters, array_distinct, one aggregate over ≤ |alphabet|
    * distinct characters; NO shuffle, nothing leaves the scan. Work per
    * document is O(maxChars·|alphabet|), both bounded constants.
    */
  def charEntropy(docs: DataFrame, maxChars: Int = 200,
                  textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val chars = split(substring(col(textCol), 1, maxChars), "")
    val counts = transform(array_distinct(chars),
      c => size(filter(chars, x => x === c)).cast("long"))
    docs
      .select(col(idCol).as("doc_id"),
        least(length(col(textCol)), lit(maxChars)).cast("long").as("n_chars"),
        aggregate(counts, lit(0L), (acc, c) => acc + c * lnq(c)).as("_sum_clnc_q"))
      .filter(col("n_chars") > 0)
      .withColumn("entropy_num_q", col("n_chars") * lnq(col("n_chars")) - col("_sum_clnc_q"))
      .withColumn("entropy_nats",
        col("entropy_num_q").cast("double") / (col("n_chars").cast("double") * lit(1e6)))
      .select("doc_id", "n_chars", "entropy_num_q", "entropy_nats")
  }

  /** Zipf's-law fit over the top-K vocabulary: OLS slope and intercept of
    * quantized log-frequency against quantized log-rank — a one-row
    * corpus health signal (natural language sits near slope −1; synthetic
    * or template-heavy corpora drift flat, boilerplate-dominated ones
    * steep). Extends [[buildVocab]]'s rank table the way vocab_drift
    * extends its counts.
    *
    * Engine-exactness: x = lnq(rank), y = lnq(count) are exact longs, so
    * all five OLS sums (n, Σx, Σy, Σxy, Σx²) are exact integers
    * (|n·Σxy| < 2⁶² even at 100 TB corpus counts); slope and intercept
    * are then fixed double-expression trees over those integers —
    * IEEE-identical across engines. The 1e6 quantization scale cancels
    * in the slope (dimensionless); the intercept is divided back to nats.
    *
    * Scale shape: the vocabulary aggregation is [[buildVocab]]'s
    * map-side-combinable groupBy + top-K; the fit itself aggregates K
    * rows — driver-sized regardless of corpus scale.
    */
  def zipfFit(docs: DataFrame, topK: Int = 50, textCol: String = "text"): DataFrame = {
    Metrics.lnqOlsFit(
      buildVocab(docs, topK, textCol).select(lnq(col("rank")).as("_x"), lnq(col("n")).as("_y")),
      "n_points", "slope", "intercept")
  }

  /** Heaps'-law fit (Heaps 1978; Herdan): the vocabulary-growth exponent
    * β in V(n) ≈ K·n^β, estimated as the lnq-OLS slope of cumulative
    * vocabulary against cumulative tokens over the doc_id-ordered
    * corpus — the zipfFit twin on the growth axis (healthy natural text
    * sits near β ≈ 0.5; β → 0 means a closed template vocabulary,
    * β → 1 means id-like churn).
    *
    * Scale: the curve is a global prefix sum, which does NOT get a
    * corpus-wide window — new-vocabulary and token counts first
    * aggregate per `sampleEvery`-doc bucket (map-side combinable,
    * #buckets rows), and the cumulative window runs over that bounded
    * spine only. First occurrences are one groupBy(word).min(doc_id).
    */
  def heapsFit(docs: DataFrame, sampleEvery: Long = 8L, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    require(sampleEvery >= 1, "sampleEvery must be positive")
    import org.apache.spark.sql.expressions.Window
    val newVocab = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("_w"))
      .groupBy(col("_w")).agg(min("doc_id").as("_fd"))
      .groupBy(expr(s"_fd div $sampleEvery").as("bucket"))
      .agg(count(lit(1)).as("_nv"))
    val tokens = docs
      .select(expr(s"$idCol div $sampleEvery").as("bucket"),
        size(split(col(textCol), " ")).cast("long").as("_nt"))
      .groupBy(col("bucket")).agg(sum("_nt").as("_nt"))
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    Metrics.lnqOlsFit(tokens
      .join(newVocab, Seq("bucket"), "left")
      .withColumn("_v", sum(coalesce(col("_nv"), lit(0L))).over(w))
      .withColumn("_n", sum(col("_nt")).over(w))
      .select(lnq(col("_n")).as("_x"), lnq(col("_v")).as("_y")),
      "n_points", "beta", "log_k")
  }

  /** Document fingerprint: the k smallest word-hash hex prefixes (a
    * winnowing-style stable sketch) plus a full-text md5. The per-word
    * md5 runs on exploded rows (codegen) rather than inside a
    * higher-order transform (interpreted).
    */
  def fingerprint(docs: DataFrame, textCol: String = "text", k: Int = 4,
                  idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), md5(col(textCol)).as("md5_fp"), explode(split(col(textCol), " ")).as("_w"))
      .withColumn("_p", substring(md5(col("_w")), 1, 8))
      .groupBy(idCol)
      .agg(
        first(col("md5_fp")).as("md5_fp"),
        array_join(slice(array_sort(collect_set(col("_p"))), 1, k), "-").as("min_word_fp"))

  /** Per-group n-gram type/token diversity: distinct n-grams over total
    * n-gram positions — the standard corpus-diversity diagnostic (a
    * generation-heavy or template-heavy source scores low). Exact
    * variant: `count_distinct` shuffles the (group, gram-hash) pairs;
    * [[Hll.distinctTokens]]-style sketching is the 100 TB path when the
    * exact distinct is not required. The final ratio is one division of
    * two exact longs (IEEE-identical across engines).
    */
  def ngramDiversity(docs: DataFrame, n: Int = 3, groupCol: String = "source",
                     textCol: String = "text"): DataFrame =
    docs.select(col(groupCol), explode(ngrams(col(textCol), n)).as("_g"))
      .select(col(groupCol), PortableHash.h60(col("_g")).as("_h"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        countDistinct(col("_h")).cast("long").as("n_distinct"))
      .withColumn("diversity",
        col("n_distinct").cast("double") / col("n_grams").cast("double"))

  /** Log2-bucketed document-length histogram per group — the sequence-
    * length planning surface (what max_seq_len / packing factor fit a
    * corpus). The bucket is `bitlength(n) - 1 = floor(log2 n)` via the
    * minimal-binary-string trick, so it is pure integer/string
    * arithmetic, exact in any engine. Map-side combinable.
    */
  def lengthHistogram(docs: DataFrame, groupCol: String = "source",
                      textCol: String = "text"): DataFrame =
    docs.select(col(groupCol),
        size(split(col(textCol), " ")).cast("long").as("_n"))
      .withColumn("bucket", (length(bin(col("_n"))) - 1).cast("long"))
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("_n").cast("long").as("n_tokens"))
      .withColumn("bucket_lo", expr("shiftleft(cast(1 as bigint), cast(bucket as int))"))

  /** Declared-vs-detected language mismatch rate per group — the ingest
    * monitor that catches mislabeled feeds (a "fr" source suddenly
    * scoring English is a crawler/labeling bug upstream). Deterministic
    * because [[languageId]] is: marker counts + fixed tie order.
    * One map-side-combinable groupBy over the scan.
    */
  /** Term burstiness for the top-K corpus terms (Church & Gale 1995:
    * content words are "bursty" — high corpus frequency concentrated in
    * few documents — while function words spread evenly; cf/df is the
    * classic one-number separator and a stopword-list generator). Both
    * counts exact; the ratio divides last; rank ties → word order.
    *
    * Scale shape: cf is one map-side-combinable word count; df counts
    * over per-doc DISTINCT words (one (doc, word) pre-aggregation);
    * top-K lands via TakeOrdered, the rank window runs on K rows.
    */
  def termBurstiness(docs: DataFrame, topK: Int = 50,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
    val cf = words.groupBy(col("word")).agg(count(lit(1)).as("cf"))
    val df = words.select(col(idCol), col("word")).distinct()
      .groupBy(col("word")).agg(count(lit(1)).as("df"))
    cf.join(df, Seq("word"))
      .orderBy(col("cf").desc, col("word")).limit(topK)
      .withColumn("rank", row_number().over(Window.orderBy(col("cf").desc, col("word"))).cast("long"))
      .withColumn("burstiness", col("cf").cast("double") / col("df").cast("double"))
      .select(col("rank"), col("word"), col("cf").cast("long").as("cf"),
        col("df").cast("long").as("df"), col("burstiness"))
  }

  /** Declared-vs-detected language confusion matrix — the richer
    * companion to [[langidMismatch]]'s rate (the off-diagonal cells say
    * WHICH labels a feed confuses, which is the difference between "the
    * es feed is mislabeled fr" and "the detector can't tell es from
    * fr"). Deterministic for the same reason languageId is.
    * One map-side-combinable groupBy bounded by |langs|².
    */
  def langConfusion(docs: DataFrame): DataFrame =
    languageId(docs)
      .groupBy(col("lang").as("declared"), col("predicted_lang").as("detected"))
      .agg(count(lit(1)).cast("long").as("n_docs"))

  def langidMismatch(docs: DataFrame, groupCol: String = "source"): DataFrame =
    languageId(docs)
      .withColumn("_mis", when(col("predicted_lang") =!= col("lang"), 1L).otherwise(0L))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("_mis").cast("long").as("n_mismatch"))
      .withColumn("mismatch_rate",
        col("n_mismatch").cast("double") / col("n_docs").cast("double"))

  /** URL canonicalization for crawl-level dedup (the RFC 3986 §6
    * normalizations that matter for equivalence, plus the tracking-param
    * strip every production crawler applies): lowercase scheme/host,
    * drop userinfo, drop default ports (http:80 / https:443), collapse
    * duplicate path slashes, strip one trailing slash (except root),
    * drop the fragment, drop `utm_*`/`fbclid`/`gclid` params, and sort
    * the surviving query params byte-wise. Pure regexp/array ops — no
    * backreference replacements (Spark `$1` vs DuckDB `\1` would
    * diverge), so the twin is exact. Scan-stage.
    */
  def urlCanonicalize(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    // fragment goes FIRST: a '?' whose first appearance is inside the
    // fragment ('https://ex.com/app#/route?tab=1') must not resurrect
    // as a query string after the fragment is dropped
    val u = regexp_extract(col(urlCol), "^([^#]*)", 1)
    val scheme = lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val authority = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val hostPort = regexp_replace(authority, "^[^@]*@", "")
    val port = regexp_extract(hostPort, ":([0-9]+)$", 1)
    val host = lower(regexp_replace(hostPort, ":[0-9]+$", ""))
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") && !(scheme === "https" && port === "443")
    val rawPath = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val squashed = regexp_replace(rawPath, "/{2,}", "/")
    val path = when(length(squashed) > 1 && squashed.endsWith("/"),
      squashed.substr(lit(1), length(squashed) - 1)).otherwise(squashed)
    val query = regexp_extract(u, "\\?(.*)$", 1)
    val params = array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.startsWith("utm_") && !p.startsWith("fbclid=") && !p.startsWith("gclid=")))
    val qs = array_join(params, "&")
    docs.withColumn("canon_url", concat(
      scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs))))
  }

  /** Good-Turing frequency-of-frequencies summary per group: hapax and
    * dis legomena counts and the Turing estimate of unseen-word mass
    * p₀ ≈ N₁/N (Good 1953; the standard "how much vocabulary is this
    * corpus still missing" diagnostic — a source whose unseen mass stays
    * high after crawling is still under-sampled, one whose hapax share
    * collapses is saturated/boilerplate). The adjusted hapax probability
    * r* = 2·N₂/N₁ (the Good-Turing discount of count-1 words) ships as
    * the exact integer pair instead of a lossy ratio.
    *
    * Exactness: all counts integer; `p_unseen` is one final double
    * division. Scale shape: one (group, word) map-side-combinable count,
    * one bounded per-group aggregate. No joins, no windows.
    */
  def goodTuring(docs: DataFrame, groupCol: String = "source",
                 textCol: String = "text"): DataFrame =
    docs.select(col(groupCol), explode(split(col(textCol), " ")).as("_w"))
      .groupBy(col(groupCol), col("_w")).agg(count(lit(1)).as("_c"))
      .groupBy(col(groupCol))
      .agg(sum(col("_c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("vocab"),
        sum(when(col("_c") === 1L, 1L).otherwise(0L)).cast("long").as("hapax"),
        sum(when(col("_c") === 2L, 1L).otherwise(0L)).cast("long").as("dis_legomena"))
      .withColumn("p_unseen", col("hapax").cast("double") / col("n_tokens").cast("double"))

  /** DuckDB twin of [[goodTuring]]. */
  def goodTuringSql(groupCol: String = "source"): String =
    s"""WITH w AS (SELECT $groupCol, unnest(string_split(text, ' ')) AS w FROM documents),
       |c AS (SELECT $groupCol, w, count(*) AS c FROM w GROUP BY $groupCol, w)
       |SELECT $groupCol,
       |  CAST(sum(c) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS vocab,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis_legomena,
       |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(sum(c) AS DOUBLE) AS p_unseen
       |FROM c GROUP BY $groupCol""".stripMargin

  /** Out-of-vocabulary rate per group against the corpus top-`vocabSize`
    * vocabulary — the coverage diagnostic run before committing to a
    * tokenizer vocab (a source with high OOV under the candidate vocab
    * will fragment into bytes/unks and train poorly; compare
    * [[tokenFertility]], which measures the same pressure after BPE).
    * The vocabulary is tiny by construction and broadcasts; token
    * classification is scan-stage and the final agg map-side combines.
    */
  def oovRate(docs: DataFrame, vocabSize: Int = 50, groupCol: String = "source",
              textCol: String = "text"): DataFrame = {
    val vocab = buildVocab(docs, vocabSize, textCol)
      .select(col("word"), lit(1L).as("_iv"))
    docs.select(col(groupCol), explode(split(col(textCol), " ")).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        (count(lit(1)) - coalesce(sum("_iv"), lit(0L))).cast("long").as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** DuckDB twin of [[oovRate]]. */
  def oovRateSql(vocabSize: Int = 50, groupCol: String = "source"): String =
    s"""WITH w AS (SELECT $groupCol, unnest(string_split(text, ' ')) AS word FROM documents),
       |v AS (
       |  SELECT word FROM (
       |    SELECT word, count(*) AS n FROM w GROUP BY word)
       |  ORDER BY n DESC, word LIMIT $vocabSize)
       |SELECT $groupCol, CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(count(*) - count(v.word) AS BIGINT) AS n_oov,
       |       CAST(count(*) - count(v.word) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS oov_rate
       |FROM w LEFT JOIN v USING (word)
       |GROUP BY $groupCol""".stripMargin

  /** Cross-document boilerplate share (CCNet/C4-style, Wenzek et al.
    * 2020 §3: common lines repeated across pages): the fraction of a
    * document's n-gram positions covered by grams that occur in at
    * least `minDocs` distinct documents of the same group. Documents
    * dominated by such grams are navigation chrome / templates even
    * when no two full lines match exactly.
    *
    * Scale: both aggregations are map-side-combinable groupBys on
    * (group, gram-hash); the join back to gram positions is a hash
    * equi-join on the same key, carrying only grams that passed the
    * `minDocs` bar (the boilerplate set is the small side — it shrinks
    * as minDocs grows).
    */
  def boilerplateShare(docs: DataFrame, n: Int = 5, minDocs: Int = 3,
                       groupCol: String = "source", idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val grams = docs
      .select(col(idCol), col(groupCol), explode(ngrams(col(textCol), n)).as("_g"))
      .select(col(idCol), col(groupCol), PortableHash.h60(col("_g")).as("_h"))
    val boiler = grams
      .groupBy(col(groupCol), col("_h"))
      .agg(countDistinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col(groupCol), col("_h"), lit(1L).as("_isb"))
    grams
      .join(boiler, Seq(groupCol, "_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        coalesce(sum("_isb"), lit(0L)).cast("long").as("n_boiler"))
      .withColumn("boiler_share",
        col("n_boiler").cast("double") / col("n_grams").cast("double"))
  }

  /** Per-group word-distribution Shannon entropy — the corpus-level twin
    * of [[charEntropy]] (low entropy = a source dominated by a few tokens:
    * templates, logs, generated spam; high = natural prose). The
    * quantized-ln contract keeps the numerator `n·lnq(n) − Σ c·lnq(c)` an
    * exact long; the one double division happens at the end. Two
    * map-side-combinable groupBys — (group, word) counts then the
    * |groups|-row rollup.
    */
  def wordEntropy(docs: DataFrame, groupCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    docs
      .select(col(groupCol), explode(split(col(textCol), " ")).as("_w"))
      .filter(length(col("_w")) > 0)
      .groupBy(col(groupCol), col("_w"))
      .agg(count(lit(1)).cast("long").as("_c"))
      .groupBy(col(groupCol))
      .agg(sum(col("_c")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_types"),
        sum(col("_c") * lnq(col("_c"))).cast("long").as("_sum_clnc_q"))
      .withColumn("entropy_num_q",
        col("n_tokens") * lnq(col("n_tokens")) - col("_sum_clnc_q"))
      .withColumn("entropy_nats",
        col("entropy_num_q").cast("double") / (col("n_tokens").cast("double") * lit(1e6)))
      .select(col(groupCol), col("n_tokens"), col("n_types"),
        col("entropy_num_q"), col("entropy_nats"))
  }

  /** Per-source template-chrome detection via the group-wide longest
    * common prefix/suffix: every page of a templated scrape starts with
    * the same navigation header and ends with the same footer. The
    * group-wide LCP equals the LCP of the lexicographic MIN and MAX
    * strings (any mismatch against either extreme bounds the whole
    * group), so one map-side-combinable min/max groupBy replaces any
    * pairwise comparison; the suffix twin runs the same trick on the
    * reversed prefix window.
    *
    * Engine-exactness: prefix-equality at length i is monotone in i, so
    * `lcp_len = #{ i ≤ cap : a[1..i] = b[1..i] }` — a pure
    * string-compare count, identical in any engine. `cap` bounds the
    * O(cap²) character work per GROUP (not per row — the extremes are
    * two strings), so the post-aggregation cost is constant.
    */
  def templateAffix(docs: DataFrame, groupCol: String = "source",
                    textCol: String = "text", cap: Int = 120): DataFrame = {
    require(cap > 0, "templateAffix: cap must be positive")
    def affixLen(a: Column, b: Column): Column = {
      val m = least(least(length(a), length(b)), lit(cap))
      // sequence(1, 0) would DESCEND in Spark — guard the empty-string case
      when(m <= 0, lit(0L)).otherwise(
        size(filter(sequence(lit(1), m),
          i => substring(a, lit(1), i) === substring(b, lit(1), i))).cast("long"))
    }
    docs
      .select(col(groupCol), col(textCol).as("_t"),
        // right() keeps the whole string when shorter than cap (a negative
        // substring start would return "" for short strings instead)
        reverse(expr(s"right($textCol, $cap)")).as("_r"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("_t")).as("_mint"), max(col("_t")).as("_maxt"),
        min(col("_r")).as("_minr"), max(col("_r")).as("_maxr"))
      .withColumn("lcp_len", affixLen(col("_mint"), col("_maxt")))
      .withColumn("lcs_len", affixLen(col("_minr"), col("_maxr")))
      .withColumn("lcp", substring(col("_mint"), 1, cap).substr(lit(1), col("lcp_len").cast("int")))
      .select(col(groupCol), col("n_docs"), col("lcp_len"), col("lcs_len"), col("lcp"))
  }

  /** License-marker tagging (the license-aware admission pass of code /
    * commons corpora): first matching marker wins by the fixed priority
    * below; pages with no marker tag "none". One codegen CASE over a
    * lowercase contains scan — zero shuffle; pair with a groupBy for the
    * per-source license mix.
    */
  val licenseMarkers: Seq[(String, String)] = Seq(
    "cc" -> "creative commons", "mit" -> "mit license",
    "apache" -> "apache license", "gpl" -> "general public license",
    "arr" -> "all rights reserved")

  def licenseTag(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val lt = lower(col(textCol))
    val tag = licenseMarkers.foldRight(lit("none")) { case ((name, marker), rest) =>
      when(lt.contains(marker), lit(name)).otherwise(rest)
    }
    docs.withColumn("license", tag)
  }

  /** Per-document tf-idf top-k keyword extraction — the classic salient-term
    * summary behind corpus browsing, topic labelling, and per-source keyword
    * drift monitors (cf. Salton & Buckley 1988 term weighting).
    *
    * Scale shape: ONE pass over the text — term frequencies are a
    * map-side-combinable groupBy over the exploded scan, and document
    * frequency is a count window over the same table keyed on the term
    * (a separate df aggregate would re-run the exploded scan: observed as
    * a doubled scan stage in the first cut's plan). N is a 1-row
    * broadcast (a count-star scan that reads no text bytes). The
    * per-document top-k is a rank window Spark executes as
    * WindowGroupLimit — each partition stops materializing a document's
    * candidates past k before the shuffle, never a global sort.
    *
    * Engine-exactness: idf is the quantized-ln contract — `score_q =
    * tf · (lnq(N) − lnq(df))` is an exact long, so ranking (score desc,
    * term asc) is bit-identical in any engine; a corpus-universal term
    * (df = N) scores exactly 0.
    */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3, minDf: Long = 1L,
                    textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK > 0, "tfidfTopTerms: topK must be positive")
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("_w"))
      .filter(length(col("_w")) > 0)
      .groupBy(col("doc_id"), col("_w")).agg(count(lit(1)).cast("long").as("tf"))
    val nDocs = docs.agg(count(lit(1)).cast("long").as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score_q").desc, col("_w"))
    tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("_w"))).cast("long"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .withColumn("score_q", col("tf") * (lnq(col("n_docs")) - lnq(col("df"))))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= topK)
      .select(col("doc_id"), col("_w").as("term"), col("tf"), col("df"),
        col("score_q"), col("_rk").cast("long").as("rank"))
  }

  /** PMI collocation mining (the word2phrase pass of Mikolov et al. 2013 —
    * "new york" should be one token before a vocabulary is committed).
    * Scores adjacent word pairs by the discounted pointwise mutual
    * information `score = (c(ab) − δ) · N / (c(a) · c(b))` and returns the
    * global top-K above `minCount`.
    *
    * Scale shape: bigrams come from a zero-shuffle `zip_with` over each
    * document's word array (no positional self-join); unigram and bigram
    * counts are map-side-combinable groupBys. The vocabulary-bounded
    * unigram table is materialized once ([[Share.materialize]]) and feeds BOTH
    * count lookups and the 1-row total — without it the plan re-runs the
    * token scan for each consumer (observed as 4 scan stages in the
    * first cut). The bigram side is cut to `minCount` survivors before
    * joining; the final top-K is a TakeOrdered.
    *
    * Engine-exactness: `score_q = lnq(c_ab − δ) + lnq(N) − lnq(c_a) −
    * lnq(c_b)` — exact long arithmetic over quantized lns, ties broken by
    * (w1, w2), so the ranked list is engine-stable.
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, discount: Long = 1L,
                      topK: Int = 50, textCol: String = "text"): DataFrame = {
    require(topK > 0, "pmiCollocations: topK must be positive")
    val toks = docs.select(
      filter(split(col(textCol), " "), w => length(w) > 0).as("_ws"))
    val uni = Share.materialize(toks
      .select(explode(col("_ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c")))
    val n1 = greatest(size(col("_ws")) - 1, lit(0))
    val bi = toks
      .select(explode(zip_with(
        slice(col("_ws"), lit(1), n1), slice(col("_ws"), lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_p"))
      .select(col("_p.w1").as("w1"), col("_p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).cast("long").as("c_ab"))
      .filter(col("c_ab") >= minCount && col("c_ab") > discount)
    val total = uni.agg(sum(col("c")).cast("long").as("n_words"))
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("score_q",
        lnq(col("c_ab") - lit(discount)) + lnq(col("n_words")) -
          lnq(col("c_a")) - lnq(col("c_b")))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"), col("score_q"))
      .orderBy(col("score_q").desc, col("w1"), col("w2"))
      .limit(topK)
  }

  /** Interpolated bigram Kneser-Ney held-out scoring (Kneser & Ney 1995;
    * Chen & Goodman 1999's benchmark smoother) — the classic n-gram LM
    * quality score used to rank corpus slices before the expensive
    * neural run (domain-similarity selection à la Moore-Lewis uses
    * exactly this as its in-domain arm). Train counts come from the
    * doc_id % holdoutMod != 0 slice, scores from the held-out rest.
    *
    * Engine-exact by a rational-arithmetic formulation: with discount
    * D = 3/4, every interpolated probability is a ratio of INTEGERS —
    *   p(w2|w1) = [max(4c(w1w2)−3, 0)·D2 + 3·N1+(w1·)·N1+(·w2)]
    *            / [4·c(w1)·D2]
    * (D2 = distinct train bigrams, N1+ the usual fan-out/continuation
    * type counts; unseen contexts back off to pure continuation
    * N1+(·w2)/D2). Per-bigram negative log-likelihood is then
    * lnq(den) − lnq(num) on the quantized-ln integer grid the repo's
    * entropy ladder uses, so DuckDB reproduces every value exactly.
    * A held-out bigram whose w2 was never seen as a continuation has
    * num = 0 — clamped to 1 (a floor probability) and reported in
    * `n_zero` rather than hidden. Products are DECIMAL(38,0) —
    * c(w1w2)·D2 outgrows a long on web-scale corpora.
    *
    * Scale shape: two groupBys over the train bigrams (map-side
    * combinable), three hash joins of the held-out bigrams against
    * keyed count tables, one 1-row broadcast (D2). Nothing quadratic.
    *
    * @return per group: (group, n_bigrams, nll_q, n_zero, nll_nats)
    */
  def knScore(docs: DataFrame, holdoutMod: Long = 4L, groupCol: String = "source",
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(holdoutMod >= 2, "knScore: holdoutMod must leave both slices nonempty")
    val toks = docs.select(col(idCol), col(groupCol),
      filter(split(col(textCol), " "), w => length(w) > 0).as("_ws"))
    val n1 = greatest(size(col("_ws")) - 1, lit(0))
    def bigrams(df: DataFrame): DataFrame = df
      .select(col(groupCol), explode(zip_with(
        slice(col("_ws"), lit(1), n1), slice(col("_ws"), lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_p"))
      .select(col(groupCol), col("_p.w1").as("w1"), col("_p.w2").as("w2"))
    val isHold = pmod(col(idCol), lit(holdoutMod)) === 0L
    val trainBi = Share.materialize(bigrams(toks.filter(!isHold))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).cast("long").as("c12")))
    val contexts = trainBi.groupBy(col("w1"))
      .agg(sum(col("c12")).cast("long").as("c1"),
        count(lit(1)).cast("long").as("n1f"))
    val continuations = trainBi.groupBy(col("w2"))
      .agg(count(lit(1)).cast("long").as("n1b"))
    val d2tab = trainBi.agg(count(lit(1)).cast("long").as("_d2"))
    bigrams(toks.filter(isHold))
      .join(trainBi, Seq("w1", "w2"), "left")
      .join(contexts, Seq("w1"), "left")
      .join(continuations, Seq("w2"), "left")
      .crossJoin(broadcast(d2tab))
      .withColumn("_num", when(col("c1").isNotNull,
          dq(greatest(lit(4L) * coalesce(col("c12"), lit(0L)) - lit(3L), lit(0L))) * dq(col("_d2")) +
            dq(lit(3L)) * dq(col("n1f")) * dq(coalesce(col("n1b"), lit(0L))))
        .otherwise(dq(coalesce(col("n1b"), lit(0L)))))
      .withColumn("_den", when(col("c1").isNotNull,
          dq(lit(4L)) * dq(col("c1")) * dq(col("_d2")))
        .otherwise(dq(greatest(col("_d2"), lit(1L)))))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        sum(lnq(col("_den")) - lnq(greatest(col("_num"), dq(lit(1L)))))
          .cast("long").as("nll_q"),
        sum(when(col("_num") === dq(lit(0L)), 1L).otherwise(0L)).cast("long").as("n_zero"))
      .withColumn("nll_nats",
        col("nll_q").cast("double") / (col("n_bigrams").cast("double") * lit(1e6)))
  }
}
