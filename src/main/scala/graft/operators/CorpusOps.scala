package graft.operators

import graft.functions.PortableHash
import graft.functions.GeoFunctions.{dq, lnq}
import graft.util.SortedScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: test-set
  * contamination measurement, deterministic train/val/test splitting,
  * per-stratum hash sampling, and token-budget sequence packing.
  *
  * All randomness is the portable md5-prefix hash family
  * ([[graft.functions.PortableHash]]): assignments are pure functions of
  * the row key, so they are reproducible across runs, engines, and
  * repartitionings — a re-run of a 100 TB split never moves a document
  * between splits, and an external SQL engine can audit any decision.
  */
object CorpusOps {

  /** Test-set contamination: for each test document, the share of its
    * distinct word n-grams that appear anywhere in the training corpus
    * (the n-gram-overlap decontamination check run before an evaluation —
    * cf. the GPT-3/PaLM appendix methodology, here as a relational
    * operator).
    *
    * Scale shape: both sides shingle in the scan stage
    * ([[graft.plans.WordShingles]]), the training side collapses to
    * *distinct 60-bit gram hashes* (map-side combinable; the join key is
    * 8 bytes regardless of n), and the probe side joins hash-partitioned
    * — no text leaves its scan. A 100 TB train corpus reduces to its
    * distinct-gram hash set once; test sets are tiny by definition.
    * Collisions: a false gram hit needs an h60 collision against the
    * specific test gram (p ≈ |grams|·2⁻⁶⁰) and the oracle runs the same
    * hash join, so results stay engine-exact.
    *
    * @return (doc_id, n_grams, n_contaminated, contamination ∈ [0,1])
    */
  def contamination(test: DataFrame, train: DataFrame, n: Int = 5,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tEx = test
      .select(col(idCol).as("doc_id"), Dedup.shingles(col(textCol), n).as("_sh"))
      .select(col("doc_id"), size(col("_sh")).cast("long").as("n_grams"), explode(col("_sh")).as("_g"))
      .select(col("doc_id"), col("n_grams"), PortableHash.h60(col("_g")).as("_h"))
    val trainGrams = train
      .select(explode(Dedup.shingles(col(textCol), n)).as("_g"))
      .select(PortableHash.h60(col("_g")).as("_h"))
      .distinct()
      .withColumn("_hit", lit(1))
    // left join keeps zero-overlap documents (shingles always emits >= 1
    // gram, so every test doc survives the explode)
    tEx.join(trainGrams, Seq("_h"), "left")
      .groupBy(col("doc_id"))
      .agg(first(col("n_grams")).as("n_grams"), count(col("_hit")).as("n_contaminated"))
      .withColumn("contamination",
        round(col("n_contaminated").cast("double") / col("n_grams").cast("double"), 6))
  }

  /** Span-level decontamination report: for each (test doc, train doc)
    * pair sharing word n-grams, the longest CONTIGUOUS aligned run of
    * matching grams and where it sits in both documents. [[contamination]]
    * answers "how much of this test doc appears in training?"; this
    * answers the auditor's follow-up — "is it one long verbatim span
    * (memorization risk) or scattered common phrases?" — the distinction
    * the GPT-3/PaLM decontamination appendices draw before deciding what
    * to strike.
    *
    * Mechanics: positional n-gram hashes on both sides; matches join on
    * the 8-byte hash; a match at probe position p and corpus position q
    * lies on diagonal d = p − q, and a contiguous shared span is exactly
    * a run of consecutive p on one diagonal — grouped shuffle-free from
    * the join output with the classic `p − row_number()` run key (p is
    * unique within a (pair, diagonal): the diagonal fixes q = p − d and
    * occurrence rows are unique on (p, q)). The longest run per pair is
    * then an integer-packed argmax (length, then smallest probe start,
    * then smallest diagonal — no argmax nondeterminism), the
    * [[TextAnalysis.winnowOverlap]] contract.
    *
    * Scale shape: gram tables never leave their scan; data motion is the
    * hash-partitioned equi-join (volume ∝ true gram matches, not corpus
    * size) plus two groupBys over match rows only. Boilerplate grams
    * occurring in thousands of training docs make hot join keys —
    * `maxHashFreq` (opt-in, same knob as winnowOverlap) caps the corpus
    * side's per-hash occurrence count before the join. Positions are
    * packed into 21-bit fields, and the diagonal field stores diag+2²⁰
    * (diag = pos_a − pos_b spans ±max position), so the true per-document
    * limit is 2²⁰ ≈ 1M grams (~4 MB of text): a scan-stage guard raises a
    * loud error directing to [[chunkDocuments]] if any gram position
    * reaches 2²⁰ — beyond it the packed diagonal would silently borrow
    * into the a_start bits and corrupt the argmax tie-break.
    *
    * @return (id_a — test, id_b — train, n_matches — total matching gram
    *         occurrences, max_run — grams in the longest aligned run,
    *         run_words = max_run + n − 1, a_start / b_start — word
    *         offsets of that run), pairs with max_run ≥ minRun
    */
  def overlapRuns(test: DataFrame, train: DataFrame, n: Int = 5,
                  minRun: Long = 1L, maxHashFreq: Long = 0L,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minRun >= 1L, "minRun must be >= 1")
    // Packing-domain guard: positions must stay < 2^20 or the diagonal
    // field overflows (see scaladoc). Scan-stage conditional — codegen'd,
    // no extra shuffle; fires per offending row with a actionable message.
    val posLimit = 1L << 20
    def guardPos(c: Column): Column = when(c >= lit(posLimit),
      raise_error(concat(
        lit(s"overlapRuns: document has >= $posLimit grams (~4 MB text); " +
          "split oversize documents with chunkDocuments first (gram position "),
        c.cast("string"), lit(")")))).otherwise(c)
    def grams(df: DataFrame, id: String, pos: String) = df
      .select(col(idCol).as(id), posexplode(TextAnalysis.ngrams(col(textCol), n)).as(Seq("_p", "_g")))
      .select(col(id), guardPos(col("_p").cast("long")).as(pos), PortableHash.h60(col("_g")).as("_h"))
    val fa = grams(test, "id_a", "pos_a")
    val fbAll = grams(train, "id_b", "pos_b")
    val fb =
      if (maxHashFreq <= 0) fbAll
      else fbAll
        .withColumn("_hn", count(lit(1)).over(Window.partitionBy(col("_h"))))
        .filter(col("_hn") <= maxHashFreq).drop("_hn")
    val wRun = Window.partitionBy(col("id_a"), col("id_b"), col("_diag")).orderBy(col("pos_a"))
    val runs = fa.join(fb, Seq("_h"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("_diag", col("pos_a") - col("pos_b"))
      .withColumn("_rk", col("pos_a") - row_number().over(wRun))
      .groupBy(col("id_a"), col("id_b"), col("_diag"), col("_rk"))
      .agg(count(lit(1)).as("_len"), min(col("pos_a")).as("_a0"))
    // pk = len·2^42 + (2^21−1−a_start)·2^21 + (2^21−1−(diag+2^20)):
    // integer max = longest run, then smallest probe start, then smallest
    // diagonal. All three fields are nonnegative and < 2^21.
    runs
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("_len")).as("n_matches"),
        max(col("_len") * lit(1L << 42) +
          (lit((1L << 21) - 1) - col("_a0")) * lit(1L << 21) +
          (lit((1L << 21) - 1) - (col("_diag") + lit(1L << 20)))).as("_pk"))
      .filter(shiftright(col("_pk"), 42) >= minRun)
      .select(col("id_a"), col("id_b"), col("n_matches"),
        shiftright(col("_pk"), 42).as("max_run"),
        (shiftright(col("_pk"), 42) + lit(n - 1).cast("long")).as("run_words"),
        (lit((1L << 21) - 1) - shiftright(col("_pk"), 21).bitwiseAND(lit((1L << 21) - 1)))
          .as("a_start"),
        (lit((1L << 21) - 1) - shiftright(col("_pk"), 21).bitwiseAND(lit((1L << 21) - 1)) -
          (lit((1L << 21) - 1) - col("_pk").bitwiseAND(lit((1L << 21) - 1)) - lit(1L << 20)))
          .as("b_start"))
  }

  /** Corpus snapshot diff — the ingest-monitoring pass between two crawl
    * snapshots: per document id, `added` (new only), `removed` (old
    * only), `changed` (both, content hash differs) or `same`. Content
    * identity is the portable 60-bit md5-prefix hash, so two engines —
    * or two runs years apart — agree on every verdict.
    *
    * Scale shape: scan-stage hashing on both sides (the text never
    * survives past its scan) + ONE full-outer hash equi-join on the id;
    * output rows carry only (id, two longs, status). At 100 TB the join
    * keys on the document id — co-partitioned snapshots (bucketed by id)
    * make it shuffle-free.
    *
    * @return (doc_id, old_hash, new_hash, status)
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val o = oldDocs.select(col(idCol).as("doc_id"), PortableHash.h60(col(textCol)).as("old_hash"))
    val n = newDocs.select(col(idCol).as("doc_id"), PortableHash.h60(col(textCol)).as("new_hash"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_hash").isNull, lit("added"))
          .when(col("new_hash").isNull, lit("removed"))
          .when(col("old_hash") === col("new_hash"), lit("same"))
          .otherwise(lit("changed")))
  }

  /** Deterministic train/val/test assignment: bucket =
    * h60(salt ‖ ':' ‖ id) mod Σweights, split = the weight band the
    * bucket falls in. Pure per-row projection — no shuffle, no state, and
    * adding documents never reassigns existing ones.
    *
    * @param weights ordered (name, weight) bands, e.g.
    *                ("train",80), ("val",10), ("test",10)
    */
  def hashSplit(docs: DataFrame,
                weights: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10),
                salt: String = "graft",
                idCol: String = "doc_id"): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "weights must be positive")
    val total = weights.map(_._2).sum
    val bucket = pmod(PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string"))), lit(total.toLong))
    val cum = weights.map(_._2).scanLeft(0)(_ + _).tail
    val split = weights.zip(cum).foldRight(lit(weights.last._1)) {
      case (((name, _), bound), rest) => when(bucket < bound, lit(name)).otherwise(rest)
    }
    docs.withColumn("split", split)
  }

  /** Per-stratum deterministic sampling: keep a row iff
    * h60(salt ‖ ':' ‖ id) mod 10000 < the stratum's rate (basis points).
    * The stratum→rate map rides along as a literal map (broadcast-free
    * lookup in the scan stage); unknown strata fall back to `defaultBp`.
    * The standard rebalancing step (downsample the head language, keep
    * the tail) as one codegen'd filter.
    */
  def stratifiedSample(docs: DataFrame, strataCol: String,
                       ratesBp: Map[String, Int], defaultBp: Int,
                       salt: String = "graft",
                       idCol: String = "doc_id"): DataFrame = {
    require((defaultBp +: ratesBp.values.toSeq).forall(r => r >= 0 && r <= 10000),
      "rates are basis points in [0, 10000]")
    val bucket = pmod(PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string"))), lit(10000L))
    val rate = coalesce(element_at(typedlit(ratesBp), col(strataCol)), lit(defaultBp))
    docs.filter(bucket < rate)
  }

  /** Deterministic training-order shuffle + sharding: rows order by the
    * portable hash of their key (a reproducible pseudo-random permutation
    * — no RNG state, no seed file), shard = hash mod `shards`, position =
    * dense rank in hash order within the shard. Re-running on the same
    * corpus reproduces the exact byte order of every shard, which is what
    * makes a 100 TB training run resumable and auditable.
    *
    * Scale shape: one shuffle on the shard id, then a sort-within-
    * partitions by hash and a running row count per shard (`row_number`
    * over the shard partition streams — no buffering) — exactly the
    * repartition+sort a sharded writer needs anyway, so shuffling into
    * training order costs nothing beyond the write itself.
    */
  /** End-to-end corpus curation — the composition a real training-data
    * pipeline runs, as one operator: quality filter → repetition filter
    * → near-dup pruning (MinHash+LSH pairs → connected components, the
    * smallest id per component survives) → mixture rebalancing →
    * deterministic split assignment. Each stage is the library operator
    * it names; this wires them in the order where each decision is made
    * on the corpus the previous stage produced (the rebalance thresholds,
    * for example, derive from *post-dedup* counts — dedup first, or the
    * mixture drifts by however unevenly duplicates are distributed).
    *
    * Scale notes: the filters and the split are scan-stage; the dedup
    * stage is the banded equi-join pipeline; rebalancing collects only
    * #groups counts. Nothing here adds a shuffle beyond the stages'own.
    *
    * @return kept documents with their split: (doc_id, lang, source, split)
    */
  def curate(docs: DataFrame,
             targetWeights: Seq[(String, Long)],
             splitWeights: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10),
             minHashes: Int = 64, bands: Int = 16, dupThreshold: Double = 0.5,
             idCol: String = "doc_id",
             share: DataFrame => DataFrame = identity): DataFrame = {
    val qOk = TextAnalysis.qualityScore(docs)
      .filter(col("quality_ok")).select(col(idCol))
    val rOk = TextAnalysis.repetitionMetrics(docs, idCol = idCol)
      .filter(col("repetition_ok")).select(col(idCol))
    // `base` appears in several downstream lineages (the LSH pipeline
    // reads it three times, prune/rebalance/split once more each) and
    // `deduped` is acted on twice (rebalance's count collect + the final
    // output) — share both so the filter semi-joins and the anti-join run
    // once instead of per consumer
    val base = share(docs
      .join(qOk, Seq(idCol), "left_semi")
      .join(rOk, Seq(idCol), "left_semi"))
    val pairs = Dedup.minHashLsh(base, idCol = idCol,
      numHashes = minHashes, bands = bands, verifyThreshold = dupThreshold)
    val deduped = share(Dedup.pruneDuplicates(base, pairs, idCol = idCol))
    val balanced = rebalanceMixture(deduped, targetWeights, idCol = idCol)
    hashSplit(balanced, splitWeights, idCol = idCol)
      .select(col(idCol), col("lang"), col("source"), col("split"))
  }

  /** Mixture rebalancing: thin an imbalanced corpus to a target
    * group mixture (language/domain weights), keeping the largest corpus
    * that achieves the target exactly — the scarcest group (smallest
    * count/weight ratio) survives in full and every other group
    * hash-thins down to proportion. The per-group acceptance thresholds
    * are *derived from the data*, which is what distinguishes this from
    * [[stratifiedSample]] (whose rates are given).
    *
    * Determinism: the scarcest group is chosen by integer
    * cross-multiplication (`n_a·w_b < n_b·w_a`, ties to the smaller
    * group name) and thresholds are integer floor-divisions
    * `bp·w_g·n_s / (w_s·n_g)` in BigInt — no float ever enters a
    * boundary decision, so an external SQL engine reproduces every
    * accept/reject bit-for-bit. Acceptance is the same salted
    * basis-point hash as [[stratifiedSample]]: adding documents never
    * flips earlier decisions.
    *
    * Scale shape: one map-side-combinable groupBy collects #groups
    * counts to the driver (constant-size, like a centroid update), then
    * acceptance is a scan-stage filter against a broadcast-literal
    * threshold map. Target groups absent from the corpus are ignored
    * (the alternative — an empty result — helps nobody); corpus groups
    * outside the target are dropped.
    *
    * @param targetWeights relative integer weights per group, e.g.
    *                      ("en", 5), ("de", 3); need not sum to anything
    */
  def rebalanceMixture(docs: DataFrame, targetWeights: Seq[(String, Long)],
                       groupCol: String = "lang", salt: String = "mix",
                       idCol: String = "doc_id"): DataFrame = {
    require(targetWeights.nonEmpty, "need at least one target group")
    require(targetWeights.forall(_._2 > 0), "target weights must be positive")
    require(targetWeights.map(_._1).distinct.size == targetWeights.size, "duplicate target group")
    val bp = 10000L

    val weights = targetWeights.toMap
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
      .collect()
      .flatMap(r => Option(r.getString(0)).filter(weights.contains).map(_ -> r.getLong(1)))
      .toMap
    require(counts.nonEmpty, s"no target group present in '$groupCol'")

    // scarcest group: min count/weight ratio by integer cross-compare
    val present = targetWeights.filter { case (g, _) => counts.contains(g) }
    val (sg, sw) = present.reduce { (a, b) =>
      val cmp = BigInt(counts(a._1)) * b._2 - BigInt(counts(b._1)) * a._2
      if (cmp < 0 || (cmp == 0 && a._1 < b._1)) a else b
    }
    val thresholds: Map[String, Long] = present.map { case (g, w) =>
      g -> (BigInt(bp) * w * counts(sg) / (BigInt(sw) * counts(g))).toLong
    }.toMap

    val bucket = pmod(PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string"))), lit(bp))
    val thr = element_at(typedlit(thresholds), col(groupCol))
    docs.filter(thr.isNotNull && bucket < thr)
  }

  /** Temperature-based mixture flattening (the multilingual-LM sampling
    * rule: group probability ∝ p^(1/T), downsample-only). With
    * acceptance a_g = (n_min/n_g)^(1−1/T) the scarcest group keeps
    * everything and abundant groups shed mass until the kept mix is
    * ∝ n^(1/T); T = 1 is a pass-through, T → ∞ approaches a uniform
    * group mix. (Reference regime: the α = 1/T exponentiated sampling
    * used by multilingual pretraining pipelines à la XLM-R.)
    *
    * Determinism contract: per-group thresholds are basis points out of
    * 10000, computed once from the integer group counts (the one
    * transcendental, pow, runs on those integers' exact double ratio and
    * is floored to the bp grid — a last-ulp libm divergence flips the
    * floor only with probability ~1e-12, the [[TextAnalysis.bm25]]
    * quantization contract); per-row acceptance is the same portable-hash
    * bucket as [[rebalanceMixture]]. #groups driver state, scan-stage
    * acceptance, no shuffle of `docs` itself.
    */
  def temperatureSample(docs: DataFrame, temperature: Double,
                        groupCol: String = "lang", salt: String = "temp",
                        idCol: String = "doc_id"): DataFrame = {
    require(temperature >= 1.0, "temperatureSample: T >= 1 (downsample-only flattening)")
    val bp = 10000L
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
      .collect()
      .flatMap(r => Option(r.getString(0)).map(_ -> r.getLong(1)))
      .toMap
    require(counts.nonEmpty, s"temperatureSample: no non-null groups in '$groupCol'")
    val nMin = counts.values.min
    val expo = 1.0 - 1.0 / temperature
    val thresholds: Map[String, Long] = counts.map { case (g, n) =>
      g -> math.floor(bp * StrictMath.pow(nMin.toDouble / n.toDouble, expo)).toLong
    }
    val bucket = pmod(PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string"))), lit(bp))
    val thr = element_at(typedlit(thresholds), col(groupCol))
    docs.filter(thr.isNotNull && bucket < thr)
  }

  /** Epoch-style mixture UPSAMPLING: repeat scarce groups until the
    * group mix matches the target weights, keeping the most
    * over-represented group at exactly one epoch — the "source seen N
    * epochs per training pass" regime of large-LM data mixtures, and
    * the dual of [[rebalanceMixture]] (which thins). Upsample when the
    * scarce data is too valuable to waste and repetition is acceptable;
    * downsample when abundance allows.
    *
    * Per group the exact repeat ratio r_g = (w_g·n_ref)/(w_ref·n_g) ≥ 1
    * is quantized to basis points `rq = ⌊bp·w_g·n_ref/(w_ref·n_g)⌋` in
    * BigInt; every row gets ⌊rq/bp⌋ full copies plus one more iff its
    * salted hash bucket < rq mod bp, so group sizes land within one
    * document of the target mixture and every copy count is a pure
    * function of the row key (an external engine reproduces the output
    * bit-for-bit; re-runs never change a document's epoch count).
    * Copies carry a 0-based `epoch` column so a downstream
    * [[deterministicShuffle]] spreads replicas across shards instead of
    * leaving them adjacent. Groups outside the target drop (matching
    * [[rebalanceMixture]]).
    *
    * Scale shape: one map-side-combinable groupBy collects #groups
    * counts to the driver, then copy counts are a scan-stage
    * sequence-explode against broadcast-literal thresholds — `docs`
    * itself never shuffles, and output volume is the mixture-corrected
    * corpus (the intended growth, never more).
    */
  def upsampleMixture(docs: DataFrame, targetWeights: Seq[(String, Long)],
                      groupCol: String = "lang", salt: String = "epoch",
                      idCol: String = "doc_id"): DataFrame = {
    require(targetWeights.nonEmpty, "need at least one target group")
    require(targetWeights.forall(_._2 > 0), "target weights must be positive")
    require(targetWeights.map(_._1).distinct.size == targetWeights.size, "duplicate target group")
    val bp = 10000L

    val weights = targetWeights.toMap
    val counts = docs.groupBy(col(groupCol)).agg(count(lit(1)).as("_n"))
      .collect()
      .flatMap(r => Option(r.getString(0)).filter(weights.contains).map(_ -> r.getLong(1)))
      .toMap
    require(counts.nonEmpty, s"no target group present in '$groupCol'")

    // reference group: MAX count/weight ratio (most over-represented —
    // it repeats exactly once) by integer cross-compare, ties to the
    // smaller group name — the mirror image of rebalanceMixture's
    // scarcest-group selection
    val present = targetWeights.filter { case (g, _) => counts.contains(g) }
    val (rg, rw) = present.reduce { (a, b) =>
      val cmp = BigInt(counts(a._1)) * b._2 - BigInt(counts(b._1)) * a._2
      if (cmp > 0 || (cmp == 0 && a._1 < b._1)) a else b
    }
    val repeats: Map[String, Long] = present.map { case (g, w) =>
      g -> (BigInt(bp) * w * counts(rg) / (BigInt(rw) * counts(g))).toLong
    }.toMap

    val bucket = pmod(PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string"))), lit(bp))
    val rq = element_at(typedlit(repeats), col(groupCol))
    // base copies via subtract-remainder (exact in doubles: the numerator
    // is a multiple of bp, and correctly-rounded division of exact
    // operands yields the exact integer)
    val copies = ((rq - pmod(rq, lit(bp))) / lit(bp)).cast("long") +
      when(bucket < pmod(rq, lit(bp)), lit(1L)).otherwise(lit(0L))
    docs.filter(rq.isNotNull)
      .withColumn("_copies", copies)
      .withColumn("epoch", explode(sequence(lit(0L), col("_copies") - lit(1L))))
      .drop("_copies")
  }

  def deterministicShuffle(docs: DataFrame, shards: Int, salt: String = "graft",
                           idCol: String = "doc_id"): DataFrame = {
    require(shards > 0, "shards must be positive")
    import org.apache.spark.sql.expressions.Window
    val h = PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    docs.withColumn("_h", h)
      .withColumn("shard", pmod(col("_h"), lit(shards.toLong)))
      .withColumn("pos",
        row_number().over(Window.partitionBy("shard").orderBy(col("_h"), col(idCol))).cast("long") - 1L)
      .drop("_h")
  }

  /** Greedy token-budget packing: within each group (shard key), walk
    * documents in `idCol` order and start a new bin whenever adding the
    * next document would exceed `budgetTokens`; a single over-budget
    * document gets a bin of its own. The sequence-packing step that turns
    * a filtered corpus into fixed-budget training examples.
    *
    * Scale shape: each group's documents in id order are one
    * [[SortedScan]] run carrying two longs of state (same pattern as the
    * staypoint scan — groups are the parallelism axis, group size is
    * unbounded). Token counts default to whitespace tokens (matching
    * [[TextAnalysis.tokenCount]]'s `ws_tokens`); pass `tokenCountCol` to
    * pack by a precomputed count instead — e.g. real tokenizer counts
    * from [[TextAnalysis.bpeEncode]], so training examples are budgeted
    * by what the tokenizer will actually emit.
    *
    * @return (group, doc_id, tokens, bin) with bins dense from 0 per group
    */
  def packSequences(docs: DataFrame, budgetTokens: Long,
                    groupCol: String = "lang",
                    idCol: String = "doc_id", textCol: String = "text",
                    tokenCountCol: Option[String] = None): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    val outSchema = StructType(Seq(
      StructField(groupCol, StringType, nullable = true),
      StructField("doc_id", LongType, nullable = false),
      StructField("tokens", LongType, nullable = false),
      StructField("bin", LongType, nullable = false)))

    val tokens = tokenCountCol.map(c => col(c).cast("long"))
      .getOrElse(size(split(col(textCol), " ")).cast("long"))
    val stream = docs.select(col(groupCol).cast("string"), col(idCol).cast("long").as("doc_id"),
      tokens.as("tokens"))
    SortedScan(stream, Seq(groupCol), Seq("doc_id"), outSchema) { rows =>
      // one group's documents in id order; bin -1 = before the first
      var bin = -1L
      var running = 0L
      rows.map { r =>
        val tok = r.getLong(2)
        if (bin < 0 || running + tok > budgetTokens) { bin += 1L; running = tok }
        else running += tok
        Row(r.getString(0), r.getLong(1), tok, bin)
      }
    }
  }

  /** Packing-efficiency report over [[packSequences]] output: per group,
    * how many bins the greedy pack used, how full they are (integer
    * basis points — `10000·Σtokens div (bins·budget)`, exact in any
    * engine), and how many documents exceed the budget outright (each
    * burns a dedicated overflowing bin — the "raise max_seq_len or chunk
    * first" signal). One map-side-combinable groupBy over the packed
    * table; |groups| rows out.
    */
  def packingEfficiency(packed: DataFrame, budgetTokens: Long,
                        groupCol: String = "lang"): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    packed.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        (max(col("bin")) + 1L).cast("long").as("n_bins"),
        sum(col("tokens")).cast("long").as("sum_tokens"),
        sum((col("tokens") > budgetTokens).cast("long")).cast("long").as("n_oversize"))
      .withColumn("fill_bp", expr(s"(10000 * sum_tokens) div (n_bins * ${budgetTokens}L)"))
  }

  /** Per-group corpus statistics ("corpus card"): document count, token
    * volume, character volume, and vocabulary size per (group) — the
    * summary table every curation run publishes with its output.
    *
    * Vocabulary size comes in two flavors: `distinct_tokens` (exact — an
    * explode + count(distinct), which shuffles the token stream and is
    * the oracle-checkable reference) and `distinct_tokens_est`
    * (HyperLogLog++ `approx_count_distinct`, the 100 TB path: sketch
    * merges are constant-size per group, no token shuffle survives the
    * partial aggregation). The estimate is deterministic for a given
    * input (register-max merges are order-insensitive) but
    * engine-specific, so it is spec-gated against the exact value
    * (within HLL's rsd) rather than oracle-hashed.
    *
    * @return (group..., n_docs, n_tokens, n_chars, distinct_tokens,
    *         distinct_tokens_est)
    */
  def corpusStats(docs: DataFrame, groupCols: Seq[String] = Seq("lang", "source"),
                  textCol: String = "text", rsd: Double = 0.02): DataFrame = {
    val words = filter(split(col(textCol), " "), w => length(w) > 0)
    // doc-grain aggregates and token-grain distincts are different grains:
    // two map-side-combinable groupBys joined on the (tiny) group key beat
    // one exploded aggregation (where doc counts/sums would need
    // de-duplication against the token fan-out)
    val docGrain = docs
      .select(groupCols.map(col) :+ size(words).cast("long").as("_n")
        :+ length(col(textCol)).cast("long").as("_c"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("_n")).as("n_tokens"), sum(col("_c")).as("n_chars"))
    val tokenGrain = docs
      .select(groupCols.map(col) :+ explode(words).as("_t"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count_distinct(col("_t")).as("distinct_tokens"),
        approx_count_distinct(col("_t"), rsd).as("distinct_tokens_est"))
    docGrain.join(tokenGrain, groupCols, "left")
      .na.fill(0L, Seq("distinct_tokens", "distinct_tokens_est"))
      .select(groupCols.map(col) ++ Seq(col("n_docs"), col("n_tokens"), col("n_chars"),
        col("distinct_tokens"), col("distinct_tokens_est")): _*)
  }

  /** Source-concentration metrics per group — the "is this language's
    * corpus one crawl in a trenchcoat?" ingest-monitoring row: per
    * `groupCol`, the Herfindahl–Hirschman index Σ(nᵢ/N)² and the top
    * source's share over `overCol`. HHI near 1/n_sources = balanced,
    * near 1 = monoculture; tracked across crawls it flags silent
    * collapses of a language onto a single domain.
    *
    * Engine-exactness: numerator Σnᵢ² and N are exact longs (Σnᵢ² < 2⁶³
    * up to ~3·10⁹ docs per (group, source) — guarded); hhi and top_share
    * are single divisions of exact integers.
    *
    * Scale shape: two map-side-combinable groupBys, the first bounded by
    * the (group × source) domain, the second by |groups|. Nothing
    * corpus-sized shuffles.
    */
  def concentration(docs: DataFrame, groupCol: String = "lang",
                    overCol: String = "source"): DataFrame =
    docs
      .groupBy(col(groupCol), col(overCol)).agg(count(lit(1)).as("_n"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("_n")).as("n_docs"),
        sum(col("_n") * col("_n")).as("_sumsq"),
        max(col("_n")).as("_maxn"))
      .withColumn("hhi",
        col("_sumsq").cast("double") / (col("n_docs") * col("n_docs")).cast("double"))
      .withColumn("top_share", col("_maxn").cast("double") / col("n_docs").cast("double"))
      .select(col(groupCol), col("n_sources"), col("n_docs"), col("hhi"), col("top_share"))

  /** Gini coefficient of the per-`overCol` document counts inside each
    * `groupCol` — the inequality companion to [[concentration]]'s HHI
    * (HHI weights the head; Gini reads the whole Lorenz curve, the
    * standard "how skewed is my source mix" number in data-mixture
    * papers). With counts x₁ ≤ … ≤ xₙ ranked ascending (ties broken by
    * the source name so the rank — and hence the sum — is deterministic;
    * Σi·xᵢ is invariant under permutations within a tie group anyway),
    * G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx). Every sum is an exact long; the
    * one division happens last.
    *
    * Scale shape: the count table is one map-side-combinable groupBy
    * bounded by the (group × source) domain; the rank window and final
    * aggregate run over that bounded table, never over documents.
    */
  def gini(docs: DataFrame, groupCol: String = "lang",
           overCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col("_n"), col(overCol))
    docs
      .groupBy(col(groupCol), col(overCol)).agg(count(lit(1)).as("_n"))
      .withColumn("_i", row_number().over(w).cast("long"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_sources"),
        sum(col("_n")).as("n_docs"),
        sum(col("_i") * col("_n")).as("_swr"))
      .withColumn("gini",
        (col("_swr") * lit(2L) - (col("n_sources") + lit(1L)) * col("n_docs")).cast("double")
          / (col("n_sources") * col("n_docs")).cast("double"))
      .select(col(groupCol), col("n_sources"), col("n_docs"), col("gini"))
  }

  /** Hierarchical corpus report card via native ROLLUP: doc count, word
    * and char mass at every prefix level of the grouping hierarchy —
    * (lang, source), (lang, ·), (·, ·) in one aggregation — the summary
    * table every mixture decision starts from, with subtotals and the
    * grand total computed in the SAME pass instead of one groupBy per
    * level. Rolled-up levels surface as a sentinel (default "<all>") so
    * the output is null-free and engine-portable.
    *
    * Scale shape: Catalyst plans rollup as one Expand (×levels) feeding
    * one map-side-combinable hash aggregate — the corpus is read once
    * and the exchange carries only (hierarchy × level) partial rows.
    */
  def rollupCard(docs: DataFrame, groupCols: Seq[String] = Seq("lang", "source"),
                 textCol: String = "text", sentinel: String = "<all>"): DataFrame = {
    require(groupCols.nonEmpty, "rollupCard: need at least one grouping column")
    docs
      .withColumn("_ws", size(split(col(textCol), " ")).cast("long"))
      .withColumn("_ch", length(col(textCol)).cast("long"))
      .rollup(groupCols.map(col): _*)
      // grouping() (not coalesce) marks rolled-up levels: a genuine NULL
      // group value — or a literal sentinel string in the data — must
      // stay distinguishable from a subtotal row
      .agg(count(lit(1)).cast("long").as("n_docs"),
        (sum(col("_ws")).as("sum_words") +:
          sum(col("_ch")).as("sum_chars") +:
          groupCols.map(c => grouping(col(c)).as(s"_lvl_$c"))): _*)
      .select(groupCols.map(c =>
        when(col(s"_lvl_$c") === 1, lit(sentinel)).otherwise(col(c)).as(c)) ++ Seq(
        col("n_docs"), col("sum_words"), col("sum_chars")): _*)
  }

  /** Cross-tab corpus card via native GROUPING SETS — the non-prefix
    * sibling of [[rollupCard]]: per-lang marginals, per-source marginals
    * and the full (lang, source) cross cells in ONE pass (rollup can
    * only produce prefix levels; the per-source marginal would need a
    * second scan). Catalyst plans this as one Expand (×3 sets) into one
    * map-side-combinable hash aggregate. Same grouping()-sentinel
    * convention as rollupCard.
    */
  def groupingSetsCard(docs: DataFrame, g1: String = "lang", g2: String = "source",
                       textCol: String = "text", sentinel: String = "<all>"): DataFrame =
    docs
      .withColumn("_ws", size(split(col(textCol), " ")).cast("long"))
      .withColumn("_ch", length(col(textCol)).cast("long"))
      .groupingSets(Seq(Seq(col(g1)), Seq(col(g2)), Seq(col(g1), col(g2))),
        col(g1), col(g2))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("_ws")).as("sum_words"), sum(col("_ch")).as("sum_chars"),
        grouping(col(g1)).as("_l1"), grouping(col(g2)).as("_l2"))
      .select(
        when(col("_l1") === 1, lit(sentinel)).otherwise(col(g1)).as(g1),
        when(col("_l2") === 1, lit(sentinel)).otherwise(col(g2)).as(g2),
        col("n_docs"), col("sum_words"), col("sum_chars"))

  /** Exact global rank of every row under the total order (valueCol,
    * idCol) WITHOUT a single-partition window: range-repartition on the
    * order key, rank locally per partition, then add each partition's
    * start offset (per-partition counts collected to the driver —
    * bounded by `partitions`, the classic sorted-zipWithIndex shape).
    * The result is a pure function of the total order, so it is exact
    * under any partitioning and any engine.
    */
  private[operators] def globalRank(df: DataFrame, valueCol: String, idCol: String,
                                    rankName: String, partitions: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sorted = df
      .repartitionByRange(partitions, col(valueCol), col(idCol))
      .withColumn("_pid", spark_partition_id())
    val local = sorted.withColumn("_r",
      row_number().over(Window.partitionBy("_pid").orderBy(col(valueCol), col(idCol))).cast("long"))
    val cnt = local.groupBy(col("_pid")).agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = cnt.map(_._1).zip(cnt.map(_._2).scanLeft(0L)(_ + _))
    val offDf = df.sparkSession.createDataFrame(offsets.toSeq)
      .toDF("_pid", "_off")
    local.join(broadcast(offDf), Seq("_pid"))
      .withColumn(rankName, col("_r") + col("_off"))
      .drop("_pid", "_r")
  }

  /** Pearson and Spearman correlation between two integer per-document
    * scores — the agreement check run before swapping one quality signal
    * for a cheaper one (a high-rank-correlation proxy can replace an
    * expensive scorer). Pearson runs on the raw values (five exact sums,
    * cross terms in DECIMAL(38,0) — n·Σab overflows a long at corpus
    * scale); Spearman on exact dense global ranks under the
    * deterministic total order (value, id) — ties broken by id, the
    * documented convention (not fractional ranks), so Σd² is exact.
    *
    * Scale shape: no single-partition window anywhere — ranks come from
    * [[globalRank]]'s range-repartition + offset shape (driver state =
    * `partitions` counts); the rank join is an equi-join on the unique
    * id; everything else is one bounded aggregate.
    */
  def scoreCorrelation(docs: DataFrame, aCol: String, bCol: String,
                       idCol: String = "doc_id",
                       partitions: Int = 32): DataFrame = {
    val base = docs.select(col(idCol).as("_id"),
      col(aCol).cast("long").as("_a"), col(bCol).cast("long").as("_b"))
    val ra = globalRank(base.select(col("_id"), col("_a")), "_a", "_id", "_ra", partitions)
      .select(col("_id"), col("_ra"))
    val rb = globalRank(base.select(col("_id"), col("_b")), "_b", "_id", "_rb", partitions)
      .select(col("_id"), col("_rb"))
    base.join(ra, Seq("_id")).join(rb, Seq("_id"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("_a")).as("_sa"), sum(col("_b")).as("_sb"),
        sum(dq(col("_a")) * dq(col("_b"))).as("_sab"),
        sum(dq(col("_a")) * dq(col("_a"))).as("_saa"),
        sum(dq(col("_b")) * dq(col("_b"))).as("_sbb"),
        sum(dq(col("_ra") - col("_rb")) * dq(col("_ra") - col("_rb"))).as("_sdd"))
      .withColumn("pearson",
        (dq(col("n_docs")) * col("_sab") - dq(col("_sa")) * dq(col("_sb"))).cast("double")
          / (sqrt((dq(col("n_docs")) * col("_saa") - dq(col("_sa")) * dq(col("_sa"))).cast("double"))
            * sqrt((dq(col("n_docs")) * col("_sbb") - dq(col("_sb")) * dq(col("_sb"))).cast("double"))))
      .withColumn("spearman",
        lit(1.0) - (lit(6.0) * col("_sdd").cast("double"))
          / (dq(col("n_docs")) * dq(col("n_docs")) * dq(col("n_docs")) - dq(col("n_docs"))).cast("double"))
      .select(col("n_docs"), col("pearson"), col("spearman"))
  }

  /** Length-curriculum stage assignment: per `groupCol`, split documents
    * into `stages` bands by BPE-ish token count using EXACT per-group
    * quantile boundaries — the short→long ordering curricula schedule
    * training on. Value-based banding (stage s ⇔ tokens in
    * (bound_{s-1}, bound_s]) rather than rank-based ntile: a global
    * rank window would single-partition the corpus, while the exact
    * boundaries come from [[exactQuantiles]]'s value-domain-bounded
    * count table and the assignment is a scan-stage comparison against
    * a broadcast |groups|-row boundary table. Ties on a boundary value
    * all land in the lower stage — deterministic, engine-exact, and
    * stable under repartitioning (rank-based ntile is none of these at
    * equal values).
    */
  def curriculumStages(docs: DataFrame, stages: Int = 4, groupCol: String = "lang",
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(stages >= 2 && stages <= 1000, s"stages must be in [2, 1000], got $stages")
    val qs = (1 until stages).map(i => i * 10000 / stages)
    val wt = TextAnalysis.tokenCount(docs, textCol)
      .select(col(idCol), col(groupCol), col("bpe_tokens"))
    val bCols = qs.map(q => max(when(col("q_bp") === q.toLong, col("value"))).as(s"_b$q"))
    val bounds = exactQuantiles(wt, "bpe_tokens", qs, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(bCols.head, bCols.tail: _*)
    val stageExpr = qs.foldLeft(lit(1L))((acc, q) =>
      acc + when(col("bpe_tokens") > col(s"_b$q"), 1L).otherwise(0L))
    wt.join(broadcast(bounds), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("bpe_tokens"), stageExpr.as("stage"))
  }

  /** Keep the k highest-quality documents per group — the "best N per
    * domain" curation cut. Ranking is deterministic: quality signals
    * first, then the id as the tie-break. One shuffle on the group key;
    * Spark inserts WindowGroupLimit, so each map task keeps only its
    * local top-k before the exchange.
    *
    * @return the surviving documents with their rank (1-based)
    */
  def keepTopKPerGroup(docs: DataFrame, k: Int, groupCol: String = "source",
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val scored = TextAnalysis.qualityScore(docs, textCol)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("stopword_ratio").desc, col("n_words").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col(groupCol), col("rank"))
  }

  /** Deterministic per-host document cap — the crawl-curation rule that
    * stops a handful of mega-hosts from dominating the corpus (C4 caps
    * pages per domain; RefinedWeb dedups then caps). Keeps at most
    * `maxPerHost` documents per host, chosen by portable-hash order with
    * id tie-break: which documents survive is a pure function of
    * (salt, id), independent of partitioning, engine, or corpus order.
    *
    * Scale shape: one shuffle on host + a rank window whose limit pushes
    * below the exchange (WindowGroupLimit, same plan as
    * [[keepTopKPerGroup]]) — hot hosts never materialize beyond the cap
    * per partition.
    *
    * @return input columns + host_rank (1-based within host)
    */
  def capPerHost(docs: DataFrame, maxPerHost: Int, hostCol: String = "host",
                 salt: String = "hostcap", idCol: String = "doc_id"): DataFrame = {
    require(maxPerHost > 0, "maxPerHost must be positive")
    import org.apache.spark.sql.expressions.Window
    val h = PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col(hostCol)).orderBy(h, col(idCol))
    docs
      .withColumn("host_rank", row_number().over(w).cast("long"))
      .filter(col("host_rank") <= maxPerHost)
  }

  /** Host blocklist filter: drop documents whose host is on the list or
    * is a subdomain of a listed domain (`ads.example.com` matches a
    * blocked `example.com`). The list is driver state (blocklists are
    * thousands of entries, not corpus-sized) compiled into one scan-stage
    * predicate — no join, no shuffle.
    */
  def filterBlockedHosts(docs: DataFrame, blocked: Seq[String],
                         hostCol: String = "host"): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist")
    val h = col(hostCol)
    val hit = blocked.map(b => h === b || h.endsWith("." + b)).reduce(_ || _)
    docs.filter(!hit)
  }

  /** Fixed-window document chunking with overlap: split each document
    * into chunks of `chunkTokens` whitespace tokens, each chunk starting
    * `chunkTokens - overlapTokens` after the previous — the long-document
    * half of context-window preparation ([[packSequences]] handles the
    * short-document half). Start positions are 0, stride, 2·stride, …
    * while they index a real token, so every token lands in at least one
    * chunk and the final chunk may be short.
    *
    * Scale shape: zero shuffles — tokenize, per-chunk sequence explode,
    * and slice/reassemble are all scan-stage expressions; output size is
    * corpus size × (1 + overlap fraction).
    *
    * @return (doc_id, chunk_index, n_tokens, chunk_text)
    */
  /** Bloom-filter contamination: the fixed-memory approximate twin of
    * [[contamination]]. The training corpus reduces to an `mBits`-wide
    * bit array (each distinct gram sets `numHashes` positions from the
    * portable affine family); a test gram counts as contaminated iff all
    * of its positions are set. One-sided by construction: every truly
    * contaminated gram is flagged (no false negatives), and a clean gram
    * is mis-flagged with p ≈ fill^numHashes where fill is the bit-array
    * load factor — the classic Bloom bound, chosen via `mBits`.
    *
    * Scale shape vs [[contamination]]: the exact operator keeps the
    * train side as its distinct-gram hash set (∝ corpus vocabulary, and
    * the probe pays a hash-partitioned join against it); here the train
    * side collapses to `mBits/8` BYTES — built by one map-side-combinable
    * `bit_or` aggregation over ≤ `mBits/64` groups, densified once
    * against a `range` spine, and broadcast as a single array row. The
    * probe side then never shuffles at all: membership is `element_at`
    * + shift arithmetic against the broadcast array in the scan stage,
    * so a streaming source can score against a frozen filter unchanged.
    * Driver/broadcast state is `mBits/8` bytes regardless of corpus
    * size (2^27 bits = 16 MB covers ~10^7 grams at ~1% false positives
    * with 3 hashes; size `mBits` to the executor broadcast budget).
    *
    * Engine-portable: positions come from [[graft.functions.PortableHash]]
    * (md5-prefix h60 + affine family), so an external SQL engine
    * reproduces every bit decision — the oracle checks membership
    * against the equivalent distinct-position set, which is exactly the
    * set-bit predicate.
    *
    * @return (doc_id, n_grams, n_bloom, bloom_contamination) — upper
    *         bounds of the exact operator's (n_contaminated,
    *         contamination) on the same corpora
    */
  def bloomContamination(test: DataFrame, train: DataFrame, n: Int = 5,
                         mBits: Int = 1 << 17, numHashes: Int = 3,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits must be a positive multiple of 64, got $mBits")
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    val spark = train.sparkSession
    def base(g: org.apache.spark.sql.Column) = pmod(PortableHash.h60(g), lit(PortableHash.M))
    def pos(i: Int) = pmod(PortableHash.affineHash(col("_b"), i), lit(mBits.toLong))
    // train corpus -> set bit positions -> dense one-row long-array bitmap
    val words = train
      .select(explode(Dedup.shingles(col(textCol), n)).as("_g"))
      .select(base(col("_g")).as("_b"))
      .select(explode(array((0 until numHashes).map(pos): _*)).as("_p"))
      .select(shiftright(col("_p"), 6).as("_w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST((_p % 64) AS INT))").as("_bit"))
      .groupBy(col("_w")).agg(expr("bit_or(_bit)").as("_bits"))
    val bloomRow = spark.range(mBits / 64).select(col("id").as("_w"))
      .join(words, Seq("_w"), "left")
      .select(struct(col("_w"), coalesce(col("_bits"), lit(0L)).as("_bits")).as("_s"))
      .agg(array_sort(collect_list(col("_s"))).as("_sorted"))
      .select(transform(col("_sorted"), s => s.getField("_bits")).as("_bloom"))
    // probe side: scan-stage membership against the broadcast bitmap
    val tEx = test
      .select(col(idCol).as("doc_id"), Dedup.shingles(col(textCol), n).as("_sh"))
      .select(col("doc_id"), size(col("_sh")).cast("long").as("n_grams"), explode(col("_sh")).as("_g"))
      .select(col("doc_id"), col("n_grams"), base(col("_g")).as("_b"))
      .crossJoin(broadcast(bloomRow))
      .select(Seq(col("doc_id"), col("n_grams"), col("_bloom")) ++
        (0 until numHashes).map(i => pos(i).as(s"_p$i")): _*)
    val hit = (0 until numHashes).map { i =>
      expr(s"(shiftright(element_at(_bloom, CAST((_p$i div 64) + 1 AS INT)), " +
        s"CAST((_p$i % 64) AS INT)) & 1) = 1")
    }.reduce(_ && _)
    tEx.withColumn("_hit", hit)
      .groupBy(col("doc_id"))
      .agg(first(col("n_grams")).as("n_grams"),
        sum(when(col("_hit"), lit(1L)).otherwise(lit(0L))).as("n_bloom"))
      .withColumn("bloom_contamination",
        round(col("n_bloom").cast("double") / col("n_grams").cast("double"), 6))
  }

  /** Exact per-group discrete quantiles of an integer-valued signal —
    * the corpus-card percentiles (doc-length p50/p90/p99 per language)
    * computed exactly and deterministically, without ever sorting the
    * corpus.
    *
    * Definition: for quantile q (basis points, 1..10000) over a group of
    * n values, the answer is the value at 1-based rank ceil(q·n/10000)
    * in ascending order — the "lower discrete quantile" (q=10000 is the
    * max, q=5000 the lower median). Every step is integer arithmetic, so
    * the result is engine-exact.
    *
    * Scale shape: one map-side-combinable groupBy collapses the corpus
    * to its (group, value) count table — bounded by the VALUE DOMAIN per
    * group (doc lengths, token counts), not the corpus size — and the
    * rank selection is a window over that small table. No corpus sort,
    * no corpus shuffle beyond the count partial-aggregation. This is the
    * exact/oracle-checkable reference; `percentile_approx` is the
    * sketch-merge alternative when even the distinct-value table is too
    * hot, spec-gated against this operator within its accuracy bound
    * (the same exact/approx dual as [[corpusStats]]'s vocabulary).
    *
    * @param qsBp quantiles in basis points, each in [1, 10000]
    * @return (group..., q_bp, value, n) — n = group row count
    */
  def exactQuantiles(df: DataFrame, valueCol: String, qsBp: Seq[Int],
                     groupCols: Seq[String] = Seq("lang")): DataFrame = {
    require(qsBp.nonEmpty && qsBp.forall(q => q >= 1 && q <= 10000),
      s"quantiles are basis points in [1, 10000], got $qsBp")
    import org.apache.spark.sql.expressions.Window
    val gc = groupCols.map(col)
    val counts = df
      .select(gc :+ col(valueCol).cast("long").as("value"): _*)
      .groupBy(gc :+ col("value"): _*)
      .agg(count(lit(1)).as("_cnt"))
    val wCum = Window.partitionBy(gc: _*).orderBy(col("value"))
    val wAll = Window.partitionBy(gc: _*)
    counts
      .withColumn("_cum", sum(col("_cnt")).over(wCum))
      .withColumn("n", sum(col("_cnt")).over(wAll))
      .withColumn("q_bp", explode(typedlit(qsBp.map(_.toLong).sorted)))
      // ceil(q*n/10000) via (q*n + 9999) div 10000 — positive longs, so
      // truncating div == floor div in Spark and DuckDB alike
      .withColumn("_rank", expr("(q_bp * n + 9999) div 10000"))
      .filter(col("_cum") - col("_cnt") < col("_rank") && col("_rank") <= col("_cum"))
      .select(gc ++ Seq(col("q_bp"), col("value"), col("n")): _*)
  }

  /** Per-group exact percentile rank of every document's integer score —
    * the normalization step before mixing quality signals across groups
    * whose raw score scales differ (a "good" length for code is not a
    * "good" length for prose; rank space is the common currency).
    * Convention: `pct_bp = (10000·|strictly below|) div n` — ties share
    * one rank, deterministic and engine-exact.
    *
    * Scale shape: the [[exactQuantiles]] trick — the corpus collapses to
    * its (group, value) count table (bounded by the VALUE DOMAIN, not
    * corpus size), the cumulative window runs over that bounded table,
    * and the ranks broadcast back onto the scan as one equi-join. No
    * corpus sort, no single-partition window.
    */
  def percentileRank(df: DataFrame, valueCol: String,
                     groupCols: Seq[String] = Seq("lang"),
                     idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gc = groupCols.map(col)
    val base = df.select(gc ++ Seq(col(idCol), col(valueCol).cast("long").as("value")): _*)
    val wCum = Window.partitionBy(gc: _*).orderBy(col("value"))
    val wAll = Window.partitionBy(gc: _*)
    val table = base
      .groupBy(gc :+ col("value"): _*).agg(count(lit(1)).as("_cnt"))
      .withColumn("_below", sum(col("_cnt")).over(wCum) - col("_cnt"))
      .withColumn("_n", sum(col("_cnt")).over(wAll))
      .withColumn("pct_bp", expr("(10000 * _below) div _n"))
      .select(gc ++ Seq(col("value"), col("pct_bp")): _*)
    base.join(broadcast(table), groupCols :+ "value")
      .select(col(idCol) +: gc :+ col("value") :+ col("pct_bp"): _*)
  }

  /** Cross-source n-gram Jaccard matrix — the inter-source redundancy
    * map (two feeds syndicating the same wire copy show up as a hot
    * cell long before pairwise doc dedup runs; the matrix tells you
    * WHICH feeds to dedup against each other). Grams collapse to
    * DISTINCT (source, 60-bit hash) rows first, so the self-join's
    * per-hash fan-out is bounded by |sources| and the totals table by
    * |sources|; jaccard = c/(nₐ+n_b−c) divides exact longs once.
    *
    * Scale shape: one distinct aggregation over (source, hash) — map-
    * side combinable, key domain = gram vocabulary × sources; the pair
    * join is per-hash bounded; everything after is |sources|²-bounded.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3, groupCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val grams = docs
      .select(col(groupCol).as("_g"), explode(TextAnalysis.ngrams(col(textCol), n)).as("_gram"))
      .select(col("_g"), PortableHash.h60(col("_gram")).as("_h"))
      .distinct()
    val totals = grams.groupBy(col("_g")).agg(count(lit(1)).as("_n"))
    val a = grams.select(col("_h"), col("_g").as("source_a"))
    val b = grams.select(col("_h"), col("_g").as("source_b"))
    a.join(b, Seq("_h")).filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).cast("long").as("n_common"))
      .join(broadcast(totals.select(col("_g").as("source_a"), col("_n").as("n_a"))), Seq("source_a"))
      .join(broadcast(totals.select(col("_g").as("source_b"), col("_n").as("n_b"))), Seq("source_b"))
      .withColumn("jaccard",
        col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"), col("jaccard"))
  }

  /** Jensen-Shannon divergence matrix between source word
    * distributions — the DISTRIBUTIONAL distance beside
    * [[sourceOverlap]]'s set-based Jaccard (syndication shows up in
    * Jaccard; register/style drift shows up here first). Distributions
    * are over the corpus-global top-K vocabulary (renormalized over it —
    * the standard bounded-support convention), and every term is exact:
    * with counts c and totals n,
    *   P_w/M_w = 2·c_aw·n_b / (c_aw·n_b + c_bw·n_a)
    * is a ratio of integers, so the quantized-ln numerator
    *   js_num_q = Σ_w [ c_aw·n_b·(lnq 2c_aw·n_b − lnq(c_aw·n_b + c_bw·n_a))
    *                  + c_bw·n_a·(lnq 2c_bw·n_a − lnq(c_aw·n_b + c_bw·n_a)) ]
    * is an exact DECIMAL(38,0); js = num / (2·n_a·n_b·10⁶) divides once
    * at the end. Absent words contribute zero by the 0·ln 0 convention.
    *
    * Scale shape: the (source, word) count table is one map-side-
    * combinable groupBy bounded by |sources|·K after the broadcast vocab
    * semi-join; the pair matrix full-outer-joins that bounded table with
    * itself per word — |sources|²·K work, never corpus².
    */
  def sourceJsDivergence(docs: DataFrame, topK: Int = 200,
                         groupCol: String = "source", textCol: String = "text"): DataFrame = {
    val words = docs.select(col(groupCol).as("_g"),
      explode(filter(split(col(textCol), " "), w => length(w) > 0)).as("_w"))
    val vocab = words.groupBy(col("_w")).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("_w")).limit(topK).select(col("_w"))
    val counts = words.join(broadcast(vocab), Seq("_w"))
      .groupBy(col("_g"), col("_w")).agg(count(lit(1)).cast("long").as("_c"))
    val totals = counts.groupBy(col("_g")).agg(sum(col("_c")).cast("long").as("_n"))
    // DENSE (source x vocab) grid: a word present in a but absent in b
    // must still contribute its a-term to the (a, b) cell, so absence is
    // an explicit zero row, never a dropped join match
    val dense = totals.select(col("_g"))
      .crossJoin(broadcast(vocab))
      .join(counts, Seq("_g", "_w"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
      .join(broadcast(totals), Seq("_g"))
    val a = dense.select(col("_w"), col("_g").as("source_a"),
      col("_c").as("_ca"), col("_n").as("n_a"))
    val b = dense.select(col("_w"), col("_g").as("source_b"),
      col("_c").as("_cb"), col("_n").as("n_b"))
    val terms = a.join(b, Seq("_w"))
      .filter(col("source_a") < col("source_b"))
      .withColumn("_x", dq(col("_ca")) * dq(col("n_b")))
      .withColumn("_y", dq(col("_cb")) * dq(col("n_a")))
      .withColumn("_t",
        when(col("_ca") > 0L,
          col("_x") * dq(lnq(lit(2L).cast("decimal(38,0)") * col("_x")) - lnq(col("_x") + col("_y"))))
          .otherwise(lit(0L).cast("decimal(38,0)")) +
        when(col("_cb") > 0L,
          col("_y") * dq(lnq(lit(2L).cast("decimal(38,0)") * col("_y")) - lnq(col("_x") + col("_y"))))
          .otherwise(lit(0L).cast("decimal(38,0)")))
    terms
      .groupBy(col("source_a"), col("source_b"))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        sum(col("_t")).as("js_num_q"))
      .withColumn("js",
        col("js_num_q").cast("double") /
          (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double") * lit(1e6)))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("js_num_q"), col("js"))
  }

  /** Joint decile table of two document scores — the dependence surface
    * [[scoreCorrelation]]'s single coefficient flattens (a U-shaped or
    * corner-heavy table changes a filtering decision even when r looks
    * mild). Both axes use the global [[percentileRank]] (deterministic
    * ties), bucketed to deciles; cells are exact counts.
    *
    * Scale shape: two percentileRank passes (value-domain-bounded), one
    * id equi-join, and a ≤100-cell map-side-combinable count.
    */
  def scoreJointDeciles(docs: DataFrame, aCol: String, bCol: String,
                        idCol: String = "doc_id"): DataFrame = {
    val ra = percentileRank(docs, aCol, Nil, idCol)
      .select(col(idCol), expr("pct_bp div 1000").as("decile_a"))
    val rb = percentileRank(docs, bCol, Nil, idCol)
      .select(col(idCol), expr("pct_bp div 1000").as("decile_b"))
    ra.join(rb, Seq(idCol))
      .groupBy(col("decile_a"), col("decile_b"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
  }

  /** Token-budget curve over quality percentiles: "if I keep only the
    * top X% of documents by this score, how many tokens survive?" — the
    * planning table behind every quality-threshold decision (plotting
    * tokens-vs-cut is how thresholds actually get picked). Documents
    * land in 100 percentile buckets via [[percentileRank]]; per bucket
    * (descending quality) the doc/token mass and the cumulative share
    * kept at that cut. Exact longs until the final share divisions.
    *
    * Scale shape: percentileRank's value-domain-bounded machinery + one
    * map-side-combinable bucket aggregate + windows over the ≤100-row
    * bucket table.
    */
  def tokenBudgetCurve(docs: DataFrame, scoreCol: String,
                       groupCols: Seq[String] = Seq("lang"),
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withTok = docs.withColumn("_tok", size(split(col(textCol), " ")).cast("long"))
    val ranked = percentileRank(withTok, scoreCol, groupCols, idCol)
      .select(col(idCol), col("pct_bp"))
    val buckets = withTok.select(col(idCol), col("_tok"))
      .join(ranked, Seq(idCol))
      .groupBy(expr("pct_bp div 100").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"), sum(col("_tok")).cast("long").as("n_tokens"))
    val wDesc = Window.orderBy(col("bucket").desc).rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy()
    buckets
      .withColumn("cum_docs", sum(col("n_docs")).over(wDesc).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wDesc).cast("long"))
      .withColumn("token_share",
        col("cum_tokens").cast("double") / sum(col("n_tokens")).over(wAll).cast("double"))
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis 2006): keep the k documents with the largest priority
    * u^(1/w), where u is uniform per document and w its weight — e.g.
    * sample a training subset proportional to a quality score. Here u is
    * the portable hash of (salt, id), so the sample is a pure function
    * of (salt, corpus): reproducible across runs, engines, and
    * partitionings, and auditable row by row in SQL.
    *
    * Integer-exact by quantization: maximizing u^(1/w) is equivalent to
    * minimizing (−ln u)/w, and with u = (h60 mod M + 1)/M the numerator
    * −ln u = ln M − ln(h+1) is the difference of two lns OF INTEGERS —
    * quantized to 1e-6 units (the [[TextAnalysis.lmScore]] contract)
    * before anything else touches it. The division by w is then a
    * 2^20-scaled integer floor division, so the ranking key
    *   priority_q = (lnq(M) − lnq(h+1)) · 2^20 div w
    * is a long, identical in any engine; ties break on the id. The
    * sampled distribution matches ES up to the 1e-6 ln grid and the
    * 2^-20 priority grid — both far below the hash's own 1/M granularity.
    *
    * Scale shape: one scan computes keys; the k smallest reduce via
    * TakeOrdered (per-partition top-k, then a k-row driver merge) — no
    * corpus shuffle, no sort. Weights must be positive; rows with
    * w <= 0 or null are excluded (weight 0 = "never sample").
    *
    * @return the k sampled rows: (id, weight, priority_q) + `keep` cols
    */
  def weightedSample(docs: DataFrame, k: Int, weightCol: String,
                     keepCols: Seq[String] = Seq("lang"),
                     salt: String = "graft", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, "k must be positive")
    val h = pmod(PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string"))),
      lit(PortableHash.M))
    docs
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(Seq(col(idCol), col(weightCol).cast("long").as("weight")) ++ keepCols.map(col): _*)
      .withColumn("_a", lnq(lit(PortableHash.M)) - lnq(h + 1L))
      .withColumn("priority_q", expr("(_a * 1048576) div weight"))
      .orderBy(col("priority_q"), col(idCol))
      .limit(k)
      .select(Seq(col(idCol)) ++ keepCols.map(col) ++ Seq(col("weight"), col("priority_q")): _*)
  }

  /** Per-group deterministic weighted sampling without replacement —
    * [[weightedSample]]'s grouped form (k docs from EVERY group in one
    * pass, the "balanced eval slice per language" cut). Same
    * Efraimidis–Spirakis quantized-priority keys; the global
    * TakeOrdered becomes a per-group rank that Spark executes as
    * WindowGroupLimit, so each partition stops materializing a group's
    * candidates past k before the shuffle — no corpus sort anywhere.
    */
  def weightedSampleByGroup(docs: DataFrame, kPerGroup: Int, weightCol: String,
                            groupCol: String = "lang", salt: String = "graft",
                            idCol: String = "doc_id"): DataFrame = {
    require(kPerGroup > 0, "kPerGroup must be positive")
    val h = pmod(PortableHash.h60(concat(lit(salt), lit(":"), col(idCol).cast("string"))),
      lit(PortableHash.M))
    import org.apache.spark.sql.expressions.Window
    docs
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col(idCol), col(groupCol), col(weightCol).cast("long").as("weight"))
      .withColumn("_a", lnq(lit(PortableHash.M)) - lnq(h + 1L))
      .withColumn("priority_q", expr("(_a * 1048576) div weight"))
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("priority_q"), col(idCol))))
      .filter(col("_rk") <= kPerGroup)
      .select(col(idCol), col(groupCol), col("weight"), col("priority_q"),
        col("_rk").cast("long").as("rank"))
  }

  def chunkDocuments(docs: DataFrame, chunkTokens: Int, overlapTokens: Int = 0,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      s"overlapTokens must be in [0, chunkTokens), got $overlapTokens")
    val stride = chunkTokens - overlapTokens
    val words = filter(split(col(textCol), " "), w => length(w) > 0)
    docs
      .select(col(idCol).cast("long").as("doc_id"), words.as("_w"))
      .filter(size(col("_w")) > 0)
      .select(col("doc_id"), col("_w"),
        explode(sequence(lit(0L),
          floor((size(col("_w")) - 1).cast("long") / stride).cast("long"))).as("chunk_index"))
      .select(col("doc_id"), col("chunk_index"),
        slice(col("_w"), (col("chunk_index") * stride + 1).cast("int"), lit(chunkTokens)).as("_c"))
      .select(col("doc_id"), col("chunk_index"),
        size(col("_c")).cast("long").as("n_tokens"),
        concat_ws(" ", col("_c")).as("chunk_text"))
  }

  /** Content-defined chunking (the word-level analogue of LBFS/FastCDC
    * cut-point selection, Muthitacharoen et al. 2001; Xia et al. 2016):
    * cut after word i when the hash of the k-gram ending at i has its
    * low `maskBits` bits zero — expected chunk length 2^maskBits words.
    * Unlike [[chunkDocuments]]' fixed windows, boundaries depend only
    * on local content, so an insertion near the head of a document
    * shifts ONE chunk, not every chunk after it — which is what makes
    * chunk-level dedup across crawl snapshots stable (the same property
    * rsync/backup systems rely on).
    *
    * Scale: gram hashing is scan-stage; the only exchange is the
    * per-document window that prefix-sums cut marks into chunk indices
    * — keyed by doc id, the natural partitioning of every downstream
    * chunk consumer. Hashes are [[PortableHash.h60]], so boundaries are
    * engine-exact.
    */
  def cdcChunks(docs: DataFrame, k: Int = 2, maskBits: Int = 5,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && maskBits >= 1 && maskBits <= 20, s"bad params k=$k maskBits=$maskBits")
    import org.apache.spark.sql.expressions.Window
    val mask = (1L << maskBits) - 1L
    val words = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "word")))
    val grams = docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(TextAnalysis.ngrams(col(textCol), k)).as(Seq("gpos", "_g")))
      // gram at 0-based gpos covers words gpos .. gpos+k-1: cut AFTER its last word
      .filter(PortableHash.h60(col("_g")).bitwiseAND(lit(mask)) === 0L)
      .select(col("doc_id"), (col("gpos") + (k - 1)).as("pos"), lit(1L).as("_cut"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    words
      .join(grams, Seq("doc_id", "pos"), "left")
      .withColumn("chunk_index", coalesce(sum("_cut").over(w), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_index"))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ").as("chunk_text"))
  }

  /** DuckDB twin of [[cdcChunks]]. */
  def cdcChunksSql(k: Int = 2, maskBits: Int = 5, table: String = "documents"): String = {
    val mask = (1L << maskBits) - 1L
    s"""WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, string_split(text, ' ') AS ws FROM $table),
       |words AS (
       |  SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) - 1 AS pos FROM w),
       |cuts AS (
       |  SELECT doc_id, gpos + ${k - 1} AS pos, 1 AS cut FROM (
       |    SELECT doc_id, ${PortableHash.h60Sql("g")} AS h,
       |           CAST(i AS BIGINT) AS gpos
       |    FROM (SELECT doc_id, unnest(list_transform(range(0, greatest(len(ws) - ${k - 1}, 0)),
       |            i -> array_to_string(ws[i+1:i+$k], ' '))) AS g,
       |            unnest(range(0, greatest(len(ws) - ${k - 1}, 0))) AS i
       |          FROM w))
       |  WHERE h & $mask = 0),
       |marked AS (
       |  SELECT doc_id, pos, word,
       |         coalesce(sum(cut) OVER (
       |           PARTITION BY doc_id ORDER BY pos
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_index
       |  FROM words LEFT JOIN cuts USING (doc_id, pos))
       |SELECT doc_id, CAST(chunk_index AS BIGINT) AS chunk_index,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       string_agg(word, ' ' ORDER BY pos) AS chunk_text
       |FROM marked GROUP BY doc_id, chunk_index""".stripMargin
  }

  /** UniMax token-budget allocation (Chung et al. 2023, "UniMax: Fairer
    * and More Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): spread a total token budget as uniformly as
    * possible across sources, capping each source at `epochCap` epochs
    * of its own data, and waterfill the remainder.
    *
    * The sequential waterfilling recurrence has a closed form over the
    * cap-ascending order: source i (0-based, k sources, prefix cap sum
    * S_i) is *capped* iff `cap_i · (k − i) ≤ B − S_i` — the predicate
    * is prefix-closed and its complement is suffix-closed (proof:
    * substituting the sort order into both sides), so it identifies
    * exactly the binding set without iteration. Uncapped sources split
    * the remaining budget R as `R div m`, the first `R mod m` of them
    * (in sort order) taking one extra token, so `Σ alloc =
    * min(B, Σ cap)` holds exactly in integers.
    *
    * Scale: token counts are a map-side-combinable groupBy; everything
    * after operates on one row per source. The unpartitioned windows
    * run on that #sources-row frame only — bounded by the domain count,
    * never by corpus size (same contract as mixtureRebalance).
    */
  def unimaxAllocation(docs: DataFrame, budget: Long, epochCap: Int,
                       groupCol: String = "source", textCol: String = "text"): DataFrame = {
    require(budget > 0 && epochCap >= 1, "budget and epochCap must be positive")
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .groupBy(col(groupCol))
      .agg(sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
      .withColumn("cap", col("n_tokens") * epochCap)
    val ord = Window.orderBy("cap", groupCol)
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = counts
      .withColumn("_i", row_number().over(ord).cast("long") - 1L)
      .withColumn("_k", count(lit(1)).over(all))
      .withColumn("_prefix", coalesce(
        sum("cap").over(ord.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("capped", col("cap") * (col("_k") - col("_i")) <= lit(budget) - col("_prefix"))
    val water = ranked
      .withColumn("_r", lit(budget) - sum(when(col("capped"), col("cap")).otherwise(0L)).over(all))
      .withColumn("_m", sum(when(col("capped"), 0L).otherwise(1L)).over(all))
      .withColumn("_j", row_number().over(
        Window.partitionBy("capped").orderBy("cap", groupCol)).cast("long"))
    water.select(
      col(groupCol), col("n_tokens"), col("cap"), col("capped"),
      when(col("capped"), col("cap"))
        .otherwise(expr("_r div _m") + when(col("_j") <= pmod(col("_r"), col("_m")), 1L).otherwise(0L))
        .as("allocated"))
      .withColumn("epochs", col("allocated").cast("double") / col("n_tokens").cast("double"))
  }

  /** Deterministic negative sampling for contrastive training: for each
    * document, `k` pseudo-random partner ids drawn by hashing
    * (doc_id, attempt) into the observed id range — the in-batch-
    * negatives replacement when batches are built offline. Semantics
    * are "attempted-k": a draw that lands on the anchor itself or on a
    * hole in the id space is dropped rather than redrawn, which keeps
    * the op a pure scan + one hash equi-join (existence check against
    * the corpus ids) with no iteration; the expected loss is k/n + the
    * hole density, negligible at corpus scale.
    *
    * Scale: the id-range bound is a 1-row broadcast; candidate
    * generation is scan-stage (explode of k attempts); the only
    * shuffle is the equi-join on candidate id. Reproducible end to end
    * — same corpus, same salt, same pairs, on any engine.
    */
  def negativeSamples(docs: DataFrame, k: Int = 4, salt: String = "neg",
                      idCol: String = "doc_id"): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in [1, 1000], got $k")
    val ids = docs.select(col(idCol).cast("long").as("_id"))
    val bound = ids.agg((max("_id") + 1L).as("_n"))
    val attempts = ids.crossJoin(broadcast(bound))
      .select(col("_id"), explode(array((0 until k).map(lit): _*)).as("attempt"),
        col("_n"))
      .withColumn("_cand",
        pmod(PortableHash.h60(concat_ws(":", lit(salt), col("_id"), col("attempt"))), col("_n")))
      .filter(col("_cand") =!= col("_id"))
    attempts
      .join(ids.select(col("_id").as("_cand")), Seq("_cand"))
      .select(col("_id").as(idCol), col("attempt").cast("long").as("attempt"),
        col("_cand").as("neg_id"))
  }

  /** DuckDB twin of [[negativeSamples]]. */
  def negativeSamplesSql(k: Int, salt: String = "neg", idCol: String = "doc_id",
                         table: String = "documents"): String = {
    val h = PortableHash.h60Sql(s"'$salt' || ':' || CAST($idCol AS VARCHAR) || ':' || CAST(attempt AS VARCHAR)")
    s"""WITH ids AS (SELECT CAST($idCol AS BIGINT) AS $idCol FROM $table),
       |bound AS (SELECT max($idCol) + 1 AS n FROM ids),
       |att AS (
       |  SELECT $idCol, unnest(range(0, $k)) AS attempt FROM ids),
       |cand AS (
       |  SELECT a.$idCol, CAST(a.attempt AS BIGINT) AS attempt, ($h) % b.n AS neg_id
       |  FROM att a, bound b)
       |SELECT c.$idCol, c.attempt, CAST(c.neg_id AS BIGINT) AS neg_id
       |FROM cand c JOIN ids i ON c.neg_id = i.$idCol
       |WHERE c.neg_id <> c.$idCol""".stripMargin
  }

  /** Differentially-private count release via the geometric mechanism
    * (Ghosh, Roughgarden & Sundararajan 2009): per-group counts plus
    * two-sided geometric noise Z ~ DLap(α = 1/2), i.e. ε = ln 2 for
    * sensitivity-1 counting queries. Z is built as the difference of
    * two iid Geometric(1/2) draws (Inusah & Kozubowski 2006) extracted
    * from disjoint 30-bit halves of the group's h60 — geometric-by-
    * leading-zeros, so the noise arithmetic is pure integer/bit ops and
    * the SQL twin is exact. Negative releases clamp at 0
    * (post-processing, DP-safe).
    *
    * NOTE on determinism: keying noise off the group value makes the
    * release reproducible (what a pipeline gate needs) but means
    * re-releasing the same group never refreshes its noise — a real
    * deployment derives `salt` from a per-release secret.
    *
    * Scale: one map-side-combinable groupBy; the noise is a scan-stage
    * expression over the #groups-row aggregate.
    */
  def dpNoisyCounts(df: DataFrame, groupCol: String, salt: String = "dp"): DataFrame = {
    def geom(w: Column): Column = when(w === 0L, lit(30L)).otherwise(lit(30L) - length(bin(w)))
    val h = PortableHash.h60(concat_ws(":", lit(salt), col(groupCol).cast("string")))
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_h", h)
      .withColumn("_z", geom(pmod(col("_h"), lit(1L << 30))) - geom(expr(s"_h div ${1L << 30}")))
      .select(col(groupCol), greatest(col("_n") + col("_z"), lit(0L)).as("noisy_count"))
  }

  /** DuckDB twin of [[dpNoisyCounts]] over a named table/CTE. */
  def dpNoisyCountsSql(table: String, groupCol: String, salt: String = "dp"): String = {
    val h = PortableHash.h60Sql(s"'$salt' || ':' || CAST($groupCol AS VARCHAR)")
    val g = (w: String) => s"(CASE WHEN ($w) = 0 THEN 30 ELSE 30 - length(bin($w)) END)"
    s"""WITH cnt AS (
       |  SELECT $groupCol, CAST(count(*) AS BIGINT) AS n, $h AS h
       |  FROM $table GROUP BY $groupCol
       |)
       |SELECT $groupCol,
       |       CAST(greatest(n + ${g(s"h % ${1L << 30}")} - ${g(s"h // ${1L << 30}")}, 0) AS BIGINT) AS noisy_count
       |FROM cnt""".stripMargin
  }

  /** DuckDB twin of [[unimaxAllocation]]. */
  def unimaxAllocationSql(budget: Long, epochCap: Int, groupCol: String = "source"): String =
    s"""WITH tc AS (
       |  SELECT $groupCol, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY $groupCol
       |), capd AS (
       |  SELECT $groupCol, n_tokens, n_tokens * $epochCap AS cap,
       |         row_number() OVER (ORDER BY n_tokens * $epochCap, $groupCol) - 1 AS i,
       |         count(*) OVER () AS k,
       |         coalesce(sum(n_tokens * $epochCap) OVER (
       |           ORDER BY n_tokens * $epochCap, $groupCol
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix
       |  FROM tc
       |), flag AS (
       |  SELECT *, cap * (k - i) <= $budget - prefix AS capped FROM capd
       |), pool AS (
       |  SELECT *,
       |         $budget - sum(CASE WHEN capped THEN cap ELSE 0 END) OVER () AS r,
       |         sum(CASE WHEN capped THEN 0 ELSE 1 END) OVER () AS m,
       |         row_number() OVER (PARTITION BY capped ORDER BY cap, $groupCol) AS j
       |  FROM flag
       |)
       |SELECT $groupCol, n_tokens, cap, capped,
       |       CAST(CASE WHEN capped THEN cap
       |                 ELSE r // m + (CASE WHEN j <= r % m THEN 1 ELSE 0 END) END AS BIGINT) AS allocated,
       |       CAST(CASE WHEN capped THEN cap
       |                 ELSE r // m + (CASE WHEN j <= r % m THEN 1 ELSE 0 END) END AS DOUBLE)
       |         / CAST(n_tokens AS DOUBLE) AS epochs
       |FROM pool""".stripMargin
}
