package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan property tests: the scale behaviors the engine relies on
  * (predicate pushdown, column pruning, broadcast joins, partial
  * aggregation, top-k pushdown, scan-only projections) asserted against
  * the executed plans, so a plan regression fails like a wrong result.
  * Runs against the sf0.001 parquet set.
  */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q1_agg: shipdate filter reaches the parquet scan; columns pruned; partial aggregation") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_orderkey"), "scan should not read unused columns")
    assert(p.contains("partial_sum"), "aggregate must be map-side combinable")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, "exactly one shuffle")
  }

  test("q5_join: every dimension join broadcasts; no sort-merge join at this scale") {
    val p = plan("q5_join")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 5)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q21_shape: EXISTS/NOT EXISTS become one semi and one anti self-join; dims broadcast") {
    val p = plan("q21_shape")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a left-semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as a left-anti join:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"supplier and nation dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q12_shape: conditional counts partial-aggregate before the exchange") {
    val p = plan("q12_shape")
    assert(p.contains("partial_sum"), s"CASE-sum must map-side combine:\n$p")
  }

  test("token_count and text_quality run scan-only — no shuffle at all") {
    for (q <- Seq("token_count", "text_quality")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should not shuffle:\n$p")
      assert(p.contains("FileScan parquet"))
    }
  }

  test("dedup_exact: single shuffle with map-side partial min/count") {
    val p = plan("dedup_exact")
    assert(p.contains("partial_min") && p.contains("partial_count"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1)
  }

  test("q_topn_orders: rank limit pushed below the shuffle (WindowGroupLimit partial+final)") {
    val p = plan("q_topn_orders")
    assert(p.contains("WindowGroupLimit") && p.contains("Partial") && p.contains("Final"))
  }

  test("ann_bruteforce: probe side broadcasts against the corpus scan") {
    // the gate reads the memoized ranking (Pipeline.annBruteTop5 — a
    // checkpoint scan), so the structural pin targets the OPERATOR the
    // memo runs, on the same probe-slice shape
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = graft.operators.Ann.bruteForceTopK(
      emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10), emb, k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"), "probe fan-out must broadcast, not cartesian-shuffle")
  }

  test("dedup_minhash: no shingle re-evaluation in a generate pre-filter") {
    // InferFiltersFromGenerate is excluded in GraftSession; the expensive
    // interpreted shingle lambda must appear in projections only.
    val p = plan("dedup_minhash")
    val filterSections = p.linesIterator.filter(_.trim.startsWith("+- Filter")).mkString("\n")
    assert(!filterSections.contains("transform"), "shingle lambda leaked into a Filter")
  }

  test("dedup_simhash: fingerprint is a scan-stage expression — shuffles only on bucket keys") {
    // simhash_fp replaced an explode -> 60-aggregate groupBy; the only
    // exchanges left are the chunk-bucket pair join's.
    val p = plan("dedup_simhash")
    assert(p.contains("simhash_fp"), "native fingerprint expression missing from plan")
    assert(!p.contains("partial_sum"), "per-bit vote aggregation resurfaced — fingerprint left the scan stage")
  }

  test("minhash banding: signature never shuffles — band hashes computed where rows are read") {
    val p = operators.Dedup.minHashLsh(
      spark.read.parquet(s"$dir/documents.parquet"), numHashes = 64, bands = 16)
      .queryExecution.executedPlan.toString
    assert(p.contains("minhash_bands"), "native banding expression missing from plan")
    assert(!p.contains("partial_min"), "per-slot min aggregation resurfaced — signature left the scan stage")
  }

  test("bm25: df and corpus stats broadcast; tf aggregation is map-side combinable") {
    val p = plan("bm25_topk")
    assert(p.contains("BroadcastHashJoin") && p.contains("BroadcastNestedLoopJoin"),
      "df join and 1-row stats join must both broadcast")
    assert(p.contains("partial_count"), "tf count must partial-aggregate before the shuffle")
    assert(p.contains("TakeOrderedAndProject"), "top-k must be a TakeOrdered, not a global sort")
  }

  test("text_repetition: gram kernel runs in the scan stage; aggregations partial-combine") {
    val p = plan("text_repetition")
    assert(p.contains("word_ngrams"), "native ngram kernel missing from plan")
    assert(p.contains("partial_count") || p.contains("partial_max"),
      "gram counting must partial-aggregate before shuffling")
    assert(!p.contains("CartesianProduct"))
  }

  test("banded interval join executes as an equi-join, never a per-user nested loop") {
    val p = plan("interval_overlap_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "banded join must key on (user, band)")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("kmeans assignment is a shuffle-free projection; update partial-aggregates") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = operators.KMeans.fit(emb, k = 4, iters = 1)
    val p = operators.KMeans.assign(emb, model).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), "assignment must not join against a centroid table")
    // the per-iteration update: one hashpartitioning exchange with
    // map-side partial sums over (cluster, dim)
    val upd = operators.KMeans.assign(emb, model)
      .select(col("cluster_id"), posexplode(col("embedding")).as(Seq("_pos", "_val")))
      .groupBy("cluster_id", "_pos").agg(sum("_val"))
      .queryExecution.executedPlan.toString
    assert(upd.contains("partial_sum"))
    assert("Exchange hashpartitioning".r.findAllIn(upd).length == 1)
  }

  test("IVF-PQ search: candidates meet probes via a broadcast cell equi-join, never a product") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = operators.Ann.ivfPqTrain(emb, dim = 64, nlist = 4, coarseIters = 1,
      m = 4, ksub = 4, pqIters = 1)
    val p = operators.Ann.ivfPqTopK(emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      emb, model, k = 3, nprobe = 2).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "probe tables must broadcast-join on the cell id")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("PQ search: corpus side carries codes only; probe tables broadcast") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val model = operators.Ann.pqTrain(emb, dim = 64, m = 4, ksub = 4, iters = 1)
    val p = operators.Ann.pqTopK(emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5),
      emb, model, k = 3).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "probe distance tables must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("quality_topk: rank limit pushed below the shuffle (WindowGroupLimit)") {
    val p = plan("quality_topk")
    assert(p.contains("WindowGroupLimit"), s"map tasks must keep only local top-k:\n$p")
  }

  test("chunk_documents runs scan-only — tokenize, explode, slice with no shuffle") {
    val p = plan("chunk_documents")
    assert(!p.contains("Exchange"), s"chunking should not shuffle:\n$p")
    assert(p.contains("Generate"), "per-chunk explode must be a Generate")
  }

  test("dedup_cross: probe side broadcasts; corpus never self-joins or products") {
    val p = plan("dedup_cross")
    assert(p.contains("BroadcastHashJoin"), "probe bands must broadcast against corpus bands")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // the only hash shuffle is the candidate-pair dropDuplicates
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 1,
      s"at most one shuffle (pair dedup):\n$p")
  }

  test("text_normalize and url_features run scan-only — no shuffle at all") {
    for (q <- Seq("text_normalize", "url_features")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q should be scan-stage:\n$p")
    }
    assert(plan("text_normalize").contains("unicode_normalize"),
      "NFC must run as the native expression, not a UDF")
  }

  test("mixture_temperature: acceptance is a scan-stage filter, no shuffle of the corpus") {
    val p = plan("mixture_temperature")
    assert(!p.contains("Exchange"), s"threshold filter must not shuffle:\n$p")
  }

  test("mixture_upsample: copy explode is scan-stage — no shuffle of the corpus at all") {
    val p = plan("mixture_upsample")
    assert(!p.contains("Exchange"), s"sequence-explode must not shuffle:\n$p")
    assert(p.contains("Generate explode(sequence"), s"copies via codegen sequence-explode:\n$p")
  }

  test("c4_line_filter runs scan-only — line rules are higher-order array ops, no shuffle") {
    val p = plan("c4_line_filter")
    assert(!p.contains("Exchange"), s"line filtering must not shuffle:\n$p")
  }

  test("gopher_rules runs scan-only — integer rule arithmetic, no shuffle") {
    val p = plan("gopher_rules")
    assert(!p.contains("Exchange"), s"document rules must not shuffle:\n$p")
  }

  test("dsir_importance_scan: per-row scoring is scan-only — no shuffle, no join at all") {
    val p = plan("dsir_importance_scan")
    assert(!p.contains("Exchange"), s"scan twin must not shuffle:\n$p")
    assert(!p.contains("Join"), s"scan twin must not join:\n$p")
  }

  test("dsir_importance: dim-row weight table broadcasts; doc side never sort-merges with it") {
    val p = plan("dsir_importance")
    assert(p.contains("BroadcastHashJoin"), s"score join must broadcast the weight table:\n$p")
    // the only sort-merge join allowed is the final id-spine left join
    assert("SortMergeJoin".r.findAllIn(p).length <= 1,
      s"weight/count joins must all broadcast:\n$p")
  }

  test("url_hostcap: host-cap rank limit pushed below the shuffle (WindowGroupLimit)") {
    val p = plan("url_hostcap")
    assert(p.contains("WindowGroupLimit"), s"cap must push below the exchange:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"exactly one shuffle (on host):\n$p")
  }

  test("semantic_dedup: pair generation is an equi-join on cluster_id, never a product") {
    val p = plan("semantic_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cluster equi-join only:\n$p")
  }

  test("lm_score: gram joins are hash equi-joins; vocab is the only broadcast product") {
    val p = plan("lm_score")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    // model joins must stay equi-joins (shuffle or broadcast hash), never
    // a nested loop over the corpus; the 1-row vocab crossJoin is the
    // single permitted BroadcastNestedLoopJoin
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the 1-row vocab join may nest:\n$p")
    assert(p.contains("word_ngrams"), "bigram kernel must run in the scan stage")
    assert(p.contains("partial_count"), "model counts must partial-aggregate")
  }

  test("bloom_contamination: bitmap is the single 1-row broadcast; no product, no probe-side merge join") {
    val p = plan("bloom_contamination")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"exactly the 1-row bitmap broadcast may nest:\n$p")
    assert(p.contains("bit_or"), "bitmap build must be a bit_or aggregation")
    assert(p.contains("partial_bit_or") || p.contains("partial_"),
      s"bitmap aggregation must be map-side combinable:\n$p")
  }

  test("winnow_fingerprints runs scan-only — codegen selection kernel, no shuffle") {
    val p = plan("winnow_fingerprints")
    assert(!p.contains("Exchange"), s"winnowing must not shuffle:\n$p")
    assert(p.contains("winnow_fingerprints"), "selection must be the codegen kernel")
  }

  test("cms_word_counts: sketch aggregation partial-combines; probe join broadcasts") {
    val p = plan("cms_word_counts")
    assert(p.contains("partial_count"), s"sketch must map-side combine:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe-vs-sketch join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"no product, no merge join at sketch size:\n$p")
  }

  test("heavy_hitters pass 2: sketch gate is a scan-stage filter, no join; one exact-count shuffle") {
    val p = plan("heavy_hitters")
    assert(!p.contains("Join"), s"sketch lookup must be literal-array indexing, not a join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the candidate-word exact count may shuffle:\n$p")
    assert(p.contains("partial_count"), s"exact count must map-side combine:\n$p")
  }

  test("score_correlation: ranks come from range partitioning — no single-partition window") {
    val p = plan("score_correlation")
    // two globalRank passes = two range repartitions; an unpartitioned
    // row_number window would instead demand Exchange SinglePartition
    // BEFORE a Window (the corpus on one executor). The only allowed
    // SinglePartition exchange feeds the final 1-row aggregate.
    assert("Exchange rangepartitioning".r.findAllIn(p).length == 2, s"two rank sorts:\n$p")
    assert("Exchange SinglePartition".r.findAllIn(p).length <= 1,
      s"only the final bounded aggregate may single-partition:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("sq8_profile: dim-row range table broadcasts back; aggregations partial-combine") {
    val p = plan("sq8_profile")
    assert(p.contains("BroadcastHashJoin"), s"range table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"no merge join or product at dim size:\n$p")
    assert(p.contains("partial_min") && p.contains("partial_max"),
      s"range aggregation must map-side combine:\n$p")
  }

  test("hotspot_cells: focal sums aggregate cells, not points — map-side combine, no product") {
    val p = plan("hotspot_cells")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"cell counts must map-side combine:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the 1-row total may nest-broadcast:\n$p")
  }

  test("colocation_pagerank: rank flow is equi-joins only — no product at any iteration") {
    val p = plan("colocation_pagerank")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every iteration must move rank along hash-joinable edges:\n$p")
    assert(p.contains("partial_sum"), s"contribution sums must map-side combine:\n$p")
  }

  test("q7_volume: nation dims broadcast on both sides; no product") {
    val p = plan("q7_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, s"nation sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_sum"), s"revenue must map-side combine:\n$p")
  }

  test("q4_priority executes the EXISTS as a semi-join, never a full join + distinct") {
    val p = plan("q4_priority")
    assert(p.contains("LeftSemi"), s"EXISTS must plan as a semi-join:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q14_promo: part dim broadcasts; revenue partial-combines") {
    val p = plan("q14_promo")
    assert(p.contains("BroadcastHashJoin"), s"part must broadcast:\n$p")
    assert(p.contains("partial_sum") && !p.contains("SortMergeJoin"), s"map-side combine:\n$p")
  }

  test("msd_curve: origin is a struct-min aggregate — no window over raw fixes") {
    val p = plan("msd_curve")
    assert(!p.contains("Window"), s"no raw-fix window:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_"), s"origin must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("source_overlap: pair join runs over distinct hash rows, never raw text") {
    val p = plan("source_overlap")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_"), s"distinct must partial-aggregate:\n$p")
  }

  test("conversion_latency: one user-window shuffle plus one bucket shuffle, nothing more") {
    val p = plan("conversion_latency")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2, s"two shuffles exactly:\n$p")
    assert(!p.contains("Join"), s"running max needs no join:\n$p")
  }

  test("q18_bigorders: quantity aggregate partial-combines before the HAVING gate") {
    val p = plan("q18_bigorders")
    assert(p.contains("partial_sum"), s"map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("week_heatmap: one shuffle — epoch arithmetic stays in the scan stage") {
    val p = plan("week_heatmap")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, s"exactly one shuffle:\n$p")
    assert(p.contains("partial_count"), s"map-side combine:\n$p")
  }

  test("q6_revenue: every predicate reaches the parquet scan; columns pruned; no join") {
    val p = plan("q6_revenue")
    // toString truncates the PushedFilters list — pin the visible prefix
    // (all three filter columns enter the pushdown list)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"shipdate/discount/quantity predicates must push down:\n$p")
    assert(!p.contains("l_orderkey") && !p.contains("l_tax"),
      s"scan must read only the four referenced columns:\n$p")
    assert(!p.contains("Join"), s"no join:\n$p")
    assert(p.contains("partial_sum"), s"revenue must map-side combine:\n$p")
  }

  test("q8_marketshare: dims broadcast, no product, volume partial-combines") {
    val p = plan("q8_marketshare")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      s"part/nation/region dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_sum"), s"volume must map-side combine:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_type), EqualTo(p_type,ECONOMY)")
      || p.contains("EqualTo(p_type,ECONOMY)"),
      s"part type filter must reach the part scan:\n$p")
  }

  test("convoy_pairs: one pair shuffle feeds the run scan; no window, no run aggregate") {
    val p = plan("convoy_pairs")
    // the meetings memo is a checkpoint scan; the convoy logic adds
    // exactly ONE exchange (the pair key) and emits runs from the scan
    assert(!p.contains("Generate"), s"no band unroll (explode) anywhere:\n$p")
    assert(p.contains("MapPartitions"), s"runs must come from a partition scan:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1 &&
      "Exchange hashpartitioning\\(user_a#\\d+L, user_b".r.findAllIn(p).length == 1,
      s"exactly one shuffle, hashed on the pair:\n$p")
    assert(!p.contains("Window") && !p.contains("Aggregate"), s"no window and no run aggregate:\n$p")
  }

  test("intercontact_times: one pair shuffle feeds the gap scan; only the bucket count shuffles again") {
    val p = plan("intercontact_times")
    assert(p.contains("MapPartitions"), s"gaps must come from a partition scan:\n$p")
    assert("Exchange hashpartitioning\\(user_a#\\d+L, user_b".r.findAllIn(p).length == 1,
      s"exactly one pair shuffle:\n$p")
    assert("Exchange".r.findAllIn(p).length == 2 &&
      "Exchange hashpartitioning\\(bucket".r.findAllIn(p).length == 1,
      s"the only other shuffle is the bucket aggregate's:\n$p")
    assert(p.contains("partial_count"), s"the bucket count must map-side combine:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
  }

  test("source_js: vocab top-K is TakeOrdered; pair work joins on the word key, no product") {
    val p = plan("source_js")
    assert(p.contains("TakeOrdered"), s"vocab selection must be TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_count"), s"word counts must map-side combine:\n$p")
    // the only nested-loop joins are the bounded grid/total broadcasts
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 2,
      s"only the bounded dense-grid cross may nest-broadcast:\n$p")
  }

  test("session_lift: pair self-join keys on the session; aggregations partial-combine") {
    val p = plan("session_lift")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_count"), s"counts must map-side combine:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the 1-row total may nest-broadcast:\n$p")
  }

  test("q10_returned: top-20 plans as TakeOrdered, never a global sort") {
    val p = plan("q10_returned")
    assert(p.contains("TakeOrdered"), s"orderBy+limit must be TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q13_orderdist: outer join preserved; both count levels partial-combine") {
    val p = plan("q13_orderdist")
    assert(p.contains("LeftOuter") || p.contains("RightOuter"),
      s"zero-order customers need the outer join:\n$p")
    assert(p.contains("partial_count"), s"counts must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q15_topsupplier: scalar max is a 1-row broadcast equi-join; revenue partial-combines") {
    val p = plan("q15_topsupplier")
    assert(p.contains("BroadcastHashJoin"), s"max row must broadcast:\n$p")
    assert(p.contains("partial_sum") && p.contains("partial_max"),
      s"revenue and max must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q17_smallqty: part filter and per-part stats broadcast; no product") {
    val p = plan("q17_smallqty")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"brand keys and per-part stats must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"stats must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q19_disjunct: part broadcasts; the cross-side OR stays a post-join filter") {
    val p = plan("q19_disjunct")
    assert(p.contains("BroadcastHashJoin"), s"part must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"revenue must map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin"), s"no sort-merge at dim scale:\n$p")
  }

  test("q22_idle: NOT EXISTS plans as an anti-join; only the 1-row stats may nest-broadcast") {
    val p = plan("q22_idle")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must plan as an anti-join:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1,
      s"only the 1-row stats join may nest-broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("regularity_curve: three grouped aggregates, all partial-combining; no window, no join") {
    val p = plan("regularity_curve")
    val tail = p.split("FileScan").head // the staypoint chain below the scan is shared machinery
    assert(!tail.contains("Join"), s"the curve itself needs no join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"counts must map-side combine:\n$p")
  }

  test("returners_explorers: top-k locations pushed below the shuffle (WindowGroupLimit)") {
    val p = plan("returners_explorers")
    assert(p.contains("WindowGroupLimit"), s"rank<=k must push below the exchange:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q2_mincost: per-part minima broadcast back onto the shared offers table") {
    // the dim-chain broadcasts live below the offers share boundary
    // (the scan + broadcast joins run ONCE for both consumers); the
    // visible plan is the minima aggregate + its broadcast join-back
    val p = plan("q2_mincost")
    assert(p.contains("BroadcastHashJoin"), s"minima must broadcast back:\n$p")
    assert(p.contains("partial_min"), s"per-part min must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q9_profit: part name filter reaches the scan; dims broadcast; profit partial-combines") {
    val p = plan("q9_profit")
    assert(p.contains("StringContains(p_name,gear)"),
      s"part name filter must push into the part scan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"part keys and supplier dim must broadcast:\n$p")
    assert(p.contains("partial_sum"), s"profit must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q11_concentration: nation filter reaches the supplier scan; value partial-combines") {
    val p = plan("q11_concentration")
    assert(p.contains("EqualTo(s_nationkey,3)"),
      s"nation filter must push into the supplier scan:\n$p")
    assert(p.contains("partial_sum"), s"per-part value must map-side combine:\n$p")
    assert(!p.contains("SortMergeJoin"), s"supplier dim must broadcast:\n$p")
  }

  test("q16_suppcnt: supplier exclusion is a broadcast anti-join; size filter pushes") {
    val p = plan("q16_suppcnt")
    assert(p.contains("LeftAnti"), s"NOT IN must plan as an anti-join:\n$p")
    assert(p.contains("LessThanOrEqual(p_size,20)"),
      s"size filter must push into the part scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("q20_semi: EXISTS is a semi-join over a partial-combining quantity aggregate") {
    val p = plan("q20_semi")
    assert(p.contains("LeftSemi"), s"supplier admission must plan as a semi-join:\n$p")
    assert(p.contains("StringStartsWith(p_name,small)"),
      s"part name prefix must push into the part scan:\n$p")
    assert(p.contains("partial_sum"), s"quantities must map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
  }

  test("colocation_kcore: per-round h-index joins are hash equi-joins, never products") {
    val p = plan("colocation_kcore")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_count"), s"degree must map-side combine:\n$p")
  }

  test("colocation_richclub: histograms partial-combine; suffix sums never explode thresholds") {
    val p = plan("colocation_richclub")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_count"), s"degree histogram must map-side combine:\n$p")
    // the threshold accumulation is the bounded-domain suffix-sum window:
    // a full-outer equi-join of the two histograms, never a per-edge
    // threshold-range explode
    assert(p.contains("FullOuter"), s"histogram merge must be the full-outer join:\n$p")
  }

  test("colocation_spectral: power-iteration rounds are equi-joins + 1-row max broadcasts") {
    // the per-round matvec sits behind the share() checkpoint, so the
    // final plan shows only the last max + the 1-row broadcast tail
    val p = plan("colocation_spectral")
    assert(!p.contains("CartesianProduct"), s"no product:\n$p")
    assert(p.contains("partial_max"), s"the 1-row max must partial-combine:\n$p")
    assert(p.contains("IdentityBroadcastMode"),
      s"the max must come back as a 1-row broadcast, not a shuffle:\n$p")
  }

  test("location_markov_entropy: transition counts partial-combine; no joins at all") {
    val p = plan("location_markov_entropy")
    assert(p.contains("partial_sum"), s"counts must map-side combine:\n$p")
    assert(!p.contains("Join"), s"the rung is windows + aggregates only:\n$p")
  }

  test("triplegs and trips: one user_id hash exchange feeds each scan kernel; no window anywhere") {
    // share = identity, over the memoized (checkpointed) inputs, so the
    // plans below are the generators' own
    val gap = 1e7
    val pfs = Pipeline.pfsWithStaypoints(spark, dir)
    val sp = Pipeline.staypointsWithActivity(spark, dir)
    val (pfsTpl, tpls) = operators.TriplegGenerator.generate(pfs, gap)
    val (spTrip, tplsTrip, trips) = operators.TripGenerator.generate(sp, tpls, gap)
    val kernels = Seq(
      "triplegs" -> operators.TriplegGenerator.segments(pfs, gap),
      "trips" -> operators.TripGenerator.scan(sp, tpls, gap))
    for ((name, df) <- kernels) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("MapPartitions"), s"$name must run as a partition scan:\n$p")
      assert("Exchange".r.findAllIn(p).length == 1 &&
        "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
        s"$name: exactly one shuffle, hashed on user_id:\n$p")
      assert(!p.contains("Window"), s"$name: no window:\n$p")
    }
    for (df <- Seq(pfsTpl, tpls, spTrip, tplsTrip, trips)) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"no window in a generator output:\n$p")
    }
  }

  test("merge_staypoints: one user_id exchange feeds the run scan and its aggregate; no window, no join") {
    val p = plan("merge_staypoints")
    assert(p.contains("merge_run_key"), s"the run key must be the sorted-stage scan:\n$p")
    assert("Exchange".r.findAllIn(p).length == 1 &&
      "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      s"exactly one shuffle, hashed on user_id — the run aggregate reuses it:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"), s"no window and no join:\n$p")
  }

  /** The plan of the one frame a generator hands its `share` hook that
    * runs a partition scan: the scan kernel's own plan, taken before it
    * runs. The hook checkpoints what it is given, as `Share.materialize`
    * does, so each kernel reads checkpointed inputs and its plan shows
    * only its own exchanges.
    */
  private def kernelPlan(run: (DataFrame => DataFrame) => Unit): String = {
    val shared = scala.collection.mutable.ArrayBuffer.empty[String]
    run { df => shared += df.queryExecution.executedPlan.toString; df.localCheckpoint(false) }
    val scans = shared.filter(_.contains("MapPartitions"))
    assert(scans.length == 1, s"expected one shared scan frame, got ${scans.length}:\n${scans.mkString("\n")}")
    scans.head
  }

  test("staypoints, tours, locations and pack_sequences: one hash exchange on the scan key feeds each scan; no window") {
    val pfs = sources.EventsAdapter.positionfixes(spark, dir).drop("value", "t_us", "k")
    val kernels = Seq(
      ("staypoints_sliding", "user_id", kernelPlan(share =>
        operators.StaypointGenerator.generate(pfs, Pipeline.staypointParams, share))),
      ("tours_generate", "user_id", kernelPlan(share =>
        operators.TourGenerator.generate(Pipeline.trips(spark, dir), None,
          operators.TourGenerator.Params(maxDistMeters = 200.0, maxTimeDays = 30.0), share))),
      ("locations_dbscan", "user_id", kernelPlan(share =>
        operators.LocationGenerator.generate(Pipeline.staypoints(spark, dir),
          operators.LocationGenerator.Params(), share))),
      ("pack_sequences", "lang", plan("pack_sequences")))
    for ((name, key, p) <- kernels) {
      assert(p.contains("MapPartitions"), s"$name must run as a partition scan:\n$p")
      assert("Exchange".r.findAllIn(p).length == 1 &&
        s"Exchange hashpartitioning\\($key#\\d+L?, \\d+\\)".r.findAllIn(p).length == 1,
        s"$name: exactly one shuffle, hashed on $key alone:\n$p")
      assert(!p.contains("Window"), s"$name: no window:\n$p")
    }
  }
}
