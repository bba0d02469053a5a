package graft.operators

import graft.functions.PortableHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. All operators are shaped for
  * the 100 TB path: candidate generation is always a *bucket equi-join*
  * (shuffle on a small key), never an all-pairs product; exact similarity
  * is computed only on candidates.
  */
object Dedup {

  /** Exact dedup on normalized text: keep the smallest id per group.
    * One hash-groupBy — map-side combinable, single shuffle.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("_h", md5(col(textCol)))
      .groupBy(col("_h").as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Template-skeleton dedup — the instruction/synthetic-data variant of
    * [[exact]] (the FLAN-style collapse: thousands of "What is 17 + 25?"
    * rows are ONE template): documents group by a normalized skeleton —
    * casefolded, every digit run masked to `0`, punctuation replaced by
    * SPACES (a separator, so "3+999" and "3 + 999" collapse
    * identically), whitespace collapsed — so rows differing only in
    * numbers, case or spacing dedup together while genuinely different
    * templates stay apart.
    *
    * The normalization chain is four deterministic regexp/casefold steps
    * with the SAME semantics in any engine (no backreferences, no
    * locale-dependent classes — ASCII classes only, the urlCanonicalize
    * convention). One hash groupBy, map-side combinable; the keeper is
    * min(id), the [[exact]] convention.
    *
    * @return (skeleton_hash, keep_id, n_docs, n_variants) per template,
    *         n_variants = distinct surface forms collapsed into it
    */
  def templateDedup(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val skeleton =
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(col(textCol)), "[0-9]+", "0"),
          "[!-/:-@\\[-`{-~]", " "),
        "[ \\t\\n\\r]+", " ")
    docs
      .withColumn("_sk", trim(skeleton))
      .groupBy(md5(col("_sk")).as("skeleton_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).cast("long").as("n_docs"),
        countDistinct(col(textCol)).cast("long").as("n_variants"))
  }

  /** Word shingles (n-grams joined by space), distinct per doc — a
    * native codegen expression ([[graft.plans.WordShingles]]); the
    * composed `array_distinct(transform(sequence(...), ...))` form is a
    * CodegenFallback higher-order chain interpreted per row.
    */
  def shingles(textCol: Column, n: Int): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.plans.WordShingles(ColumnShim.expression(textCol), n))
  }

  /** MinHash signatures + LSH banding.
    *
    * Pipeline: shingle → band hashes, both single codegen'd scan-stage
    * expressions ([[graft.plans.WordShingles]],
    * [[graft.plans.MinHashBands]]: per shingle one md5 h60, per hash
    * function an affine min-fold, per band a 31-fold of its r-slice) →
    * candidate pairs join on (band index, band hash). The signature
    * never leaves the scan stage — no shingle explode, no 64-column
    * aggregate shuffle. The join key (band, hash) is small and
    * hash-distributable. Exact Jaccard over shingle sets verifies
    * candidates. The whole computation is engine-portable
    * ([[graft.functions.PortableHash]] family), so external SQL engines
    * can reproduce it bit-for-bit.
    *
    * @return pair table (id_a, id_b, jaccard) with id_a < id_b
    */
  def minHashLsh(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                 shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
                 verifyThreshold: Double = 0.0): DataFrame = {
    bandCandidates(docs, idCol, textCol, shingleN, numHashes, bands)
      .withColumn("jaccard",
        size(array_intersect(col("_sh_a"), col("_sh_b"))).cast("double") /
          size(array_union(col("_sh_a"), col("_sh_b"))).cast("double"))
      .filter(col("jaccard") >= verifyThreshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash band candidates of [[minHashLsh]] and [[containmentPairs]]:
    * every pair (id_a < id_b) that shares a band hash in some band, once,
    * with both shingle sets (`_sh_a`, `_sh_b`) joined back.
    */
  private def bandCandidates(docs: DataFrame, idCol: String, textCol: String,
                             shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import org.apache.spark.sql.graftshim.ColumnShim

    val withShingles = docs.select(col(idCol).as("_id"), shingles(col(textCol), shingleN).as("_sh"))

    // bands carry only (id, band, hash) — the shingle arrays stay out of
    // the bands-way row duplication and are joined back once per
    // surviving pair
    val bandHashes = ColumnShim.column(
      graft.plans.MinHashBands(ColumnShim.expression(col("_sh")), numHashes, bands))
    val banded = withShingles.select(col("_id"), posexplode(bandHashes))
      .select(col("_id"), col("pos").as("_b"), col("col").as("_h"))

    // candidate pairs: same band, same band-hash
    val left = banded.select(col("_b"), col("_h"), col("_id").as("id_a"))
    val right = banded.select(col("_b"), col("_h"), col("_id").as("id_b"))
    val pairs = left.join(right, Seq("_b", "_h")).filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")

    pairs
      .join(withShingles.select(col("_id").as("id_a"), col("_sh").as("_sh_a")), "id_a")
      .join(withShingles.select(col("_id").as("id_b"), col("_sh").as("_sh_b")), "id_b")
  }

  /** Verified-Jaccard calibration histogram of an LSH candidate set —
    * the empirical S-curve check behind every (numHashes, bands) choice:
    * banding theory promises candidates concentrate above the threshold
    * knee, and this table says whether they actually do (mass piling up
    * in low buckets means the band count is too aggressive for the
    * corpus). Buckets are `floor(j·buckets)` of the exact
    * intersection/union ratio; min/max per bucket (order-independent,
    * unlike a mean of doubles) bound the observed range.
    *
    * Scale shape: one map-side-combinable groupBy over the pair table,
    * bounded by `buckets` rows.
    */
  def jaccardCalibration(pairs: DataFrame, jCol: String = "jaccard",
                         buckets: Int = 20): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    pairs
      .withColumn("bucket", floor(col(jCol) * buckets).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        min(col(jCol)).as("min_j"), max(col(jCol)).as("max_j"))
  }

  /** Cross-corpus near-dup: near-duplicate pairs between a probe corpus
    * (a new crawl) and a reference corpus (the existing training set) —
    * the decontamination-by-similarity step that runs before new data
    * joins a training mix. Same shingle → signature → band machinery as
    * [[minHashLsh]], but candidates come from a probe-vs-corpus band
    * equi-join only: the reference side never self-joins, so the cost is
    * driven by the (small) probe side and true cross matches, not by
    * |corpus|². Ids may overlap between the two tables (they are
    * different corpora); no id-ordering filter applies.
    *
    * @param maxBucketSize optional corpus-side hot-bucket guard (the same
    *        standard LSH cap as [[simHashPairs]]): a band key shared by B
    *        corpus documents fans every matching probe out to B candidate
    *        rows, so one clone-heavy bucket can dominate the equi-join
    *        despite the probe-driven cost model. Corpus (band, hash)
    *        buckets larger than this are skipped — recall traded for a
    *        hard bound on join fan-out. Default 0 = off, because the
    *        guard costs one corpus-side exchange keyed on (band, hash)
    *        (the uncapped plan's corpus side never shuffles at all —
    *        PlanSpec pins that); enable it when deduping against
    *        clone-heavy reference corpora.
    * @return (probe_id, corpus_id, jaccard) with jaccard >= verifyThreshold
    */
  def minHashLshCross(probes: DataFrame, corpus: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
                      verifyThreshold: Double = 0.0,
                      maxBucketSize: Long = 0L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    import org.apache.spark.sql.graftshim.ColumnShim

    def withShingles(df: DataFrame) =
      df.select(col(idCol).as("_id"), shingles(col(textCol), shingleN).as("_sh"))
    def banded(df: DataFrame) = {
      val bandHashes = ColumnShim.column(
        graft.plans.MinHashBands(ColumnShim.expression(col("_sh")), numHashes, bands))
      df.select(col("_id"), posexplode(bandHashes))
        .select(col("_id"), col("pos").as("_b"), col("col").as("_h"))
    }
    val p = withShingles(probes)
    val c = withShingles(corpus)
    val cBanded = {
      val b = banded(c).select(col("_b"), col("_h"), col("_id").as("corpus_id"))
      if (maxBucketSize <= 0) b
      else b.withColumn("_bucket_n", count(lit(1)).over(Window.partitionBy("_b", "_h")))
        .filter(col("_bucket_n") <= maxBucketSize)
        .drop("_bucket_n")
    }
    val pairs = banded(p).select(col("_b"), col("_h"), col("_id").as("probe_id"))
      .join(cBanded, Seq("_b", "_h"))
      .dropDuplicates("probe_id", "corpus_id")
    pairs
      .join(p.select(col("_id").as("probe_id"), col("_sh").as("_sh_p")), "probe_id")
      .join(c.select(col("_id").as("corpus_id"), col("_sh").as("_sh_c")), "corpus_id")
      .withColumn("jaccard",
        size(array_intersect(col("_sh_p"), col("_sh_c"))).cast("double") /
          size(array_union(col("_sh_p"), col("_sh_c"))).cast("double"))
      .filter(col("jaccard") >= verifyThreshold)
      .select(col("probe_id"), col("corpus_id"), col("jaccard"))
  }

  /** SimHash bit width (60: the portable md5-prefix hash width) and the
    * chunk split used for candidate bucketing (4 × 15-bit chunks catch
    * all pairs within Hamming distance 3).
    */
  val simHashBits = 60
  private val simHashChunks = 4
  private val chunkBits = simHashBits / simHashChunks

  /** The `simHashChunks` 15-bit bucket keys of a fingerprint, unrolled with
    * literal Int shift amounts so the extraction is a true integer
    * `(f >> c*15) & 0x7FFF` — the fingerprint is 60-bit, above double's
    * 53-bit mantissa, so any float emulation of the shift buckets
    * differently near ulp boundaries (silent recall loss no downstream
    * hamming filter can recover).
    */
  private[graft] def simHashChunkKeys(fp: Column): Seq[Column] = {
    val chunkMask = (1L << chunkBits) - 1
    (0 until simHashChunks).map(c => shiftright(fp, c * chunkBits).bitwiseAND(chunkMask))
  }

  /** 60-bit SimHash fingerprint per document: sum ±1 per bit over
    * portable token hashes, weighted by token count — one codegen'd
    * scan-stage expression ([[graft.plans.SimHashFingerprint]]); the
    * explode → 60 conditional-sum aggregates shape paid a wide
    * hash-aggregate shuffle for what is a per-row computation.
    */
  def simHash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    docs.select(col(idCol).as("doc_id"),
      ColumnShim.column(graft.plans.SimHashFingerprint(
        ColumnShim.expression(split(col(textCol), " ")))).as("simhash"))
  }

  /** Near-dup pairs by SimHash: bucket on 16-bit chunks, verify Hamming
    * distance <= maxHamming via bit_count.
    */
  /** @param maxBucketSize skip degenerate buckets larger than this (a
    *        standard LSH guard: a bucket of size B contributes B² pairs,
    *        so one hot bucket can dominate the whole job; skipped buckets
    *        trade recall for a hard bound on join fan-out)
    */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   maxBucketSize: Long = 10000L): DataFrame = {
    val fp = simHash(docs, idCol, textCol)
    val chunkStructs = simHashChunkKeys(col("simhash")).zipWithIndex.map {
      case (h, c) => struct(lit(c).as("c"), h.as("h"))
    }
    val chunked = fp.withColumn("_c", explode(array(chunkStructs: _*)))
      .select(col("doc_id"), col("simhash"), col("_c.c").as("_chunk"), col("_c.h").as("_h"))
      .withColumn("_bucket_n", count(lit(1)).over(Window.partitionBy("_chunk", "_h")))
      .filter(col("_bucket_n") <= maxBucketSize)
      .drop("_bucket_n")
    val l = chunked.select(col("_chunk"), col("_h"), col("doc_id").as("id_a"), col("simhash").as("_f_a"))
    val r = chunked.select(col("_chunk"), col("_h"), col("doc_id").as("id_b"), col("simhash").as("_f_b"))
    // Hamming filter BEFORE the pair dedup: both fingerprints are already on
    // the joined row, so the xor/bit_count is scan-stage and the
    // dropDuplicates exchange only carries surviving pairs (a candidate can
    // be duplicated across up to `simHashChunks` chunks; filtering first cuts
    // that shuffle up to 4x on clone-heavy corpora). hamming is a function of
    // the pair, so dedup order does not change the result.
    l.join(r, Seq("_chunk", "_h")).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("_f_a").bitwiseXOR(col("_f_b"))))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
  }

  /** Edit-distance near-duplicate pairs, with simhash banding as the
    * candidate generator: pairs within `maxHamming` on the 60-bit simhash
    * are re-scored with the Levenshtein distance of their
    * `prefixChars`-character prefixes and kept when ≤ `maxDist` — the
    * character-level confirmation pass that catches what token-set
    * measures (minhash/simhash alone) cannot distinguish: small insertions
    * vs. reorderings of the same vocabulary.
    *
    * Scale shape: candidates come from [[simHashPairs]]'s banded
    * equi-join — never all-pairs — so the O(prefix²) DP runs only on the
    * candidate set; the two text joins project (id, prefix) before
    * shuffling, so nothing wider than the bounded prefix moves. The
    * distance itself is `functions.levenshtein` (codegen'd, integer) —
    * engine-exact against any standard unit-cost implementation.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int = 40, prefixChars: Int = 80,
                        maxHamming: Int = 3, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val pref = docs.select(col(idCol).as("_pid"), substring(col(textCol), 1, prefixChars).as("_p"))
    simHashPairs(docs, maxHamming, idCol, textCol)
      .join(pref.select(col("_pid").as("id_a"), col("_p").as("_pa")), Seq("id_a"))
      .join(pref.select(col("_pid").as("id_b"), col("_p").as("_pb")), Seq("id_b"))
      .withColumn("edit_dist", levenshtein(col("_pa"), col("_pb")).cast("long"))
      .filter(col("edit_dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"), col("edit_dist"))
  }

  /** Exact n-gram Jaccard similarity of each probe document against a
    * corpus, returning the top-1 match per probe.
    *
    * Not a crossJoin: per-pair `array_intersect`/`array_union` over full
    * shingle arrays is a CodegenFallback loop evaluated |corpus|×|probes|
    * times. Instead both sides explode to (doc, shingle) rows — shingle
    * arrays are already distinct, so |A∩B| is a codegen'd broadcast hash
    * join on the shingle string plus one counting groupBy, and
    * |A∪B| = |A| + |B| − |A∩B| from the per-doc set sizes. Pairs with an
    * empty intersection never appear in the join; a probe whose best
    * Jaccard is 0 falls back to the smallest corpus id ≠ probe (exactly
    * the `ORDER BY jaccard DESC, match_id` tie-break it would get).
    * Scale shape: the corpus side shuffles nothing — explode and join
    * happen in the scan stage against broadcast probe shingles; the only
    * shuffle is the groupBy on (probe, match) candidate pairs.
    */
  def ngramJaccardTop1(probes: DataFrame, corpus: DataFrame, shingleN: Int = 3,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), shingles(col(textCol), shingleN).as("_sh"))
    val c = corpus.select(col(idCol).as("match_id"), shingles(col(textCol), shingleN).as("_sh"))
    val pe = p.select(col("probe_id"), size(col("_sh")).as("_np"), explode(col("_sh")).as("_s"))
    val ce = c.select(col("match_id"), size(col("_sh")).as("_nc"), explode(col("_sh")).as("_s"))
    val top = ce.join(broadcast(pe), "_s")
      .filter(col("probe_id") =!= col("match_id"))
      .groupBy(col("probe_id"), col("match_id"))
      .agg(first(col("_np")).as("_np"), first(col("_nc")).as("_nc"), count(lit(1)).as("_ni"))
      .withColumn("jaccard",
        col("_ni").cast("double") / (col("_np") + col("_nc") - col("_ni")).cast("double"))
    // Zero-Jaccard fallback: every probe also carries a candidate row at
    // jaccard 0.0 for the smallest corpus id that is not the probe itself
    // (the two smallest ids suffice to exclude the probe without a
    // re-scan). Joined pairs always have jaccard > 0, so the window picks
    // the real best whenever one exists and the fallback otherwise —
    // unioning BEFORE the window keeps the expensive join lineage single
    // (an anti-join against the ranked result would recompute it).
    val minTwo = corpus.select(col(idCol).as("match_id")).orderBy(col("match_id")).limit(2)
    val fallback = probes.select(col(idCol).as("probe_id"))
      .crossJoin(broadcast(minTwo))
      .filter(col("probe_id") =!= col("match_id"))
      .groupBy(col("probe_id")).agg(min(col("match_id")).as("match_id"))
      .withColumn("jaccard", lit(0.0))
    val w = Window.partitionBy("probe_id").orderBy(col("jaccard").desc, col("match_id"))
    top.select(col("probe_id"), col("match_id"), col("jaccard"))
      .unionByName(fallback)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("probe_id"), col("match_id"), col("jaccard"))
  }

  /** Duplicate-cluster size histogram — the dedup monitoring row next to
    * the cluster table itself: (size, n_clusters) says whether the corpus
    * carries mostly pairs or a few mega-families (a boilerplate page
    * cloned across a whole crawl), which drives banding/threshold tuning
    * and flags crawler loops crawl-over-crawl.
    *
    * Scale shape: [[duplicateClusters]] does the work; the histogram is
    * two map-side-combinable groupBys, the first bounded by the number of
    * clustered documents, the second by the distinct-size domain.
    */
  def clusterSizeHistogram(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                           maxIterations: Int = 25,
                           localThreshold: Long = 2000000L): DataFrame =
    duplicateClusters(pairs, idA, idB, maxIterations, localThreshold)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))

  /** Duplicate clusters: connected components over an undirected
    * near-dup pair table (e.g. [[minHashLsh]] output), as distributed
    * min-label propagation with pointer doubling (Shiloach-Vishkin
    * hook + compress): O(log diameter) rounds, each one edges ⋈ labels
    * join plus one label-table self-join. The canonical "keep one
    * document per duplicate cluster" reducer at corpus scale.
    *
    * The branch is picked by one bounded collect of at most
    * `localThreshold + 1` pairs: if it returns no more than
    * `localThreshold`, those pairs are the whole table and the driver
    * runs union-find on them; otherwise the distributed loop runs. No
    * count, and no cache on the local branch. The bound is clamped to
    * `Int.MaxValue - 1` pairs (`Dataset.limit` takes an `Int`, and no
    * driver array holds more), so a larger threshold — `Long.MaxValue`
    * means "always local" — acts as that; a negative one skips the
    * collect.
    *
    * @param maxIterations bound on hook+compress rounds on the
    *        distributed path. Throws IllegalStateException if components
    *        have not converged within the budget — a silent stop would
    *        return split clusters as if they were real. Pointer doubling
    *        compounds propagation reach geometrically (a clique needs
    *        ~2 rounds), so the default 25 covers component diameters
    *        far past 2^20 — any realistic chain.
    * @param localThreshold pair-count cutoff up to which the component
    *        computation collects to the driver and runs union-find (each
    *        distributed iteration costs two shuffles of fixed latency —
    *        pointless when the pair graph fits in driver memory; dedup
    *        pair tables are orders of magnitude smaller than the corpus).
    *        2M pairs ≈ 32 MB of primitive longs (the collect goes through
    *        the (long, long) tuple encoder, no boxed rows) plus a
    *        union-find map over the NODE set — size to driver memory if
    *        raised. Above it, the probe has pulled `localThreshold + 1`
    *        pairs for nothing, and the loop reads the pair lineage again.
    *        Same budget convention as louvainLabels' threshold.
    * @return (doc_id, cluster_id = smallest id in the component,
    *         keep = doc_id is that smallest id)
    */
  def duplicateClusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                        maxIterations: Int = 25, localThreshold: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val p = pairs.select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
    // Collect through the primitive tuple encoder (long, long) — no boxed
    // Row objects on the driver heap.
    val cap = math.min(localThreshold, Int.MaxValue - 1L)
    val probe =
      if (cap < 0) None else Some(p.limit((cap + 1).toInt).as[(Long, Long)].collect())

    val result = probe.filter(_.length <= cap) match {
      case Some(edges) =>
        // driver-side union-find; the pair lineage stayed distributed
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "label")
      case None =>
        // the loop reads the pair lineage twice (edges, nodes): persist it
        p.persist()
        // Min-label propagation WITH pointer doubling (the Shiloach-
        // Vishkin alternation): each round (1) hooks every node to the
        // min label in its closed neighborhood — one edges ⋈ labels
        // equi-join + grouped min — then (2) compresses paths by one
        // label-table self-join (label := label's label). Hooking alone
        // advances a label one hop per round (O(diameter) rounds — a
        // borderline-pair chain of length d would need d rounds);
        // doubling makes the propagation reach compound geometrically,
        // so convergence is O(log d) rounds of O(|E|) + O(|V|) joins.
        // Near-dup components are near-cliques and still finish in ~2.
        //
        // Each round's label frame is localCheckpoint(eager)-
        // materialized: an iterative plan that merely persists would
        // nest every previous round's join tree inside the next, and by
        // round ~10 the logical plan is exponentially large — analysis
        // itself blows up before any task runs. Checkpointed blocks of
        // finished rounds are freed by the context cleaner; at most
        // `maxIterations` node-table frames ever exist.
        val edges = p.filter(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("src"),
            greatest(col("src"), col("dst")).as("dst"))
          .distinct()
        val sym = edges
          .union(edges.select(col("dst").as("src"), col("src").as("dst")))
          .localCheckpoint(eager = true)
        var labels = p.select(col("src").as("node"))
          .union(p.select(col("dst").as("node")))
          .distinct().withColumn("label", col("node"))
          .localCheckpoint(eager = true)
        var changed = 1L
        var i = 0
        while (changed > 0 && i < maxIterations) {
          // hook: adopt the min label over the closed neighborhood
          val nbrMin = sym.join(labels, col("src") === col("node"))
            .groupBy(col("dst").as("_n")).agg(min(col("label")).as("_nl"))
          val hooked = labels.join(nbrMin, col("node") === col("_n"), "left")
            .select(col("node"), col("label").as("_old"),
              least(col("label"), coalesce(col("_nl"), col("label"))).as("label"))
            .localCheckpoint(eager = true)
          changed = hooked.filter(col("label") =!= col("_old")).count()
          // compress: label := label's label (labels are always node ids
          // present in the table, so the self-join is total)
          labels = hooked.select(col("node"), col("label"))
            .join(hooked.select(col("node").as("_pn"), col("label").as("_pl")),
              col("label") === col("_pn"))
            .select(col("node"), col("_pl").as("label"))
            .localCheckpoint(eager = true)
          i += 1
        }
        // labels still moving after the budget would silently yield
        // split clusters (multiple keep=true docs per true component)
        if (changed > 0)
          throw new IllegalStateException(
            s"duplicateClusters: labels still changing after $maxIterations rounds " +
              s"($changed nodes) — component diameter exceeds the doubling budget " +
              "(~2^rounds); raise maxIterations")
        p.unpersist()
        labels
    }

    result.select(col("node").as("doc_id"), col("label").as("cluster_id"),
      (col("node") === col("label")).as("keep"))
  }

  /** Surviving corpus after near-duplicate pruning: every document except
    * cluster members that lost to a smaller-id representative — the
    * step that turns the pair table into a training corpus. The drop
    * list is the duplicate set only (usually a small fraction of the
    * corpus), so the anti-join's build side stays proportional to the
    * duplicates found, not to corpus size; Spark broadcasts it when it
    * fits and falls back to a shuffled anti-join when it doesn't.
    */
  def pruneDuplicates(docs: DataFrame, pairs: DataFrame, idCol: String = "doc_id",
                      localThreshold: Long = 2000000L): DataFrame = {
    val drops = duplicateClusters(pairs, localThreshold = localThreshold)
      .filter(!col("keep")).select(col("doc_id").as("_drop_id"))
    docs.join(drops, docs(idCol) === col("_drop_id"), "left_anti")
  }

  /** Quality-aware duplicate pruning: keep the HIGHEST-`scoreCol`
    * document of each near-dup cluster (ties → smallest id), not the
    * smallest-id one — what production dedup actually ships, since the
    * smallest id is an accident of crawl order while the cluster's best
    * quality/length/recency copy is the one worth training on
    * ([[pruneDuplicates]] is the id convention; this is the scored one).
    *
    * Scale shape: [[duplicateClusters]] does the component work; the
    * winner per cluster is one struct-max (score, −id) aggregate over
    * the CLUSTERED docs only (losers ≪ corpus), and survivors come back
    * via one anti-join of drop ids — broadcast when the drop set fits.
    */
  def pruneDuplicatesByScore(docs: DataFrame, pairs: DataFrame, scoreCol: String,
                             idCol: String = "doc_id",
                             localThreshold: Long = 2000000L): DataFrame = {
    val clusters = duplicateClusters(pairs, localThreshold = localThreshold)
      .select(col("doc_id").as("_cid"), col("cluster_id"))
    // keep the score's native numeric type in the struct-max: casting to
    // long would truncate fractional quality scores in [0,1] to 0 and
    // silently degrade this to smallest-id dedup
    val scored = clusters.join(
      docs.select(col(idCol).as("_cid"), col(scoreCol).as("_score")), Seq("_cid"))
    val winners = scored
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("_score"), (-col("_cid")).as("_negid"))).as("_w"))
      .select(col("cluster_id"), (-col("_w._negid")).as("_keep_id"))
    val drops = scored.join(winners, Seq("cluster_id"))
      .filter(col("_cid") =!= col("_keep_id"))
      .select(col("_cid").as("_drop_id"))
    docs.join(drops, docs(idCol) === col("_drop_id"), "left_anti")
  }

  /** Per-group dedup-rate monitor: how much of each source/language the
    * near-dup pass removes — the ingest-health number that flags a feed
    * republishing its own archive (or a crawler looping) before the
    * mixture math silently re-weights around it. Same loser set as
    * [[pruneDuplicates]]; the drop flag is one broadcast-size hash join
    * (losers ≪ corpus), the rate one map-side-combinable groupBy.
    */
  def dedupRateByGroup(docs: DataFrame, pairs: DataFrame, groupCol: String = "source",
                       idCol: String = "doc_id",
                       localThreshold: Long = 2000000L): DataFrame = {
    val drops = duplicateClusters(pairs, localThreshold = localThreshold)
      .filter(!col("keep")).select(col("doc_id").as("_drop_id"), lit(1L).as("_dropped"))
    docs.select(col(idCol), col(groupCol))
      .join(drops, docs(idCol) === col("_drop_id"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        coalesce(sum("_dropped"), lit(0L)).cast("long").as("n_dropped"))
      .withColumn("drop_rate",
        col("n_dropped").cast("double") / col("n_docs").cast("double"))
  }

  /** Shingle-containment near-dup pairs (Broder 1997's asymmetric
    * resemblance): `containment(A→B) = |A∩B| / |A|` catches a document
    * EMBEDDED in a larger one — a quoted article inside a blog page, a
    * README pasted into a repo dump — which symmetric Jaccard dilutes
    * below any usable threshold as the host grows. Candidates come from
    * the same minhash band equi-join as [[minHashLsh]] (band collision
    * probability is driven by the smaller set's resemblance, so
    * high-containment pairs still collide); a pair survives if EITHER
    * direction reaches `threshold`. Both containments are emitted, both
    * rounded to 1e-6 before the threshold so admission is engine-exact.
    */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
                       threshold: Double = 0.5): DataFrame = {
    bandCandidates(docs, idCol, textCol, shingleN, numHashes, bands)
      .withColumn("_inter", size(array_intersect(col("_sh_a"), col("_sh_b"))).cast("double"))
      .withColumn("containment_a", round(col("_inter") / size(col("_sh_a")).cast("double"), 6))
      .withColumn("containment_b", round(col("_inter") / size(col("_sh_b")).cast("double"), 6))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("containment_a"), col("containment_b"))
  }

  /** Cross-split near-dup leakage monitor: how many near-duplicate pairs
    * straddle the train/val/test boundary — the contamination a hash
    * split structurally cannot prevent (each clone hashes independently),
    * and the reason near-dup pruning must run BEFORE splitting. A nonzero
    * (train, test) row means eval numbers are inflated.
    *
    * Scale shape: the split assignment is the scan-stage [[CorpusOps
    * .hashSplit]] predicate (recomputed, no stored state); the overlay is
    * two id equi-joins of the pair table against it, output bounded by
    * |splits|². Pair volume — not corpus size — drives the cost.
    */
  def splitLeakage(docs: DataFrame, pairs: DataFrame,
                   weights: Seq[(String, Int)] = Seq("train" -> 80, "val" -> 10, "test" -> 10),
                   salt: String = "graft", idCol: String = "doc_id"): DataFrame = {
    val sp = CorpusOps.hashSplit(docs, weights, salt, idCol)
      .select(col(idCol), col("split"))
    pairs
      .join(sp.select(col(idCol).as("id_a"), col("split").as("_sa")), Seq("id_a"))
      .join(sp.select(col(idCol).as("id_b"), col("split").as("_sb")), Seq("id_b"))
      .groupBy(least(col("_sa"), col("_sb")).as("split_1"),
        greatest(col("_sa"), col("_sb")).as("split_2"))
      .agg(count(lit(1)).cast("long").as("n_pairs"))
      .withColumn("is_leak", (col("split_1") =!= col("split_2")).cast("long"))
  }

  /** Exact duplicated-span removal at word-n-gram granularity — the
    * word-level form of exact-substring deduplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", which
    * drops repeated spans rather than whole documents; their suffix-array
    * span finder becomes a relational n-gram equi-join here).
    *
    * Rule: the globally-first occurrence of each n-gram (ordered by
    * (doc_id, position)) survives; every other occurrence marks its n
    * word positions as duplicated, and marked positions are removed. The
    * surviving words re-join (space-separated) into the deduplicated
    * text. In-document repeats count: a doc that repeats its own phrase
    * keeps only the first copy. Documents shorter than n words carry no
    * grams and pass through untouched.
    *
    * Scale shape: grams are 8-byte h60 hashes generated in the scan stage
    * ([[graft.plans.WordNgrams]]); the first-occurrence pass is one
    * map-side-combinable min-struct groupBy on the hash; duplicate
    * occurrences explode to at most n positions each, so the removal set
    * is proportional to *duplicated* text, not corpus size. No text
    * moves through the gram shuffle — only (hash, doc, pos) triples.
    *
    * @return (doc_id, n_words, n_removed, text_deduped)
    */
  /** Exact shared-substring pair detection at document granularity —
    * the document-level view of ExactSubstr dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", §4.1):
    * two documents are flagged iff they share an exact CHARACTER
    * substring of length ≥ `minLen`, which holds iff they share an
    * exact `minLen`-gram — so detection is lossless, not approximate
    * ([[dedupSpans]]'s word-n-gram hashes serve the span-REMOVAL side;
    * this is the exact pair-detection side, and a shared run of length
    * R contributes exactly R − minLen + 1 grams to `n_shared_grams`).
    * Grams are grouped by their RAW STRING, not a hash — no collision
    * caveat anywhere.
    *
    * Scale shape: per doc ≤ |text| exploded grams, deduped per doc,
    * then one gram equi-join. The quadratic risk is boilerplate grams
    * shared by thousands of docs (a df-d gram emits d² pair rows):
    * `maxDf` drops grams above the document-frequency cap BEFORE
    * pairing — the standard boilerplate guard (a gram in >maxDf docs
    * is template noise, not duplication evidence), and df=1 grams
    * never enter the join at all.
    *
    * ORDERING CONTRACT: run exact dedup first. Verbatim copies multiply
    * EVERY gram's df by the clone count and each shared gram emits
    * C(clones·df, 2) pair rows — measured 53 s for 10 identical copies
    * of the sf0.1 corpus (SURVEY §6) where the cap cannot
    * bite (within-clone groups sit at df = clones, under any sane cap).
    * Exact hash-dedup collapses clones in one cheap groupBy; this
    * operator's cap guards cross-document boilerplate, not the verbatim
    * duplication upstream dedup exists to remove.
    *
    * Skew caveat: the scan is repartitioned by `doc_id` so the gram
    * expansion runs at full width, but a document never splits across
    * tasks — a single very long document (one gram row per character)
    * makes its task one hot task.
    *
    * @return (doc_id_1, doc_id_2, n_shared_grams) for pairs sharing at
    *         least one ≥ minLen exact substring (gram df ≤ maxDf)
    */
  def substringPairs(docs: DataFrame, minLen: Int = 40, maxDf: Int = 100,
                     idCol: String = "doc_id", textCol: String = "text",
                     share: DataFrame => DataFrame = identity): DataFrame = {
    import org.apache.spark.sql.graftshim.ColumnShim
    substringPairsWithPrefilter(docs, minLen, maxDf, idCol, textCol, share,
      t => ColumnShim.column(
        graft.plans.CharGramHashes(ColumnShim.expression(t), minLen)))
  }

  /** [[substringPairs]] with an injectable prefilter hash — the spec
    * passes a deliberately COLLIDING hash here to pin that collisions
    * only admit extra candidates and never change the output (every
    * downstream decision re-checks the raw string).
    */
  private[graft] def substringPairsWithPrefilter(
      docs: DataFrame, minLen: Int, maxDf: Int, idCol: String, textCol: String,
      share: DataFrame => DataFrame, gramHashes: Column => Column): DataFrame = {
    require(minLen >= 2 && maxDf >= 2, "minLen/maxDf must be sensible")
    // deterministic doc_id hash repartition straight off the scan: the
    // corpus ships as single-row-group parquet, so the scan stage is ONE
    // task and the ~minLen× gram expansion below would run single-core
    // (guide §2.5 "unsplittable input — repartition immediately after
    // the read"; the r16 probe measured the single-task explode+agg as
    // this gate's dominant stage). The shuffle moves 1× text once so the
    // expansion runs at full width; both hash passes share the one
    // exchange (ReuseExchange — identical subplans), and the gram rows
    // themselves never shuffle (they die in the partial agg).
    val base = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("_t"))
      .filter(length(col("_t")) >= minLen)
      .repartition(col("doc_id"))
    // occurrence-count >= 2 prefilter on a rolling 8-byte gram hash
    // ([[graft.plans.CharGramHashes]], one O(len) scan-stage pass) — a
    // PROVABLE superset (string-equal ⇒ hash-equal, so a gram in ≥ 2
    // docs always has hash-count ≥ 2; within-doc repeats only widen the
    // filter). The unique-gram MAJORITY dies here WITHOUT a substring
    // ever being materialized for it (the per-position substring explode
    // was ~40× the text volume in transient allocation and, checkpointed,
    // the gate's dominant stage — r16 probe); per-doc distinct and the
    // exact raw-string [2, maxDf] cap run on the tiny survivor set, so
    // hash collisions can only admit extra candidates, never change the
    // output
    val hot = base.select(explode(gramHashes(col("_t"))).as("_h"))
      .groupBy(col("_h")).agg(count(lit(1)).as("_hdf"))
      .filter(col("_hdf") >= 2).select(col("_h"))
    // re-derive positions in a second cheap hash pass and cut the
    // non-survivors BEFORE the substring projection: Generate → hot
    // semi-probe → substring fuse into one codegen stage, so raw gram
    // strings exist only for hot positions
    val cand = share(base
      .select(col("doc_id"), col("_t"),
        posexplode(gramHashes(col("_t"))).as(Seq("_i", "_h")))
      .join(hot, Seq("_h"))
      .select(col("doc_id"), expr(s"substring(_t, _i + 1, $minLen)").as("gram"))
      .distinct())
    val pairable = cand.groupBy(col("gram"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2 && col("_df") <= maxDf)
      .select(col("gram"))
    val kept = share(cand.join(pairable, Seq("gram")))
    kept.select(col("gram"), col("doc_id").as("_a"))
      .join(kept.select(col("gram"), col("doc_id").as("_b")), Seq("gram"))
      .filter(col("_a") < col("_b"))
      .groupBy(col("_a").as("doc_id_1"), col("_b").as("doc_id_2"))
      .agg(count(lit(1)).cast("long").as("n_shared_grams"))
  }

  def dedupSpans(docs: DataFrame, n: Int = 10,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))

    // all gram occurrences: (doc_id, p, h60); gram position = array index
    val occ = base
      .select(col("doc_id"), posexplode(TextAnalysis.ngrams(col("_text"), n)).as(Seq("_p", "_g")))
      .select(col("doc_id"), col("_p").cast(LongType).as("_p"), PortableHash.h60(col("_g")).as("_h"))

    // globally-first occurrence per gram; later occurrences are duplicates
    val firstOcc = occ.groupBy(col("_h"))
      .agg(min(struct(col("doc_id"), col("_p"))).as("_f"))
      .select(col("_h"), col("_f.doc_id").as("_f_doc"), col("_f._p").as("_f_p"))
    val dupOcc = occ.join(firstOcc, "_h")
      .filter(!(col("doc_id") === col("_f_doc") && col("_p") === col("_f_p")))

    // word positions covered by any duplicate occurrence
    val removed = dupOcc
      .select(col("doc_id"), explode(sequence(col("_p"), col("_p") + (n - 1))).as("_pos"))
      .distinct()
      .withColumn("_rm", lit(true))

    val words = base
      .select(col("doc_id"), posexplode(split(col("_text"), " ")).as(Seq("_pos", "_w")))
      .withColumn("_pos", col("_pos").cast(LongType))
    val keptText = words
      .join(removed, Seq("doc_id", "_pos"), "left")
      .filter(col("_rm").isNull)
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("_pos"), col("_w")))), s => s.getField("_w")))
        .as("_kept"))
    val removedCounts = removed.groupBy(col("doc_id")).agg(count(lit(1)).as("_n_removed"))

    base
      .join(removedCounts, Seq("doc_id"), "left")
      .join(keptText, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(split(col("_text"), " ")).cast(LongType).as("n_words"),
        coalesce(col("_n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("_kept"), lit("")).as("text_deduped"))
  }

  /** Paragraph-level exact deduplication (the Dolma/RefinedWeb pass
    * between document-level and span-level dedup): split each document
    * on `sep`, drop every paragraph whose exact text already occurred
    * earlier in the corpus — boilerplate headers, navigation blocks,
    * license footers repeat across millions of pages while their host
    * documents stay distinct. The keeper is the globally-first
    * occurrence by (doc_id, position) — deterministic, not sampled.
    *
    * Identity is the 60-bit [[PortableHash.h60]] content hash (the
    * engine-wide exact-dedup contract — same as [[exactDedup]] and
    * streaming dedup): collisions merge distinct paragraphs with
    * probability ~n²/2⁶¹, accepted and documented rather than shuffling
    * full paragraph text twice.
    *
    * Scale shape: one posexplode scan; one map-side-combinable
    * groupBy(hash) for the first-occurrence table; one hash-keyed
    * equi-join back (the only motion of paragraph text); one
    * groupBy(doc) reassembly. All linear, no driver state, no products.
    *
    * @return (doc_id, n_paragraphs, n_removed, text_deduped) —
    *         n_paragraphs counts nonempty paragraphs; a document whose
    *         every paragraph occurred earlier reassembles to "", and a
    *         document with no nonempty paragraph at all is absent
    */
  def dedupParagraphs(docs: DataFrame, sep: String = "\n\n",
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
    val paras = base
      .select(col("doc_id"),
        posexplode(split(col("_text"), java.util.regex.Pattern.quote(sep)))
          .as(Seq("_pos", "_p")))
      .filter(length(col("_p")) > 0)
      .select(col("doc_id"), col("_pos").cast(LongType).as("_pos"), col("_p"),
        PortableHash.h60(col("_p")).as("_h"))
    val firstOcc = paras.groupBy(col("_h"))
      .agg(min(struct(col("doc_id"), col("_pos"))).as("_f"))
    val kept = paras.join(firstOcc, Seq("_h"))
      .filter(col("doc_id") === col("_f.doc_id") && col("_pos") === col("_f._pos"))
    val counts = paras.groupBy(col("doc_id")).agg(count(lit(1)).as("n_paragraphs"))
    val reassembled = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("_n_kept"),
        concat_ws(sep,
          transform(array_sort(collect_list(struct(col("_pos"), col("_p")))),
            s => s.getField("_p"))).as("_kept"))
    counts
      .join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paragraphs"),
        (col("n_paragraphs") - coalesce(col("_n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("_kept"), lit("")).as("text_deduped"))
  }

  /** Embedding near-duplicates: cosine similarity >= threshold among
    * candidate pairs from random-hyperplane LSH buckets (see Ann for the
    * signature machinery).
    */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.95, planes: Int = 16,
                       idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sig = Ann.hyperplaneSignature(emb, planes, vecCol = vecCol)
    val l = sig.select(col("_sig").as("_s"), col(idCol).as("id_a"), col("_v").as("_v_a"))
    val r = sig.select(col("_sig").as("_s"), col(idCol).as("id_b"), col("_v").as("_v_b"))
    l.join(r, Seq("_s")).filter(col("id_a") < col("id_b"))
      // quantize before thresholding so the boundary decision is
      // reproducible across engines (same rule as Ann's ranking)
      .withColumn("cosine", round(Ann.cosine(col("_v_a"), col("_v_b")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Semantic deduplication (the SemDeDup regime, Abbas et al. 2023):
    * cluster the embedding space with k-means, then drop near-duplicate
    * *meanings* — any vector with a lower-id same-cluster vector at
    * cosine ≥ `threshold`. Clustering is what makes the quadratic safe:
    * pairs are generated by a self-equi-join ON THE CLUSTER ID, so the
    * pair volume is Σ|cluster|², bounded by choosing k ∝ corpus size
    * (the paper's design point), never corpus².
    *
    * Determinism contract: k-means is [[KMeans.fit]]'s integer-exact
    * trainer (lowest-id seeding, quantized centroids); the survivor rule
    * is "no lower-id same-cluster vector above threshold" — a pure
    * predicate, not a random representative, and it drops a vector even
    * when its earlier witness is itself dropped (the one-pass chain-drop
    * variant, documented rather than the paper's random keeper). Cosine
    * is rounded to 1e-6 before thresholding (the [[Ann]] ranking rule)
    * so the boundary decision is engine-stable.
    *
    * @return (idCol, cluster_id) for surviving vectors
    */
  def semanticDedup(emb: DataFrame, k: Int, iters: Int, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val model = KMeans.fit(emb, k, iters, idCol, vecCol)
    val assigned = KMeans.assign(emb, model, vecCol = vecCol)
      .select(col(idCol), col(vecCol), col("cluster_id"))
    val a = assigned.select(col("cluster_id"), col(idCol).as("_id"), col(vecCol).as("_v"))
    val b = assigned.select(col("cluster_id"), col(idCol).as("_id2"), col(vecCol).as("_v2"))
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("_id2") < col("_id"))
      .filter(round(Ann.cosine(col("_v"), col("_v2")), 6) >= threshold)
      .select(col("_id").as(idCol)).distinct()
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster_id"))
  }
}
