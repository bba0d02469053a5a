package graft.gates

import graft.Pipeline
import graft.functions.PortableHash.{M, h60Sql}
import graft.operators._
import org.apache.spark.sql.functions._
import Shared.{componentCtes, droppedCte, labelCte, minhashBandedCtes, minhashOracle, minhashPairsCte}

/** Training-data dedup: exact, MinHash, SimHash, edit-distance, n-gram,
  * cluster, span and substring dedup, and winnowing overlap.
  */
private[graft] object DedupGates {

  /** Cross-corpus variant: probe (doc_id < probeMax) vs reference corpus
    * (doc_id >= probeMax) — the same sig/band CTEs, pairs restricted to
    * the cross join direction only.
    */
  private def minhashCrossOracle(numHashes: Int, bands: Int, threshold: Double,
                                 probeMax: Long): String =
    s"""WITH ${minhashBandedCtes(numHashes, bands, "documents")},
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS probe_id, b.doc_id AS corpus_id
       |  FROM banded a JOIN banded b ON a.bb = b.bb AND a.h = b.h
       |  WHERE a.doc_id < $probeMax AND b.doc_id >= $probeMax),
       |scored AS (
       |  SELECT probe_id, corpus_id,
       |    CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) /
       |    CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) AS j
       |  FROM pairs JOIN sh sa ON sa.doc_id = probe_id JOIN sh sb ON sb.doc_id = corpus_id)
       |SELECT probe_id, corpus_id, round(j, 6) AS jaccard FROM scored
       |WHERE j >= $threshold""".stripMargin

  /** [[graft.operators.Dedup.clusterSizeHistogram]]: the dedup_clusters
    * component chain reduced to its (size, n_clusters) histogram.
    */
  private def dedupClusterSizesOracle(numHashes: Int, bands: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${minhashPairsCte(numHashes, bands, threshold)},
       |${componentCtes("dup", "id_a", "id_b")},
       |${labelCte("cl", node = "n.node AS doc_id")},
       |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS size FROM cl GROUP BY cluster_id)
       |SELECT size, CAST(count(*) AS BIGINT) AS n_clusters FROM cs GROUP BY size""".stripMargin

  /** Robust winnowing (k = 5, w = 4): packed = (h60(gram) % M) * 2^21 +
    * (2^20 - pos), so the window MINIMUM is the smallest hash with
    * rightmost-position ties, and decoding is integer arithmetic. Ends in
    * each doc's selected packed values `s(doc_id, sel)`.
    */
  private def winnowCtes: String = {
    val (k, w) = (5, 4)
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |g AS (SELECT doc_id, list_transform(range(0, greatest(len(ws) - ${k - 1}, 0)),
       |        i -> array_to_string(ws[i+1:i+$k], ' ')) AS gs FROM t),
       |p AS (SELECT doc_id, list_transform(range(0, len(gs)),
       |        i -> (${h60Sql("gs[i+1]")} % $M) * 2097152 + (1048576 - i)) AS ps FROM g),
       |s AS (SELECT doc_id, list_distinct(list_transform(range(least($w, len(ps)) - 1, len(ps)),
       |        e -> list_min(ps[greatest(e - $w + 2, 1) : e + 1]))) AS sel
       |      FROM p WHERE len(ps) > 0)""".stripMargin
  }

  /** Connected components over the minhash pairs via transitive closure
    * (components are tiny, so the closure stays small).
    */
  private def dedupClustersOracle(numHashes: Int, bands: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${minhashPairsCte(numHashes, bands, threshold)},
       |${componentCtes("dup", "id_a", "id_b")}
       |SELECT n.node AS doc_id,
       |       least(n.node, min(r.b)) AS cluster_id,
       |       (least(n.node, min(r.b)) = n.node) AS keep
       |FROM nodes n JOIN reach r ON r.a = n.node
       |GROUP BY n.node""".stripMargin

  /** CTE chain ending in `pairs(id_a, id_b, fa, fb)` — the banded simhash
    * candidate pairs (Dedup.simHashPairs before the hamming filter).
    */
  private def simhashPairsCtes(src: String = "documents"): String = {
    val bits = graft.operators.Dedup.simHashBits
    val voteCols = (0 until bits)
      .map(b => s"sum(CASE WHEN (hh >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b")
      .mkString(",\n    ")
    val fpExpr = (0 until bits)
      .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, unnest(string_split(text,' ')) AS t FROM $src),
       |h AS (SELECT doc_id, ${h60Sql("t")} AS hh FROM tok),
       |votes AS (
       |  SELECT doc_id,
       |    $voteCols
       |  FROM h GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fpExpr AS f FROM votes),
       |chunks AS (
       |  SELECT doc_id, f, c, (f >> (c * 15)) & 32767 AS ch
       |  FROM fp, LATERAL (SELECT unnest([0, 1, 2, 3]) AS c)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.f AS fa, b.f AS fb
       |  FROM chunks a JOIN chunks b ON a.c = b.c AND a.ch = b.ch AND a.doc_id < b.doc_id)""".stripMargin
  }

  private def simhashOracle(maxHamming: Int): String =
    s"""WITH ${simhashPairsCtes()}
       |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM pairs WHERE bit_count(xor(fa, fb)) <= $maxHamming""".stripMargin

  /** The dedup_editdist gate's synthetic revision corpus: insert
    * `doc_id % 4` 'Z' marker characters after character 10 — near-dup
    * pair members with different marker lengths then differ by a small
    * in-prefix edit (insertion + window shift), members with equal
    * lengths stay at distance 0, so the threshold genuinely separates.
    * Byte-identical construction on both engines.
    */
  private val editDistAugSql: String =
    """aug AS MATERIALIZED (
      |  SELECT doc_id,
      |         substring(text, 1, 10) || repeat('Z', CAST(doc_id % 4 AS INT)) || substring(text, 11) AS text
      |  FROM documents)""".stripMargin

  /** [[graft.operators.Dedup.editDistancePairs]]: the simhash candidate
    * pairs re-scored with prefix Levenshtein (both engines' levenshtein
    * is the standard unit-cost DP — integer, engine-exact).
    */
  private def editDistOracle(maxHamming: Int, maxDist: Int, prefixChars: Int): String =
    s"""WITH $editDistAugSql,
       |${simhashPairsCtes("aug")},
       |ham AS (
       |  SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |  FROM pairs WHERE bit_count(xor(fa, fb)) <= $maxHamming),
       |ed AS (
       |  SELECT id_a, id_b, hamming,
       |         CAST(levenshtein(substring(da.text, 1, $prefixChars),
       |                          substring(db.text, 1, $prefixChars)) AS BIGINT) AS edit_dist
       |  FROM ham JOIN aug da ON da.doc_id = id_a
       |           JOIN aug db ON db.doc_id = id_b)
       |SELECT id_a, id_b, hamming, edit_dist FROM ed WHERE edit_dist <= $maxDist""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("dedup_exact") { (s, dir) =>
      Dedup.exact(s.read.parquet(s"$dir/documents.parquet"))
    } {
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM documents GROUP BY md5(text)""".stripMargin
    },
    Gate("dedup_template") { (s, dir) =>
      Dedup.templateDedup(s.read.parquet(s"$dir/documents.parquet"))
    } {
      // template-skeleton collapse: casefold, digit runs -> 0, ASCII
      // punctuation -> space, whitespace collapsed (explicit [ \t\n\r]
      // class -- Java \s and RE2 \s disagree on \x0B)
      """WITH sk AS (
        |  SELECT doc_id, text,
        |         trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
        |           '[0-9]+', '0', 'g'), '[!-/:-@\[-`{-~]', ' ', 'g'),
        |           '[ \t\n\r]+', ' ', 'g')) AS sk
        |  FROM documents)
        |SELECT md5(sk) AS skeleton_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT text) AS BIGINT) AS n_variants
        |FROM sk GROUP BY md5(sk)""".stripMargin
    },
    Gate("dedup_minhash") { (s, dir) =>
      Pipeline.minhashPairs(s, dir)
        .withColumn("jaccard", round(col("jaccard"), 6))
    } { minhashOracle(numHashes = 64, bands = 16, threshold = 0.5) },
    Gate("dedup_containment") { (s, dir) =>
      Dedup.containmentPairs(s.read.parquet(s"$dir/documents.parquet"),
        numHashes = 64, bands = 16, threshold = 0.5)
    } {
      // Broder containment over the same band-candidate chain (threshold -1
      // keeps every candidate in dup); |∩|/|A| and |∩|/|B| rounded to 1e-6
      // before the either-direction admission — identical on both engines
      s"""WITH ${minhashPairsCte(64, 16, -1.0)},
         |cont AS (
         |  SELECT id_a, id_b,
         |    round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |          / CAST(len(sa.s) AS DOUBLE), 6) AS containment_a,
         |    round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |          / CAST(len(sb.s) AS DOUBLE), 6) AS containment_b
         |  FROM dup JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b)
         |SELECT id_a, id_b, containment_a, containment_b
         |FROM cont WHERE greatest(containment_a, containment_b) >= 0.5""".stripMargin
    },
    // decontamination-by-similarity: a 50-doc "new crawl" (doc_id < 50)
    // near-dup-checked against the remaining corpus before joining the mix
    Gate("dedup_cross") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.minHashLshCross(docs.filter(col("doc_id") < 50),
          docs.filter(col("doc_id") >= 50),
          numHashes = 64, bands = 16, verifyThreshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
    } {
      minhashCrossOracle(numHashes = 64, bands = 16, threshold = 0.5,
        probeMax = 50L)
    },
    Gate("dedup_simhash") { (s, dir) =>
      Dedup.simHashPairs(s.read.parquet(s"$dir/documents.parquet"), maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
    } { simhashOracle(maxHamming = 3) },
    // synthetic revision corpus (variable-length marker insertion after
    // char 10) so the candidate pairs carry nonzero in-prefix edits and
    // the distance threshold genuinely separates — see editDistAugSql
    Gate("dedup_editdist") { (s, dir) =>
      val aug = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text", concat(substring(col("text"), 1, 10),
          expr("repeat('Z', cast(doc_id % 4 as int))"), expr("substring(text, 11)")))
      Dedup.editDistancePairs(aug, maxDist = 3, prefixChars = 80, maxHamming = 3)
        .withColumn("hamming", col("hamming").cast("long"))
    } { editDistOracle(maxHamming = 3, maxDist = 3, prefixChars = 80) },
    Gate("dedup_ngram_jaccard") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Dedup.ngramJaccardTop1(docs.filter(col("doc_id") < 10), docs)
    } {
      s"""WITH sh AS (
         |  SELECT doc_id, list_distinct(CASE WHEN len(string_split(text,' ')) >= 3
         |    THEN list_transform(range(0, len(string_split(text,' ')) - 2),
         |         i -> array_to_string(string_split(text,' ')[i+1:i+3], ' '))
         |    ELSE [array_to_string(string_split(text,' '), ' ')] END) AS s
         |  FROM documents
         |), scored AS (
         |  SELECT p.doc_id AS probe_id, c.doc_id AS match_id,
         |         CAST(len(list_intersect(p.s, c.s)) AS DOUBLE) /
         |         CAST(len(list_distinct(list_concat(p.s, c.s))) AS DOUBLE) AS jaccard
         |  FROM sh c, (SELECT * FROM sh WHERE doc_id < 10) p
         |  WHERE p.doc_id != c.doc_id)
         |SELECT probe_id, match_id, jaccard FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY jaccard DESC, match_id) AS rn
         |  FROM scored) WHERE rn = 1""".stripMargin
    },
    Gate("dedup_clusters") { (s, dir) =>
      Dedup.duplicateClusters(Pipeline.minhashPairs(s, dir))
    } { dedupClustersOracle(numHashes = 64, bands = 16, threshold = 0.5) },
    Gate("dedup_jaccard_calibration") { (s, dir) =>
      Dedup.jaccardCalibration(Pipeline.minhashPairs(s, dir))
    } {
      // LSH S-curve calibration: verified-jaccard buckets over the
      // minhash candidate pairs
      {
        s"""WITH ${minhashPairsCte(numHashes = 64, bands = 16, threshold = 0.5)}
           |SELECT CAST(floor(j * 20) AS BIGINT) AS bucket,
           |       CAST(count(*) AS BIGINT) AS n_pairs,
           |       min(j) AS min_j, max(j) AS max_j
           |FROM dup GROUP BY 1""".stripMargin
      }
    },
    Gate("dedup_cluster_sizes") { (s, dir) =>
      Dedup.clusterSizeHistogram(Pipeline.minhashPairs(s, dir))
    } { dedupClusterSizesOracle(numHashes = 64, bands = 16, threshold = 0.5) },
    Gate("split_leakage") { (s, dir) =>
      // reads the memoized pair table (same 64/16/0.5 parameters) —
      // previously re-ran the whole signature/banding chain in-gate
      Dedup.splitLeakage(s.read.parquet(s"$dir/documents.parquet"),
        Pipeline.minhashPairs(s, dir))
    } {
      // near-dup pairs straddling the hash-split boundary: the dedup_minhash
      // pair chain joined twice against the split_assign CASE predicate
      s"""WITH ${minhashPairsCte(64, 16, 0.5)},
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
         |         WHEN ${h60Sql("'graft:' || CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT least(sa.split, sb.split) AS split_1,
         |       greatest(sa.split, sb.split) AS split_2,
         |       CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(CASE WHEN least(sa.split, sb.split) <> greatest(sa.split, sb.split)
         |            THEN 1 ELSE 0 END AS BIGINT) AS is_leak
         |FROM dup JOIN sp sa ON dup.id_a = sa.doc_id JOIN sp sb ON dup.id_b = sb.doc_id
         |GROUP BY 1, 2""".stripMargin
    },
    Gate("dedup_prune") { (s, dir) =>
      Dedup.pruneDuplicates(
        s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("lang"), col("source")),
        Pipeline.minhashPairs(s, dir))
    } {
      s"""WITH RECURSIVE ${minhashPairsCte(64, 16, 0.5)},
         |${componentCtes("dup", "id_a", "id_b")},
         |$droppedCte
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM dropped)""".stripMargin
    },
    Gate("dedup_prune_quality") { (s, dir) =>
      Dedup.pruneDuplicatesByScore(
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        Pipeline.minhashPairs(s, dir), scoreCol = "n_chars")
    } {
      // quality-aware pruning: same recursive closure, winner per cluster
      // by (n_chars, smallest id) via the {'s', 'ni'} struct-max
      s"""WITH RECURSIVE ${minhashPairsCte(64, 16, 0.5)},
         |${componentCtes("dup", "id_a", "id_b")},
         |${labelCte("lab")},
         |qsc AS (
         |  SELECT lab.node, lab.cluster_id, d.n_chars
         |  FROM lab JOIN documents d ON d.doc_id = lab.node),
         |qwin AS (
         |  SELECT cluster_id, (max({'s': n_chars, 'ni': -node})).ni AS negid
         |  FROM qsc GROUP BY cluster_id),
         |dropped AS (
         |  SELECT s.node FROM qsc s JOIN qwin w ON s.cluster_id = w.cluster_id
         |  WHERE s.node <> -w.negid)
         |SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT node FROM dropped)""".stripMargin
    },
    Gate("dedup_rate") { (s, dir) =>
      Dedup.dedupRateByGroup(
        s.read.parquet(s"$dir/documents.parquet"), Pipeline.minhashPairs(s, dir))
    } {
      s"""WITH RECURSIVE ${minhashPairsCte(64, 16, 0.5)},
         |${componentCtes("dup", "id_a", "id_b")},
         |$droppedCte
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id IN (SELECT node FROM dropped) THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN doc_id IN (SELECT node FROM dropped) THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS drop_rate
         |FROM documents GROUP BY source""".stripMargin
    },
    Gate("dedup_spans") { (s, dir) =>
      Dedup.dedupSpans(s.read.parquet(s"$dir/documents.parquet"), n = 10)
    } {
      // exact duplicated-span removal: first occurrence of each 10-gram
      // (by (doc_id, pos)) survives; other occurrences mark their word
      // positions removed; survivors re-join in position order. The same
      // space-split tokenization as word_ngrams (trailing empties kept).
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |soc AS MATERIALIZED (
         |  SELECT doc_id, CAST(p AS BIGINT) AS p,
         |         ${h60Sql("array_to_string(ws[p+1:p+10], ' ')")} AS h
         |  FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - 9, 0))) AS p FROM w)),
         |rnk AS (SELECT doc_id, p,
         |          row_number() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn FROM soc),
         |rem AS MATERIALIZED (
         |  SELECT DISTINCT doc_id, pos FROM (
         |    SELECT doc_id, CAST(unnest(range(p, p + 10)) AS BIGINT) AS pos
         |    FROM rnk WHERE rn > 1)),
         |wp AS (SELECT doc_id, CAST(generate_subscripts(ws, 1) - 1 AS BIGINT) AS pos,
         |              unnest(ws) AS word FROM w),
         |kept AS (
         |  SELECT wp.doc_id, array_to_string(list(wp.word ORDER BY wp.pos), ' ') AS kt
         |  FROM wp LEFT JOIN rem ON wp.doc_id = rem.doc_id AND wp.pos = rem.pos
         |  WHERE rem.pos IS NULL GROUP BY wp.doc_id),
         |rc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed FROM rem GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
         |       CAST(COALESCE(rc.n_removed, 0) AS BIGINT) AS n_removed,
         |       COALESCE(kept.kt, '') AS text_deduped
         |FROM documents d
         |LEFT JOIN rc ON d.doc_id = rc.doc_id
         |LEFT JOIN kept ON d.doc_id = kept.doc_id""".stripMargin
    },
    // paragraph-level exact dedup over synthetic two-paragraph docs:
    // each doc carries its even-partner's text as paragraph 2, so every
    // second paragraph (and every even doc's self-clone) is a duplicate
    // of a globally-earlier occurrence
    Gate("dedup_paragraphs") { (s, dir) =>
      val d = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      val partner = d.select(col("doc_id").as("_pid"), col("text").as("_pt"))
      val in = d
        .withColumn("_pid", col("doc_id") - pmod(col("doc_id"), lit(2L)))
        .join(partner, Seq("_pid"))
        .select(col("doc_id"), concat(col("text"), lit("\n\n"), col("_pt")).as("text"))
      Dedup.dedupParagraphs(in)
    } {
      s"""WITH pin AS (
         |  SELECT a.doc_id, a.text || chr(10) || chr(10) || b.text AS text
         |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id - (a.doc_id % 2)),
         |pp AS (
         |  SELECT doc_id, unnest(ps) AS p,
         |         CAST(generate_subscripts(ps, 1) - 1 AS BIGINT) AS pos
         |  FROM (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM pin) t),
         |pf AS MATERIALIZED (
         |  SELECT doc_id, pos, p, ${h60Sql("p")} AS h FROM pp WHERE length(p) > 0),
         |keep AS (
         |  SELECT doc_id, pos, p FROM (
         |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn FROM pf)
         |  WHERE rn = 1),
         |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs FROM pf GROUP BY doc_id),
         |ka AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         array_to_string(list(p ORDER BY pos), chr(10) || chr(10)) AS kt
         |  FROM keep GROUP BY doc_id)
         |SELECT n.doc_id, n.n_paragraphs,
         |       n.n_paragraphs - COALESCE(k.n_kept, 0) AS n_removed,
         |       COALESCE(k.kt, '') AS text_deduped
         |FROM nb n LEFT JOIN ka k ON n.doc_id = k.doc_id""".stripMargin
    },
    // exact >= 40-char shared-substring pairs (Lee et al. 2022
    // ExactSubstr, document granularity; raw-string gram join, df-capped)
    Gate("dedup_substring") { (s, dir) =>
      Dedup.substringPairs(s.read.parquet(s"$dir/documents.parquet"),
        minLen = 40, maxDf = 100, share = Share.materialize)
    } {
      // exact-substring pair detection: unnest every 40-char gram, dedup
      // per doc, df-cap [2, 100], raw-string gram self-join
      """WITH g AS (
        |  SELECT doc_id, unnest([substring(text, i, 40) for i in range(1, length(text) - 38)]) AS gram
        |  FROM documents WHERE length(text) >= 40),
        |d AS (SELECT DISTINCT doc_id, gram FROM g),
        |f AS (SELECT gram FROM d GROUP BY gram HAVING count(*) BETWEEN 2 AND 100),
        |k AS (SELECT d.doc_id, d.gram FROM d JOIN f USING (gram))
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |       CAST(count(*) AS BIGINT) AS n_shared_grams
        |FROM k a JOIN k b USING (gram)
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin
    },
    Gate("winnow_fingerprints") { (s, dir) =>
      TextAnalysis.winnowFingerprints(s.read.parquet(s"$dir/documents.parquet"), k = 5, w = 4)
    } {
      s"""$winnowCtes
         |SELECT doc_id,
         |  1048576 - (pk % 2097152) AS pos,
         |  pk // 2097152 AS gram_hash
         |FROM (SELECT doc_id, unnest(sel) AS pk FROM s)""".stripMargin
    },
    Gate("winnow_overlap") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.winnowOverlap(docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50),
        k = 5, w = 4, minShared = 2L)
    } {
      // Overlap vote: same winnow selection, then (pair, offset) counts
      // with the packed integer argmax (highest count, smallest offset).
      s"""$winnowCtes,
         |f AS (SELECT doc_id, 1048576 - (pk % 2097152) AS pos, pk // 2097152 AS h
         |      FROM (SELECT doc_id, unnest(sel) AS pk FROM s)),
         |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos - b.pos AS off
         |      FROM f a JOIN f b ON a.h = b.h
         |      WHERE a.doc_id < 50 AND b.doc_id >= 50),
         |oc AS (SELECT id_a, id_b, off, CAST(count(*) AS BIGINT) AS cnt
         |       FROM j GROUP BY id_a, id_b, off),
         |agg AS (SELECT id_a, id_b, CAST(sum(cnt) AS BIGINT) AS n_matches,
         |          max(cnt * 4194304 + (2097152 - (off + 1048576))) AS pk
         |        FROM oc GROUP BY id_a, id_b)
         |SELECT id_a, id_b, n_matches,
         |  2097152 - (pk % 4194304) - 1048576 AS modal_offset,
         |  pk // 4194304 AS n_at_modal
         |FROM agg WHERE n_matches >= 2""".stripMargin
    },
    Gate("overlap_runs") { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      CorpusOps.overlapRuns(docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50),
        n = 5, minRun = 2L)
    } {
      // Aligned-run decontamination: positional gram hashes, diagonal run
      // grouping (pa − row_number per (pair, diagonal)), then the packed
      // integer argmax (longest run, smallest probe start, smallest
      // diagonal) — identical arithmetic to CorpusOps.overlapRuns.
      {
        val n = 5
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id, CAST(p AS BIGINT) AS p,
           |        ${h60Sql(s"array_to_string(ws[p+1:p+$n], ' ')")} AS h
           |      FROM (SELECT doc_id, ws, unnest(range(0, greatest(len(ws) - ${n - 1}, 0))) AS p
           |            FROM t)),
           |j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa, a.p - b.p AS diag
           |      FROM g a JOIN g b ON a.h = b.h
           |      WHERE a.doc_id < 50 AND b.doc_id >= 50),
           |r AS (SELECT id_a, id_b, diag, pa,
           |        pa - row_number() OVER (PARTITION BY id_a, id_b, diag ORDER BY pa) AS rk
           |      FROM j),
           |runs AS (SELECT id_a, id_b, diag, rk, CAST(count(*) AS BIGINT) AS len,
           |           min(pa) AS a0 FROM r GROUP BY id_a, id_b, diag, rk),
           |agg AS (SELECT id_a, id_b, CAST(sum(len) AS BIGINT) AS n_matches,
           |          max(len * 4398046511104 + (2097151 - a0) * 2097152
           |              + (2097151 - (diag + 1048576))) AS pk
           |        FROM runs GROUP BY id_a, id_b)
           |SELECT id_a, id_b, n_matches,
           |  pk // 4398046511104 AS max_run,
           |  pk // 4398046511104 + ${n - 1} AS run_words,
           |  2097151 - ((pk // 2097152) % 2097152) AS a_start,
           |  (2097151 - ((pk // 2097152) % 2097152)) - (2097151 - (pk % 2097152) - 1048576) AS b_start
           |FROM agg WHERE pk // 4398046511104 >= 2""".stripMargin
      }
    }
  )
}
