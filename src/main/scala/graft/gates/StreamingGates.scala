package graft.gates

import graft.Pipeline
import graft.sources.EventsAdapter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared.{minhashPairsCte, minhashOracle, staypointSegmentsCte, withMaterializedCtes}

/** Streaming twins, replayed for the batch gate: each replay must
  * reproduce the batch semantics exactly, so its oracle is the batch oracle.
  */
private[graft] object StreamingGates {

  /** The sessionize replay over a user slice (user_id % 8 = 0). */
  private def sessionizeSlice(s: SparkSession, dir: String, chunks: Int): DataFrame =
    graft.streaming.Replay.sessionize(
      EventsAdapter.events(s, dir).filter(pmod(col("user_id"), lit(8)) === 0),
      gapMinutes = 30.0, chunks = chunks)

  /** Batch sessionize over the same slice: the replay must reproduce the
    * batch semantics exactly, at any chunk count, so this is the oracle of
    * both sessionize gates.
    */
  private val sessionizeOracle =
    """WITH t AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS t_us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
      |  FROM events WHERE user_id % 8 = 0)
      |SELECT event_id, user_id,
      |  CAST(sum(CASE WHEN pt IS NULL OR t_us - pt > 1800000000 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
      |FROM t""".stripMargin

  val gates: Seq[Gate] = Seq(
    // deterministic micro-batch replay (graft.streaming.Replay) — the
    // driver-visible certification of the keyed-state operators; oracles
    // are the batch-equivalent SQL the parity specs assert against
    // the slice treatment (r10 verdict #2, same rationale as
    // streaming_colocation): each replay gate certifies keyed-state
    // TRANSITIONS, which a deterministic residue-class slice exercises
    // identically at a fraction of the micro-batch/state-store wall
    // clock. Oracles are filtered identically; ReplaySpec separately
    // pins chunking invariance and full-table batch parity.
    Gate("streaming_sessionize") { (s, dir) =>
      // per-user keyed state → a user slice keeps whole state machines.
      // one data batch (was 3): the in-order feed's output is
      // chunk-count-invariant (ReplaySpec pins it; oracle re-checked) and
      // each extra micro-batch is a full planning+commit round — the
      // replay gates' cost unit (r15 verdict item 4). Cross-batch state
      // transitions stay exercised by streaming_sessionize_c3, by
      // ReplaySpec's multi-chunk runs and by the out-of-order twins,
      // whose chunk counts are oracle-coupled and untouched.
      sessionizeSlice(s, dir, chunks = 1)
    }(sessionizeOracle),
    Gate("streaming_sessionize_c3") { (s, dir) =>
      // the cross-batch canary: the same slice and oracle, fed in three
      // micro-batches, so session state carries across batch boundaries
      // on the corpus, not only in ReplaySpec's small frames
      sessionizeSlice(s, dir, chunks = 3)
    }(sessionizeOracle),
    Gate("streaming_dedup") { (s, dir) =>
      // keyed by text_hash → slice on the HASH residue so duplicate
      // groups survive intact (a doc_id slice would scatter them); mod 2
      // keeps 5 of the corpus's 8 sf0.1 dup rows in-gate, and the wall
      // clock is governed by the chunk count, not the row count
      // one data batch (was 3) — see streaming_sessionize
      graft.streaming.Replay.dedup(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(pmod(graft.functions.PortableHash.h60(col("text")), lit(2)) === 0),
        chunks = 1)
    } {
      s"""WITH h0 AS (
         |  SELECT doc_id, ${graft.functions.PortableHash.h60Sql("text")} AS text_hash
         |  FROM documents),
         |h AS (SELECT * FROM h0 WHERE text_hash % 2 = 0)
         |SELECT doc_id, text_hash,
         |       doc_id = min(doc_id) OVER (PARTITION BY text_hash) AS is_first,
         |       min(doc_id) OVER (PARTITION BY text_hash) AS first_doc_id
         |FROM h""".stripMargin
    },
    Gate("streaming_quota") { (s, dir) =>
      // keyed by (event_type, window) → a user slice thins each window's
      // arrival stream uniformly; admission order stays (t, id)
      // one data batch (was 3) — see streaming_sessionize
      graft.streaming.Replay.quota(
        EventsAdapter.events(s, dir).filter(pmod(col("user_id"), lit(4)) === 0),
        quotaN = 5L, windowMinutes = 60L, groupCol = "event_type",
        idCol = "event_id", timeCol = "t_us", chunks = 1)
    } {
      // quota replay on event-time-ordered input ≡ per-(group, window)
      // first-k under the (t, id) order
      """WITH q AS (
        |  SELECT event_type AS grp, event_id AS doc_id, epoch_us(ts) AS t,
        |         epoch_us(ts) - epoch_us(ts) % 3600000000 AS ws
        |  FROM events WHERE user_id % 4 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY grp, ws ORDER BY t, doc_id) AS rn
        |      FROM q)
        |SELECT grp, doc_id, CAST(ws AS BIGINT) AS window_start_us,
        |       CAST(rn AS BIGINT) AS seq_in_window, TRUE AS admitted
        |FROM r WHERE rn <= 5""".stripMargin
    },
    Gate("streaming_heavy_hitters") { (s, dir) =>
      // the ENGINE-managed state path: watermark + windowed agg in
      // append mode (finalize-once-on-watermark), the one streaming
      // contract the custom-state gates don't cover; top-5 rank is the
      // batch epilogue over the finalized counts
      // one data batch: the in-order feed's finalized counts are
      // chunk-count-invariant (no row is ever late relative to an
      // earlier in-order batch), so extra micro-batch commits bought
      // nothing — the out-of-order twin is where batching matters
      graft.streaming.Replay.heavyHitters(
        EventsAdapter.events(s, dir).filter(pmod(col("user_id"), lit(4)) === 1),
        k = 5, windowMinutes = 60L, delayMinutes = 30L, chunks = 1)
    } {
      // native watermark+window aggregation replay: the in-order feed keeps
      // every row inside the lateness delay, so the finalized counts equal
      // the batch groupBy exactly; rank = (n DESC, key) row_number
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS t_us
        |  FROM events WHERE user_id % 4 = 1),
        |wc AS (
        |  SELECT (t_us // 3600000000) * 3600000000 AS window_start_us,
        |         event_type AS key, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1, 2),
        |rk AS (
        |  SELECT window_start_us, key, n,
        |         CAST(row_number() OVER (PARTITION BY window_start_us ORDER BY n DESC, key) AS BIGINT) AS rank
        |  FROM wc)
        |SELECT CAST(window_start_us AS BIGINT) AS window_start_us, key, n, rank
        |FROM rk WHERE rank <= 5""".stripMargin
    },
    // the out-of-order twin: batch p = ids ≡ p mod 3, so later batches
    // deliver genuinely late rows; the drop rule's closed form (prev-max
    // event time >= window end + delay) is the oracle's contract. 3
    // chunks (was 4): each state-store commit is ~0.7 s of the gate and
    // two late batches already exercise every drop transition
    Gate("streaming_heavy_hitters_late") { (s, dir) =>
      graft.streaming.Replay.heavyHittersOutOfOrder(
        EventsAdapter.events(s, dir).filter(pmod(col("user_id"), lit(4)) === 1),
        k = 5, windowMinutes = 60L, delayMinutes = 30L, chunks = 3)
    } {
      // out-of-order feed: a row in batch p (= id mod 3) is DROPPED iff
      // the max event time over earlier batches >= its window end + the
      // 30-min delay (exact under either watermark clock resolution —
      // window ends and delay are ms-aligned); dropped rows still advance
      // the watermark, so the running max is over ALL rows
      """WITH ev AS (
        |  SELECT event_type AS key, event_id, epoch_us(ts) AS t
        |  FROM events WHERE user_id % 4 = 1),
        |b AS (SELECT key, event_id, t, event_id % 3 AS p FROM ev),
        |bmax AS (SELECT p, max(t) AS mt FROM b GROUP BY p),
        |wmrun AS (
        |  SELECT p, max(mt) OVER (ORDER BY p
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |  FROM bmax),
        |kept AS (
        |  SELECT b.key, (b.t // 3600000000) * 3600000000 AS ws
        |  FROM b JOIN wmrun USING (p)
        |  WHERE wmrun.prevmax IS NULL
        |     OR wmrun.prevmax < (b.t // 3600000000) * 3600000000 + 3600000000 + 1800000000),
        |wc AS (SELECT ws AS window_start_us, key, CAST(count(*) AS BIGINT) AS n
        |       FROM kept GROUP BY 1, 2),
        |rk AS (
        |  SELECT window_start_us, key, n,
        |         CAST(row_number() OVER (PARTITION BY window_start_us ORDER BY n DESC, key) AS BIGINT) AS rank
        |  FROM wc)
        |SELECT CAST(window_start_us AS BIGINT) AS window_start_us, key, n, rank
        |FROM rk WHERE rank <= 5""".stripMargin
    },
    Gate("streaming_neardup") { (s, dir) =>
      // keyed by (band, hash) bucket — full table (the corpus is the
      // slice at gate scale); cap disabled and expiry off, so the
      // emitted set equals the batch banding collisions closed-form
      // one data batch (was 3) — see streaming_sessionize
      graft.streaming.Replay.nearDup(s.read.parquet(s"$dir/documents.parquet"),
        numHashes = 64, bands = 16, shingleN = 3, chunks = 1)
    } {
      // streaming banded-MinHash candidates ≡ the batch banding CTE's
      // collisions, one row per colliding band (no distinct — the stream
      // emits per band bucket)
      s"""WITH ${minhashPairsCte(64, 16, 0.0)}
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(a.bb AS INT) AS band
         |FROM banded a JOIN banded b
         |  ON a.bb = b.bb AND a.h = b.h AND a.doc_id < b.doc_id""".stripMargin
    },
    Gate("streaming_neardup_verified") { (s, dir) =>
      // candidates + the foreachBatch jaccard-verify stage: the
      // streaming path ends at verified pairs, and with expiry/cap off
      // the result equals the batch minHashLsh output on the corpus
      // one data batch (was 3) — see streaming_sessionize
      graft.streaming.Replay.nearDupVerified(s.read.parquet(s"$dir/documents.parquet"),
          numHashes = 64, bands = 16, shingleN = 3, verifyThreshold = 0.5, chunks = 1)
        .withColumn("jaccard", round(col("jaccard"), 6))
    } {
      // the verified streaming set is the batch minHashLsh pair table —
      // byte-identical oracle to dedup_minhash at the same parameters
      minhashOracle(numHashes = 64, bands = 16, threshold = 0.5)
    },
    Gate("streaming_dedup_late") { (s, dir) =>
      graft.streaming.Replay.dedupOutOfOrder(s.read.parquet(s"$dir/documents.parquet"),
        chunks = 4)
    } {
      // out-of-order replay (batch p = ids ≡ p mod 4): the keeper is the
      // smallest id in the EARLIEST batch carrying the hash — min by
      // (doc_id mod 4, doc_id), not the batch twin's global min(doc_id)
      s"""WITH h AS (
         |  SELECT doc_id, ${graft.functions.PortableHash.h60Sql("text")} AS text_hash,
         |         doc_id % 4 AS b
         |  FROM documents),
         |f AS (SELECT text_hash,
         |        (min({'b': b, 'id': doc_id})).id AS fid
         |      FROM h GROUP BY text_hash)
         |SELECT h.doc_id, h.text_hash, h.doc_id = f.fid AS is_first,
         |       f.fid AS first_doc_id
         |FROM h JOIN f ON h.text_hash = f.text_hash""".stripMargin
    },
    Gate("streaming_quota_late") { (s, dir) =>
      // deterministic OUT-OF-ORDER feed (batch p = ids ≡ p mod 4): the
      // late-row admission semantics, driver-visible via the closed-form
      // effective-window oracle (Replay.quotaOutOfOrder doc)
      graft.streaming.Replay.quotaOutOfOrder(EventsAdapter.events(s, dir), quotaN = 5L,
        windowMinutes = 60L, groupCol = "event_type", idCol = "event_id", timeCol = "t_us",
        chunks = 4)
    } {
      // out-of-order replay (batch p = ids ≡ p mod 4): the closed form of
      // the keyed-state late-row rule — a late row counts against the
      // newest window its group has opened, so its effective window is
      // max(own window, any window an earlier batch opened) and admission
      // is arrival-order row_number within (group, effective window)
      """WITH q AS (
        |  SELECT event_type AS grp, event_id AS doc_id, epoch_us(ts) AS t,
        |         epoch_us(ts) - epoch_us(ts) % 3600000000 AS ws,
        |         event_id % 4 AS b
        |  FROM events),
        |bm AS (SELECT grp, b, max(ws) AS bmax FROM q GROUP BY 1, 2),
        |rm AS (SELECT grp, b,
        |         max(bmax) OVER (PARTITION BY grp ORDER BY b
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |       FROM bm),
        |e AS (SELECT q.grp, q.doc_id, q.t, q.b,
        |        greatest(q.ws, coalesce(rm.prevmax, q.ws)) AS ew
        |      FROM q JOIN rm ON q.grp = rm.grp AND q.b = rm.b),
        |r AS (SELECT *, row_number() OVER (PARTITION BY grp, ew
        |        ORDER BY b, t, doc_id) AS rn FROM e)
        |SELECT grp, doc_id, CAST(ew AS BIGINT) AS window_start_us,
        |       CAST(rn AS BIGINT) AS seq_in_window, TRUE AS admitted
        |FROM r WHERE rn <= 5""".stripMargin
    },
    Gate("streaming_interval_join") { (s, dir) =>
      // the two-input watermarked stream-stream join (colocation covers
      // the self-join shape): events enriched with the same-user label
      // intervals containing them, replayed over lockstep time-bounded
      // chunks — oracle is the plain containment join with the 600-min
      // state-bound conjunct (ts >= finished_at - maxDuration) spelled
      // out, so a fixture change producing a longer interval cannot
      // silently diverge engine and oracle. The k%2 sub-slice halves
      // BOTH feeds per user, quartering the per-user state-scan volume
      // (the symmetric join probes every stored same-user row) — the
      // state transitions certified are identical (r14 verdict #6:
      // same volume-trim recipe as streaming_colocation)
      val iv = EventsAdapter.intervals(s, dir)
        .filter(pmod(col("user_id"), lit(8)) === 1 && pmod(col("k"), lit(2)) === 0)
      val ev = iv.select(col("id").as("event_id"), col("user_id"), col("s_us").as("t_us"))
      val lab = iv.select(col("id").as("label_id"), col("user_id"), col("s_us"), col("f_us"),
        pmod(col("k"), lit(4)).as("label"))
      // one lockstep round (was 2) — see streaming_sessionize; the inner
      // stream-stream join emits on match, so its output is
      // chunk-count-invariant on the lockstep in-order feeds
      graft.streaming.Replay.intervalJoin(ev, lab, maxDurationMinutes = 600, chunks = 1)
    } {
      // two-input stream-stream join replay ≡ the plain same-user
      // containment join (one row per (event, containing interval)). The
      // final conjunct is the engine's 600-min state bound
      // (t_us >= finished_at - maxDuration) spelled out rather than relied
      // on implicitly: it is semantically free while every synthetic
      // interval is shorter than 600 min, and if a fixture change ever
      // produced a longer interval the oracle now agrees with the
      // documented contract instead of silently diverging (r14 advice)
      s"""${EventsAdapter.pfsSql},
         | base AS MATERIALIZED (
         |   SELECT id, user_id, s_us, f_us, k % 4 AS label
         |   FROM intervals WHERE user_id % 8 = 1 AND k % 2 = 0)
         |SELECT e.id AS event_id, e.user_id, e.s_us AS t_us,
         |       l.id AS label_id, l.label
         |FROM base e JOIN base l
         |  ON e.user_id = l.user_id
         | AND e.s_us >= l.s_us AND e.s_us < l.f_us
         | AND e.s_us >= l.f_us - 36000000000""".stripMargin
    },
    Gate("streaming_asof_join") { (s, dir) =>
      // the point-in-time enrichment twin of the batch asof_join gate:
      // same even/odd event split, labels NOT pre-aggregated (the
      // keyed-state operator's max-(t,id) update rule handles ties),
      // replayed over 4 global-time-ordered chunks; oracle is DuckDB's
      // native ASOF LEFT JOIN over the tie-collapsed label table
      val ev = EventsAdapter.events(s, dir).select(col("event_id"), col("user_id"), col("t_us"))
      // one data batch (was 4) — see streaming_sessionize; the tagged
      // feed's global (t, labels-first, id) sort is an in-batch property
      // too, so the enrichment set is chunk-count-invariant
      graft.streaming.Replay.asOf(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1).select(col("event_id").as("label_id"),
          col("user_id"), col("t_us")),
        chunks = 1)
    } {
      // keyed-state point-in-time replay ≡ the native ASOF LEFT JOIN over
      // the tie-collapsed label table (max id per (user, t) — the
      // operator's max-(t,id) state update rule in closed form)
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us FROM events),
        |l AS (SELECT * FROM ev WHERE event_id % 2 = 0),
        |r AS (SELECT user_id, t_us, max(event_id) AS label_id
        |      FROM ev WHERE event_id % 2 = 1 GROUP BY user_id, t_us)
        |SELECT l.event_id, l.user_id, l.t_us, r.label_id, r.t_us AS label_t_us
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.t_us >= r.t_us""".stripMargin
    },
    Gate("streaming_interval_join_outer") { (s, dir) =>
      // the LEFT OUTER twin: unmatched events null-extend exactly once,
      // emitted on watermark-proven eviction (the canonical outer
      // stream-stream semantics, previously untested). Events and
      // labels come from DISJOINT k-parity slices of the same users so
      // the output is a real match/null mix — an event at an even-k
      // start matches only when an odd-k interval of the same user
      // happens to contain it (the inner gate's self-slice fixture
      // would match every event to its own interval, making the outer
      // path indistinguishable from inner + no-op)
      val base = EventsAdapter.intervals(s, dir)
        .filter(pmod(col("user_id"), lit(8)) === 5)
      val ev = base.filter(pmod(col("k"), lit(2)) === 0)
        .select(col("id").as("event_id"), col("user_id"), col("s_us").as("t_us"))
      val lab = base.filter(pmod(col("k"), lit(2)) === 1)
        .select(col("id").as("label_id"), col("user_id"), col("s_us"), col("f_us"),
          pmod(col("k"), lit(4)).as("label"))
      // one lockstep round (was 2) — see streaming_interval_join; the
      // null-extension set is driven by the sentinel flush batches, which
      // are unchanged
      graft.streaming.Replay.intervalJoin(ev, lab, maxDurationMinutes = 600, chunks = 1,
        leftOuter = true)
    } {
      // the LEFT OUTER twin over disjoint k-parity slices: every
      // containment conjunct (incl. the 600-min state bound) lives in the
      // ON clause, so an event with no qualifying interval null-extends
      // exactly once — the engine emits that row on watermark eviction,
      // the oracle by plain outer-join semantics
      s"""${EventsAdapter.pfsSql},
         | ev AS MATERIALIZED (
         |   SELECT id AS event_id, user_id, s_us AS t_us
         |   FROM intervals WHERE user_id % 8 = 5 AND k % 2 = 0),
         | lab AS MATERIALIZED (
         |   SELECT id AS label_id, user_id, s_us, f_us, k % 4 AS label
         |   FROM intervals WHERE user_id % 8 = 5 AND k % 2 = 1)
         |SELECT e.event_id, e.user_id, e.t_us, l.label_id, l.label
         |FROM ev e LEFT JOIN lab l
         |  ON e.user_id = l.user_id
         | AND e.t_us >= l.s_us AND e.t_us < l.f_us
         | AND e.t_us >= l.f_us - 36000000000""".stripMargin
    },
    Gate("streaming_colocation") { (s, dir) =>
      // deterministic user slice (user_id ≡ 0 mod 8) + 2 chunks: the gate
      // certifies the symmetric-hash-join state transitions, which a ~1/64
      // pair volume exercises identically — the full-table replay costs
      // ~50× the wall clock for the same semantic evidence (r9 verdict #1).
      // 2 chunks (was 3): the INNER join's output is
      // chunk-count-invariant on an in-order feed (emits on match,
      // nothing is ever late — see Replay.colocation), so one
      // cross-batch boundary already certifies the match-against-stored-
      // state transition; eviction is measured in StreamingColocationSpec.
      // 0.001-deg cells (was 0.01): the pfs cloud spans ~0.025 deg, so
      // 0.01-deg cells put the whole slice in a handful of hot cells and
      // the symmetric join ground ~40M same-cell pairs per batch (the
      // r13 7.8 s); ~100-m cells exercise the identical state machinery
      // at ~100x less pair volume and a more physical meeting radius
      // one data batch (was 2) — see streaming_sessionize; the inner
      // symmetric-hash join emits on match, so the meeting set is
      // chunk-count-invariant on an in-order feed, and per-batch
      // planning+commit is this gate's cost unit (the cross-batch
      // match-against-stored-state transition stays pinned by
      // StreamingColocationSpec / ReplaySpec multi-chunk runs)
      graft.streaming.Replay.colocation(
        EventsAdapter.intervals(s, dir).filter(pmod(col("user_id"), lit(8)) === 0),
        cellMicroDeg = 1000L, chunks = 1)
    } {
      // stream-stream symmetric-hash self-join replay ≡ the plain same-cell
      // interval-overlap pair table (one row per co-located interval pair)
      s"""${EventsAdapter.pfsSql},
         |cl AS MATERIALIZED (
         |  SELECT user_id, s_us, f_us,
         |    CAST(floor(CAST(CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000.0) AS BIGINT) AS cx,
         |    CAST(floor(CAST(CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000.0) AS BIGINT) AS cy
         |  FROM intervals WHERE user_id % 8 = 0)
         |SELECT a.user_id AS user_a, b.user_id AS user_b,
         |       greatest(a.s_us, b.s_us) AS m_s_us, least(a.f_us, b.f_us) AS m_f_us
         |FROM cl a JOIN cl b
         |  ON a.cx = b.cx AND a.cy = b.cy
         | AND a.user_id < b.user_id
         | AND a.s_us < b.f_us AND b.s_us < a.f_us""".stripMargin
    },
    Gate("streaming_staypoints") { (s, dir) =>
      // per-user keyed state; the per-user fix index k is derived BEFORE
      // the slice, so kept users' sequences are bit-identical to the
      // full-table replay's
      graft.streaming.Replay.staypoints(
        EventsAdapter.positionfixes(s, dir).filter(pmod(col("user_id"), lit(8)) === 0),
        graft.streaming.StreamingStaypoints.Params(
          distThresholdMeters = Pipeline.staypointParams.distThresholdMeters,
          timeThresholdMinutes = Pipeline.staypointParams.timeThresholdMinutes,
          gapThresholdMinutes = Pipeline.staypointParams.gapThresholdMinutes),
        // one data batch (was 3) — see streaming_sessionize; the
        // sentinel tail batch that flushes each user's last candidate
        // is separate and unchanged
        chunks = 1)
    } {
      withMaterializedCtes(
        s"""${staypointSegmentsCte(
               distM = Pipeline.staypointParams.distThresholdMeters,
               timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong,
               pfsWhere = "WHERE user_id % 8 = 0")}
           |SELECT u AS user_id, a_t AS s_us, f_t AS f_us,
           |       CAST(mend - a + 1 AS BIGINT) AS n_pfs
           |FROM kept""".stripMargin)
    }
  )
}
