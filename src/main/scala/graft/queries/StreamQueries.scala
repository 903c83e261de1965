package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.StreamingEtl

/** The streaming domain: every `q_stream_*` query is a real
  * `Trigger.AvailableNow` run of a `StreamingEtl` scenario, graded
  * against the DuckDB oracle of its batch twin over the same tables.
  * Stream == batch on the same data is Spark's unified-API guarantee;
  * these queries put it under the oracle check.
  */
object StreamQueries {

  val defs: Seq[QueryDef] = Seq(
    // The SAME tumbling aggregate executed as a REAL Structured
    // Streaming run: events file stream → watermarked window agg →
    // memory sink under Trigger.AvailableNow. The oracle is identical
    // to q_tumbling_hour's — the stream's final table must equal the
    // batch answer (Spark's unified-API guarantee, here driver-graded
    // rather than only spec-pinned).
    QueryDef("q_stream_tumbling",
      (s, d) => StreamingEtl.tumblingCountsViaStream(s, d)
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
             |  event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // The sliding aggregate executed as a REAL streaming run — same
    // discipline (and oracle) as q_stream_tumbling/q_sliding_halfhour.
    QueryDef("q_stream_sliding",
      (s, d) => StreamingEtl.slidingCountsViaStream(s, d)
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT make_timestamp(((epoch_us(ts) // 1800000000) - u.o) * 1800000000) AS window_start,
             |  event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events, unnest([0, 1]) u(o)
             |GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // Streaming windowed top-k — the "trending now" board: hourly
    // per-type counts from the REAL streaming aggregation (the
    // q_stream_tumbling run), then a k-row-per-window rank on the
    // already-window-sized result. The oracle ranks the batch
    // aggregate, so a stream that miscounts any window loses the
    // board ordering and hash-fails.
    QueryDef("q_stream_windowed_topk",
      (s, d) => StreamingEtl.windowedTopKViaStream(s, d)
        .orderBy(col("window_start"), col("rank")),
      Some("""WITH c AS (SELECT
             |    make_timestamp((epoch_us(ts) // 3600000000)
             |      * 3600000000) AS window_start,
             |    event_type, count(*)::BIGINT AS n
             |  FROM events GROUP BY 1, 2),
             |r AS (SELECT window_start, event_type, n,
             |    row_number() OVER (PARTITION BY window_start
             |      ORDER BY n DESC, event_type) AS rank
             |  FROM c)
             |SELECT window_start, rank, event_type, n FROM r
             |WHERE rank <= 3
             |ORDER BY window_start, rank""".stripMargin)),

    // UPDATE output mode as a change log: per micro-batch, only the
    // CHANGED windows are emitted and appended with their batchId;
    // the downstream table is latest-emission-per-key and must equal
    // the batch aggregate — same oracle as q_stream_tumbling, so a
    // lost or misordered update hash-fails here.
    QueryDef("q_stream_update_mode",
      (s, d) => StreamingEtl.updateModeViaStream(s, d)
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
             |  event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // Checkpoint recovery: the tumbling stream CRASHES on micro-batch 2
    // (simulated failure) and restarts from its checkpoint; the final
    // aggregate must equal the batch twin — same oracle as
    // q_stream_tumbling, so a recovery that loses or double-counts
    // state hash-fails here.
    QueryDef("q_stream_recover",
      (s, d) => StreamingEtl.recoverTumblingViaStream(s, d)
        .orderBy(col("window_start"), col("event_type")),
      Some("""SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
             |  event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // Late-data watermark discipline: the first two days of events
    // arrive a month behind the watermark and MUST be dropped; the
    // oracle aggregates only the on-time tranche, so a stream that
    // silently kept (or re-windowed) late rows hash-fails. Append
    // mode + a far-future flush sentinel make every real window emit.
    QueryDef("q_stream_late_data",
      (s, d) => StreamingEtl.lateDataViaStream(s, d)
        .orderBy(col("window_start"), col("event_type")),
      Some("""WITH c AS (SELECT min(ts)::DATE + 2 AS cutoff FROM events)
             |SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS window_start,
             |  event_type, count(*) AS n,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events, c WHERE ts >= c.cutoff
             |GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // The streaming face of q_incremental_agg: foreachBatch merges each
    // micro-batch's partial daily aggregates into an immutable-versioned
    // parquet state (3 staged files, one merge round each, via
    // maxFilesPerTrigger=1).
    // The oracle is the FULL batch aggregate — equality proves the
    // merge is associative across arbitrary batch boundaries.
    QueryDef("q_stream_incremental",
      (s, d) => StreamingEtl.incrementalAggViaStream(s, d),
      Some("""WITH dstate AS (
             |  SELECT ts::DATE AS day, event_type, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS sv
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type, sum(n)::BIGINT AS n_total,
             |  sum(sv)::DOUBLE AS sum_value, count(*)::BIGINT AS n_days,
             |  max(n)::BIGINT AS max_day_n
             |FROM dstate GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // OHLC bars as a REAL streaming run: order-dependent open/close
    // picks encoded as monotone struct extremes stream correctly
    // because the state merge is associative — same oracle as the
    // batch q_ohlc_bars, so a stream that mis-merges open or close
    // across micro-batches hash-fails.
    QueryDef("q_stream_ohlc",
      (s, d) => StreamingEtl.ohlcViaStream(s, d)
        .orderBy(col("n_ticks").desc, col("event_type"), col("bar"))
        .limit(200),
      Some("""WITH e AS (SELECT event_type, date_trunc('hour', ts) AS bar,
             |    epoch_us(ts) AS tus, event_id,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events),
             |r AS (SELECT event_type, bar, vm,
             |    row_number() OVER (PARTITION BY event_type, bar
             |      ORDER BY tus, event_id) AS rn_a,
             |    row_number() OVER (PARTITION BY event_type, bar
             |      ORDER BY tus DESC, event_id DESC) AS rn_z
             |  FROM e),
             |b AS (SELECT event_type, bar, count(*)::BIGINT AS n_ticks,
             |    max(CASE WHEN rn_a = 1 THEN vm END)::BIGINT AS open_milli,
             |    max(vm)::BIGINT AS high_milli, min(vm)::BIGINT AS low_milli,
             |    max(CASE WHEN rn_z = 1 THEN vm END)::BIGINT AS close_milli
             |  FROM r GROUP BY 1, 2)
             |SELECT event_type, bar::VARCHAR AS bar, n_ticks, open_milli,
             |  high_milli, low_milli, close_milli
             |FROM b ORDER BY n_ticks DESC, event_type, bar LIMIT 200""".stripMargin)),

    // Stream-static enrichment join: each micro-batch broadcasts the
    // offline per-user cohort dim — the remaining streaming join shape
    // (stream-stream is q_stream_join). Oracle is the batch spelling
    // of the same cohort join, so a dim that failed to reach any
    // micro-batch hash-fails.
    QueryDef("q_stream_enrich",
      (s, d) => StreamingEtl.enrichedCohortViaStream(s, d)
        .orderBy(col("cohort_day"), col("event_type")),
      Some("""WITH dim AS (SELECT user_id, min(ts::DATE) AS first_day
             |  FROM events GROUP BY 1)
             |SELECT (dim.first_day)::VARCHAR AS cohort_day, e.event_type,
             |  count(*) AS n,
             |  sum(CAST(e.value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events e JOIN dim USING (user_id)
             |GROUP BY 1, 2 ORDER BY cohort_day, event_type""".stripMargin)),

    // Stream-stream interval join executed as a REAL run (watermarks on
    // both sides + event-time range predicate -> bounded state). The
    // oracle is the equivalent BATCH interval join — unified-API parity.
    QueryDef("q_stream_join",
      (s, d) => StreamingEtl.intervalJoinViaStream(s, d)
        .orderBy(col("click_id"), col("purchase_id")),
      Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id,
             |  c.user_id, (epoch_us(p.ts) - epoch_us(c.ts))::BIGINT AS delta_us
             |FROM events c JOIN events p ON c.user_id = p.user_id
             | AND c.event_type = 'click' AND p.event_type = 'purchase'
             | AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND 600000000
             |ORDER BY click_id, purchase_id""".stripMargin)),

    // LEFT OUTER stream-stream interval join — the unmatched clicks
    // can only be emitted null-padded AFTER the purchase watermark
    // passes click_ts + 10 min; a far-future sentinel micro-batch
    // advances both watermarks so every real click flushes before the
    // AvailableNow run ends. Oracle is the batch LEFT JOIN including
    // the null rows, so a stream that drops (or double-emits) the
    // unmatched tail hash-fails.
    QueryDef("q_stream_join_outer",
      (s, d) => StreamingEtl.leftOuterJoinViaStream(s, d)
        .orderBy(col("click_id"), col("purchase_id")),
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT event_id AS purchase_id, user_id, ts AS pts
             |  FROM events WHERE event_type = 'purchase')
             |SELECT c.click_id, c.user_id, p.purchase_id,
             |  (epoch_us(pts) - epoch_us(cts))::BIGINT AS delta_us
             |FROM c LEFT JOIN p ON p.user_id = c.user_id
             |  AND epoch_us(pts) - epoch_us(cts) BETWEEN 0 AND 600000000
             |ORDER BY click_id, purchase_id NULLS FIRST""".stripMargin)),

    // FULL OUTER stream-stream interval join — both unmatched sides
    // null-padded once their state expires (clicks that never
    // converted AND purchases no click preceded), flushed by the same
    // sentinel micro-batch discipline as the left-outer run. Oracle is
    // the batch FULL JOIN, so a stream that loses either unmatched
    // side hash-fails.
    QueryDef("q_stream_join_full",
      (s, d) => StreamingEtl.fullOuterJoinViaStream(s, d)
        .orderBy(col("click_id"), col("purchase_id")),
      Some("""WITH c AS (SELECT event_id AS click_id, user_id, ts AS cts
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT event_id AS purchase_id, user_id AS p_user_id,
             |    ts AS pts
             |  FROM events WHERE event_type = 'purchase')
             |SELECT c.click_id,
             |  coalesce(c.user_id, p.p_user_id) AS user_id, p.purchase_id,
             |  (epoch_us(pts) - epoch_us(cts))::BIGINT AS delta_us
             |FROM c FULL JOIN p ON p.p_user_id = c.user_id
             |  AND epoch_us(pts) - epoch_us(cts) BETWEEN 0 AND 600000000
             |ORDER BY click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin)),

    // Stream-stream KEYED AS-OF enrichment (the trade/quote shape —
    // the streaming twin of AsofJoin.keyedPad / q_asof_keyed): each
    // purchase picks up the same user's latest view at-or-before it,
    // within a 1 h lookback, null-padded otherwise. Runs as a real
    // flatMapGroupsWithState AvailableNow stream with event-time state
    // eviction; the oracle is the batch as-of spelling (left join +
    // latest-prior rank), so stream == batch is driver-graded exactly
    // like q_stream_join. Tie rules match the batch kernel: a view AT
    // the purchase's instant is visible; equal-ts views resolve to the
    // greatest event_id.
    QueryDef("q_stream_asof",
      (s, d) => StreamingEtl.asofEnrichViaStream(s, d)
        .toDF().orderBy(col("purchase_id")),
      Some("""WITH v AS (SELECT event_id, user_id, ts,
             |    floor(value * 1000)::BIGINT AS vm
             |  FROM events WHERE event_type = 'view'),
             |p AS (SELECT event_id, user_id, ts FROM events
             |  WHERE event_type = 'purchase'),
             |m AS (SELECT p.event_id AS purchase_id, p.user_id,
             |    v.event_id AS quote_id,
             |    (epoch_us(p.ts) - epoch_us(v.ts))::BIGINT AS quote_age_us,
             |    v.vm AS quote_vmilli,
             |    row_number() OVER (PARTITION BY p.event_id
             |      ORDER BY v.ts DESC, v.event_id DESC) AS rn
             |  FROM p LEFT JOIN v ON v.user_id = p.user_id
             |    AND v.ts <= p.ts
             |    AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000)
             |SELECT purchase_id, user_id, quote_id, quote_age_us,
             |  quote_vmilli
             |FROM m WHERE rn = 1 ORDER BY purchase_id""".stripMargin)),

    // Streaming dedup executed as a REAL run: the events table is
    // staged twice so every event arrives duplicated, and the
    // watermarked dropDuplicatesWithinWatermark stream must collapse
    // the stream back to one copy each — the oracle aggregates the
    // SINGLE-copy table, so a broken dedup reads 2x and hash-fails.
    QueryDef("q_stream_dedup",
      (s, d) => StreamingEtl.dedupViaStream(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("event_id") % 1000000007L).as("id_sum"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, count(*) AS n,
             |  sum(event_id % 1000000007)::BIGINT AS id_sum,
             |  sum(CAST(value AS DECIMAL(18,2)))::DOUBLE AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // The SESSIONIZER executed as a REAL streaming run — custom
    // flatMapGroupsWithState state, Append mode, event-time timeout,
    // end-of-stream sentinel flush (StreamingEtl.sessionizeViaStream).
    // Oracle identical to q_sessionize's: the stream's emitted sessions
    // must equal the batch window-function answer row-for-row.
    QueryDef("q_stream_sessionize",
      (s, d) => StreamingEtl.sessionizeViaStream(s, d)
        .toDF().orderBy(col("user_id"), col("session_id")),
      Some("""WITH g AS (
             |  SELECT user_id, event_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1
             |         ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
             |  FROM g)
             |SELECT user_id, session_id, count(*) AS n_events,
             |  min(ts) AS session_start, max(ts) AS session_end
             |FROM s GROUP BY user_id, session_id
             |ORDER BY user_id, session_id""".stripMargin)),

    // Sessionization via the engine's NATIVE session_window operator —
    // the built-in twin of q_stream_sessionize's custom-state version.
    // Native semantics differ at the boundary: a session's window is
    // [first_ts, last_ts + gap) and events merge iff STRICTLY closer
    // than the gap, which the oracle encodes (diff < 30 min merges,
    // exactly 30 min splits — the fMGWS rule keeps that pair).
    QueryDef("q_stream_session_window",
      (s, d) => StreamingEtl.sessionWindowViaStream(s, d)
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH g AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
             |             >= 1800000000 THEN 1
             |         ELSE 0 END AS new_session
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             |s AS (
             |  SELECT user_id, ts,
             |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      ::BIGINT AS sid
             |  FROM g)
             |SELECT user_id, min(ts) AS session_start,
             |  max(ts) + INTERVAL 30 MINUTE AS session_end,
             |  count(*)::BIGINT AS n_events
             |FROM s GROUP BY user_id, sid
             |ORDER BY user_id, session_start""".stripMargin)),

    // Streaming SCD2 (Kimball type-2 dimension) — the continuously-
    // maintained version history a warehouse derives from a CDC
    // stream, here as a REAL `AvailableNow` run: per-user
    // `flatMapGroupsWithState` opens a version row on every
    // event_type change, closes it on the next change, and emits the
    // still-open `is_current=1` rows via event-time-timeout eviction
    // fired by a far-future sentinel micro-batch (Append mode would
    // otherwise hold them forever). State is ONE row per active user.
    // Graded against the identical batch SCD2 oracle (q_scd2_dim's
    // lag-based change detection) — stream == batch on the same data.
    QueryDef("q_stream_scd2",
      (s, d) => StreamingEtl.scd2ViaStream(s, d)
        .toDF().orderBy(col("user_id"), col("version")),
      Some("""WITH l AS (SELECT user_id, event_id, ts, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev
             |  FROM events WHERE user_id < 100),
             |c AS (SELECT user_id, event_id, ts, event_type FROM l
             |  WHERE prev IS NULL OR event_type <> prev)
             |SELECT user_id,
             |  row_number() OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS version,
             |  event_type, ts AS valid_from,
             |  lead(ts) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) AS valid_to,
             |  CASE WHEN lead(ts) OVER (PARTITION BY user_id
             |    ORDER BY ts, event_id) IS NULL THEN 1 ELSE 0 END
             |    AS is_current
             |FROM c ORDER BY user_id, version""".stripMargin)),

    // The STREAMING twin of corpus_heavy_hitters_approx, upgraded to
    // the deterministic TWO-PASS shape (r12): the Misra-Gries sketch
    // maintained across 3 real micro-batches generates the candidate
    // set (whose contents are batch-split-dependent — the raw-sketch
    // law stays pinned in StreamingEtlSpec), then one exact count pass
    // over the ≤64 broadcast candidates emits exactly the terms above
    // N/65 with exact counts — batch-split-invariant, so the oracle is
    // plain exact-heavy-hitter SQL and the gate hash-grades the stream.
    QueryDef("q_stream_heavy_hitters",
      (s, d) => StreamingEtl.heavyHittersStreamVerified(s, d),
      Some("""WITH t AS (SELECT unnest(string_split(lower(text), ' '))
             |    AS term FROM documents),
             |n AS (SELECT count(*)::BIGINT AS c FROM t)
             |SELECT term, count(*)::BIGINT AS cnt FROM t, n
             |GROUP BY term, n.c HAVING count(*) * 65 > n.c
             |ORDER BY cnt DESC, term""".stripMargin)),

    // STREAMING KMV distinct-user cardinality — mergeable sketches
    // under streaming state: each micro-batch (AvailableNow over the
    // staged event files) contributes its 64 smallest distinct user
    // hashes; the driver union trims back to 64. KMV union is a SET
    // union — order-independent — so unlike the Misra-Gries stream
    // sketch this one's final state is batch-split-invariant and the
    // whole row (sketch, estimate, error) HASH-MATCHES the batch
    // oracle, not just a rows-only check. Exact count audits the
    // estimate like the rolling twin.
    QueryDef("q_stream_distinct_kmv",
      (s, d) => StreamingEtl.kmvDistinctViaStream(s, d),
      Some("""WITH h AS (SELECT DISTINCT
             |    ((('0x'||substring(md5('kmv:'||user_id),1,15))::BIGINT
             |      % 1099511627776 + 1099511627776) % 1099511627776) AS h
             |  FROM events),
             |rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM h),
             |sk AS (SELECT count(*)::BIGINT AS sketch_n,
             |    max(CASE WHEN rk = 64 THEN h END) AS h64
             |  FROM rk WHERE rk <= 64),
             |ex AS (SELECT count(DISTINCT user_id)::BIGINT AS n_exact
             |  FROM events)
             |SELECT sketch_n,
             |  (CASE WHEN h64 IS NULL THEN sketch_n
             |    ELSE 63 * 1099511627776 // h64 END)::BIGINT AS est_users,
             |  n_exact,
             |  ((CASE WHEN h64 IS NULL THEN sketch_n
             |    ELSE 63 * 1099511627776 // h64 END - n_exact) * 1000000
             |    // n_exact)::BIGINT AS err_ppm
             |FROM sk, ex""".stripMargin)),
  )
}
