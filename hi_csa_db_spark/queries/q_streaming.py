"""Structured Streaming surface checked through batch-equivalent oracles (stream_*/cdc_*).

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hi_csa_db_spark.functions.hashing import MULT_HASH32_SQL

from hi_csa_db_spark.queries import _register
from hi_csa_db_spark.queries._shared import _SHINGLE_SQL


@_register(
    "stream_stream_join",
    """
    SELECT p.event_id AS p_id, c.event_id AS c_id, p.user_id AS p_user
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
     AND epoch_us(c.ts) < epoch_us(p.ts)
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (purchases x preceding-
    hour clicks per user) — join state bounded by watermark+interval."""
    from hi_csa_db_spark.streaming import windows

    return windows.stream_stream_interval_join(spark, sf_dir)


# ---------------------------------------------------------------------------
# Structured Streaming (rows-only checks — not expressible in batch SQL)
# ---------------------------------------------------------------------------


@_register(
    "stream_incremental_dedup",
    f"""
    WITH {_SHINGLE_SQL},
    n AS (SELECT CAST(floor(COUNT(*) * 0.8) AS BIGINT) AS split FROM documents),
    seeds AS (SELECT unnest(range(0, 16)) AS seed),
    hh AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h1,
             CAST('0x' || substring(md5(shingle), 16, 12) AS BIGINT) * 2 + 1 AS h2
      FROM sh
    ),
    mh AS (
      SELECT doc_id, seed,
             MIN((h1 + seed * h2) % 1152921504606846976) AS mh
      FROM hh CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, band,
             md5(band::VARCHAR || '|' || string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS bkey
      FROM (SELECT doc_id, seed, mh, seed // 2 AS band FROM mh)
      GROUP BY doc_id, band
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_old
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
      CROSS JOIN n
      WHERE a.doc_id >= n.split AND b.doc_id < n.split
    )
    SELECT id_new, COUNT(*) AS n_dup_candidates
    FROM cand GROUP BY id_new
    """,
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest dedup: new docs minhash-signed PER ROW
    (narrow array expression — no stateful agg), band-exploded, and
    probed against the static corpus band index via a stream-static
    equi-join; per-batch cost is |delta| x bucket-mates, never
    corpus^2. Batch-equivalence pinned in
    tests/test_streaming_multimodal.py."""
    from hi_csa_db_spark.streaming import windows

    return windows.incremental_dedup_stream(spark, sf_dir)


@_register(
    "stream_hourly_counts",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation, executed with
    Trigger.AvailableNow against the events fixture (real streaming
    planner + state store; deterministic)."""
    from hi_csa_db_spark.streaming import windows

    return windows.hourly_counts(spark, sf_dir)


@_register(
    "stream_session_windows",
    """
    WITH e AS (
      SELECT user_id, ts, epoch_us(ts) AS tsu, event_id FROM events
    ),
    s AS (
      SELECT user_id, ts, tsu, event_id,
             CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
                       >= 43200000000 OR
                  LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
                  THEN 1 ELSE 0 END AS ns
      FROM e
    ),
    sid AS (
      SELECT user_id, ts,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events
    FROM sid GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window() stateful streaming aggregation (12h gap)."""
    from hi_csa_db_spark.streaming import windows

    return windows.session_windows(spark, sf_dir)


@_register(
    "stream_sliding_counts",
    """
    WITH w AS (
      SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
             event_type, value
      FROM events
      UNION ALL
      SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR,
                      '%Y-%m-%d %H:%M:%S'),
             event_type, value
      FROM events
    )
    SELECT win_start, event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) watermarked window aggregation: 2h windows
    advancing every 1h — each event counted in two windows."""
    from hi_csa_db_spark.streaming import windows

    return windows.sliding_counts(spark, sf_dir)


@_register(
    "stream_dedup_watermark",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n
    FROM events GROUP BY event_type
    """,
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on (user_id, event_type) — the
    streaming twin of the dedup tier (state expires with the watermark,
    so memory is bounded on unbounded streams)."""
    from hi_csa_db_spark.streaming import windows

    return windows.dedup_within_watermark(spark, sf_dir)


@_register(
    "stream_ohlc_daily",
    """
    WITH b AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             epoch_us(ts) AS ts_us, event_id,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    o AS (
      SELECT day, v AS open FROM (
        SELECT day, v, ROW_NUMBER() OVER (PARTITION BY day
               ORDER BY ts_us ASC, event_id ASC) AS rn FROM b) t
      WHERE rn = 1
    ),
    c AS (
      SELECT day, v AS close FROM (
        SELECT day, v, ROW_NUMBER() OVER (PARTITION BY day
               ORDER BY ts_us DESC, event_id DESC) AS rn FROM b) t
      WHERE rn = 1
    ),
    hl AS (
      SELECT day, COUNT(*) AS n, MAX(v) AS high, MIN(v) AS low
      FROM b GROUP BY day
    )
    SELECT hl.day, n,
           ROUND(CAST(open AS DOUBLE), 2) AS open,
           ROUND(CAST(high AS DOUBLE), 2) AS high,
           ROUND(CAST(low AS DOUBLE), 2) AS low,
           ROUND(CAST(close AS DOUBLE), 2) AS close
    FROM hl JOIN o USING (day) JOIN c USING (day)
    """,
)
def stream_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t17's one-pass OHLC (struct-argmin/argmax with deterministic
    tie-breaks) run UNDER THE STREAMING PLANNER in a watermarked 1-day
    tumbling window — custom downsampling aggregates compose with
    stateful streaming aggregation unchanged. Batch-equivalence pinned
    in tests/test_streaming_multimodal.py."""
    from hi_csa_db_spark.streaming import windows

    return windows.ohlc_daily(spark, sf_dir)


@_register(
    "stream_stateful_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals carried across micro-batches in explicit state —
    the engine's escape hatch for semantics built-in windows can't
    express (SURVEY.md section 2.9). Value-oracled since r4: the state
    accumulates INTEGER CENTS (exact, order-proof), and update-mode
    re-emissions reduce to the final state per user (n_events is
    monotone, so max_by is the last state) before comparing against
    the plain per-user SQL totals."""
    from hi_csa_db_spark.streaming import stateful

    raw = stateful.user_running_totals(spark, sf_dir)
    return raw.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@_register(
    "stream_dq_gate",
    """
    SELECT 'accepted:event_type' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN event_type IN ('click', 'view', 'purchase',
                                             'signup', 'error')
                    THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
    FROM events
    UNION ALL
    SELECT 'not_null:user_id',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'range:value',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN value IS NOT NULL AND value >= 0
                         AND value <= 1000000 THEN 0 ELSE 1 END) AS BIGINT)
    FROM events
    """,
)
def stream_dq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS data-quality validation: the expectations engine
    (dq1) applied per micro-batch on the events STREAM via
    foreachBatch — every ingested batch is scored against the table
    contract before it can poison the table (the streaming
    counterpart of the dq1 publish gate).

    Unlike the other stream_* entries this one carries a FULL oracle:
    per-rule totals are sums over disjoint batches, hence invariant to
    how the streaming engine splits the input — so the real streaming
    run (foreachBatch, AvailableNow trigger, temp checkpoint) is
    value-checked against plain SQL over the same rows."""
    from hi_csa_db_spark.streaming.dq import dq_gate_report

    return dq_gate_report(spark, sf_dir)


@_register(
    "stream_debounce",
    """
    WITH o AS (
      SELECT event_type, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN prev_us IS NULL
                          OR ts_us - prev_us >= 3600000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN prev_us IS NOT NULL
                          AND ts_us - prev_us < 3600000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_collapsed
    FROM o GROUP BY event_type
    """,
)
def stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t25's debounce under the STREAMING planner: a burst is exactly
    one session_window('1 hour') group — the lag-chain keep rule and
    session merging both break where the gap to the predecessor
    reaches the threshold — so kept == session count per (user, type)
    and the oracle is t25's lag SQL VERBATIM (the strongest kind of
    streaming value oracle: a different engine, a different plan
    shape, the same exact integers)."""
    from hi_csa_db_spark.streaming import windows

    return windows.debounce_sessions(spark, sf_dir)
@_register(
    "stream_sliding_distinct",
    """
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_n
      FROM events
    ),
    span AS (SELECT MIN(day_n) AS d0, MAX(day_n) AS d1 FROM d),
    anchors AS (
      SELECT DISTINCT day_n + i AS anchor
      FROM d, UNNEST([0, 1, 2, 3, 4, 5, 6]) AS t(i)
    ),
    sel AS (
      SELECT anchor FROM anchors CROSS JOIN span
      WHERE anchor >= d0 + 6 AND anchor <= d1
    )
    SELECT s.anchor AS window_end_day,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS distinct_users_7d
    FROM sel s JOIN d ON d.day_n BETWEEN s.anchor - 6 AND s.anchor
    GROUP BY s.anchor
    """,
)
def stream_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of t34: the day-level user bitmaps are
    maintained by a real Structured Streaming aggregate (state store,
    Trigger.AvailableNow), then band-joined/OR-merged/popcounted.
    bit_or's idempotency means duplicate replays cannot corrupt the
    result — the rare aggregate that is exactly-once BY ALGEBRA, not
    by delivery guarantees (streaming/windows.py::sliding_distinct).
    Oracle: the naive window re-scan COUNT DISTINCT definition, same
    as batch t34 — a THIRD independent computation of the same
    integers."""
    from hi_csa_db_spark.streaming import windows

    return windows.sliding_distinct(spark, sf_dir)


@_register(
    "stream_transition_counts",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events
    ),
    s AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY t ASC, event_id ASC) AS prev
      FROM e
    )
    SELECT prev, event_type AS next, CAST(COUNT(*) AS BIGINT) AS n_transitions
    FROM s WHERE prev IS NOT NULL GROUP BY prev, next
    """,
)
def stream_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of t43's transition matrix core: per-user
    last-event state (applyInPandasWithState) bridges micro-batch
    boundaries, each batch emits additive (prev, next, count) deltas,
    and the final groupBy-sum equals the batch LAG answer VALUE-
    EXACTLY — proven against the same SQL oracle as the batch op.
    The third custom-state demonstration beside running totals and
    the incremental dedup cache: state that encodes ORDER (the last
    event), not just an accumulator.

    Scale: state is one tiny tuple per user, shuffled once on the
    group key; each micro-batch moves only its own rows through
    Arrow; the delta aggregate is |types|^2-bounded."""
    from hi_csa_db_spark.streaming import stateful

    raw = stateful.user_transition_counts(spark, sf_dir)
    return raw.groupBy("prev", "next").agg(
        F.sum("n").cast("bigint").alias("n_transitions")
    )


@_register(
    "stream_quantile_sketch",
    """
    WITH d AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             CAST(FLOOR(value * 1000000) AS BIGINT) AS m
      FROM events
    ),
    b AS (
      SELECT day, event_type,
             LENGTH(CAST(m AS VARCHAR)) AS digits,
             CAST(SUBSTR(CAST(m AS VARCHAR), 1, 2) AS BIGINT) AS f2,
             COUNT(*) AS cnt
      FROM d GROUP BY 1, 2, 3, 4
    ),
    cum AS (
      SELECT day, event_type,
             CAST(CONCAT(CAST(f2 + 1 AS VARCHAR),
                         REPEAT('0', GREATEST(digits - 2, 0))) AS BIGINT)
               AS ub_micro,
             SUM(cnt) OVER (PARTITION BY day, event_type
                            ORDER BY digits, f2) AS cum,
             SUM(cnt) OVER (PARTITION BY day, event_type) AS n
      FROM b
    )
    SELECT day, event_type,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN ub_micro END)
             AS BIGINT) AS est_p50_micro,
           CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100 THEN ub_micro END)
             AS BIGINT) AS est_p99_micro
    FROM cum GROUP BY day, event_type
    """,
)
def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of a18: the mergeable log-histogram quantile
    sketch maintained as a watermarked daily streaming aggregation
    (real streaming planner + state store, Trigger.AvailableNow); the
    sink holds per-(day, type, bucket) counts and the p50/p99 read-out
    derives from that state table. Proves the sketch's merge algebra
    under streaming semantics — the oracle recomputes the identical
    buckets from the batch table."""
    from hi_csa_db_spark.streaming import windows

    return windows.quantile_sketch_daily(spark, sf_dir)


@_register(
    "stream_hll_daily",
    """
    WITH h AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 2)
                  AS BIGINT) AS bucket,
             CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 3, 13)
                  AS BIGINT) AS rem,
             user_id
      FROM events
    ),
    r AS (
      SELECT day, bucket,
             MAX(CASE WHEN rem = 0 THEN 50
                      ELSE least(53 - length(bin(rem)), 50) END) AS m
      FROM h GROUP BY day, bucket
    ),
    s AS (
      SELECT day,
             CAST(SUM(CAST(1 AS BIGINT) << (50 - m)) AS BIGINT)
             + (256 - COUNT(*)) * (CAST(1 AS BIGINT) << 50) AS ssum
      FROM r GROUP BY day
    ),
    x AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT s.day,
           CAST(floor((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                      * CAST(CAST(1 AS BIGINT) << 50 AS DOUBLE)
                      / CAST(ssum AS DOUBLE)) AS BIGINT) AS hll_daily,
           x.n_exact
    FROM s JOIN x USING (day)
    ORDER BY s.day ASC LIMIT 40
    """,
)
def stream_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-HLL register maintenance as a REAL streaming
    stateful aggregation (watermark + day windows + AvailableNow,
    memory sink): the state is the (day, bucket) register max —
    sketch-sized, mergeable by construction — and the estimate is
    derived batch-side from the sink, a12's portable integer
    register algebra end to end. Proves the sketch family runs
    under streaming semantics, not just batch (the
    stream_quantile_sketch precedent, extended to distincts)."""
    from hi_csa_db_spark.streaming import windows

    return windows.hll_daily_distinct(spark, sf_dir)


@_register(
    "stream_cms_topk",
    f"""
    WITH grid AS (
      SELECT * FROM (VALUES
        (1, 2654435761), (2, 2246822519), (3, 3266489917)
      ) AS t(a_id, a)
    ),
    e AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(user_id AS BIGINT) AS user_id
      FROM events
    ),
    cms AS (
      SELECT e.day, g.a_id,
             CAST(({MULT_HASH32_SQL.format(key='e.user_id', a='g.a')}) % 256
                  AS BIGINT) AS cms_col,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e CROSS JOIN grid g
      GROUP BY 1, 2, 3
    ),
    exact AS (
      SELECT day, user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM e GROUP BY 1, 2
    ),
    top3 AS (
      SELECT day, user_id, exact_cnt,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY exact_cnt DESC, user_id ASC) AS rnk
      FROM exact QUALIFY rnk <= 3
    ),
    probe AS (
      SELECT t.day, t.user_id, t.exact_cnt, t.rnk, g.a_id,
             CAST(({MULT_HASH32_SQL.format(key='t.user_id', a='g.a')}) % 256
                  AS BIGINT) AS cms_col
      FROM top3 t CROSS JOIN grid g
    ),
    est AS (
      SELECT p.day, p.user_id, p.exact_cnt,
             CAST(MIN(c.cnt) AS BIGINT) AS cms_est
      FROM probe p
      JOIN cms c ON c.day = p.day AND c.a_id = p.a_id
                AND c.cms_col = p.cms_col
      GROUP BY 1, 2, 3
    )
    SELECT day, user_id, exact_cnt, cms_est,
           CAST((cms_est - exact_cnt) * 10000
                // greatest(exact_cnt, 1) AS BIGINT) AS over_bps
    FROM est
    ORDER BY day ASC, cms_est DESC, user_id ASC LIMIT 90
    """,
)
def stream_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters as a REAL streaming stateful
    aggregation (watermark + day windows + AvailableNow, memory
    sink): state is the (day, hash-row, column) count — depth 3 x
    width 256 per open day, mergeable by SUM, the additive algebra
    a11/a21 prove batch-side now maintained by the streaming
    planner. The read-out joins the sink's sketch table against the
    exact daily top-3 (calibration) and takes the row-wise MIN;
    over_bps prices the one-sided overestimate. Completes the
    streaming sketch trio: stream_hll_daily (distincts, merge=MAX),
    stream_quantile_sketch (quantiles, merge=SUM of buckets), and
    now frequencies (merge=SUM of cells). The oracle recomputes the
    identical portable-multiplicative-hash sketch from the batch
    table."""
    from hi_csa_db_spark.streaming import windows

    return windows.cms_topk_daily(spark, sf_dir)
