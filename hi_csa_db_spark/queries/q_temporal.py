"""Temporal/time-series queries (t*): windows, sessions, resampling, seasonality, changepoints.

Importing this module registers its queries in the package registry
(``hi_csa_db_spark.queries``) in source order."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import load_table, load_tables, local_frame
from hi_csa_db_spark.functions.hashing import hex_to_long, knuth_hash32, md5_hex
from hi_csa_db_spark.operators import ordered

from hi_csa_db_spark.queries import _register
from hi_csa_db_spark.queries._shared import (
    _DAILY_SQL,
    _EWMA_W,
    _STL_SQL,
    _daily_series,
    _dsum,
)


@_register(
    "t1_tumbling_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def t1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (batch form; the
    streaming form with watermarks lives in streaming/windows.py)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _dsum(F.col("value")).alias("total_value"),
    )


@_register(
    "t2_sessionize",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tsu, event_id FROM events
    ),
    gaps AS (
      SELECT user_id,
             CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
                       > 43200000000 OR
                  LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM e
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def t2_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 12h inactivity gap — lag + running
    sum (the batch twin of session_window in streaming/windows.py).
    Gap math at DECLARED microsecond precision on both engines
    (Spark: ts_ns div 1000; oracle: epoch_us) so no duckdb version's
    parquet TIMESTAMP_NS handling (us-truncating 1.0 vs ns-preserving
    >=1.1) can flip a session boundary — VERDICT r3 item 1a."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 12 * 3600 * 1_000_000
    new_session = F.when(
        (F.col("ts_us") - F.lag("ts_us").over(w) > gap_us)
        | F.lag("ts_us").over(w).isNull(),
        1,
    ).otherwise(0)
    return (
        ev.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@_register(
    "t8_session_sequences",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type FROM events
    ),
    s AS (
      SELECT user_id, tsu, event_id, event_type,
             CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
                       > 43200000000 OR
                  LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
                  THEN 1 ELSE 0 END AS ns
      FROM e
    ),
    sid AS (
      SELECT user_id, tsu, event_id, event_type,
             CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM s
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           first(event_type ORDER BY tsu, event_id) AS first_event,
           last(event_type ORDER BY tsu, event_id) AS last_event,
           md5(string_agg(event_type, '>' ORDER BY tsu, event_id)) AS seq_hash
    FROM sid
    GROUP BY user_id, session_id
    """,
)
def t8_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence construction: one training example per
    (user, session) — the ordered event-type sequence, fingerprinted —
    the sequence-model data-prep step downstream of sessionization
    (t2 counts sessions; this materializes their contents). Order
    inside a session is pinned by (ts_ns, event_id) on both engines;
    the sequence travels as an md5 fingerprint + endpoints so the
    output stays canonicalizer-safe at any session length.

    Scale shape: two window passes partitioned by user (parallel in
    users) + one groupBy(user, session) whose collect_list is bounded
    by session length — no global ordering anywhere."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap_us = 12 * 3600 * 1_000_000
    ns = F.when(
        (F.col("ts_us") - F.lag("ts_us").over(w) > gap_us)
        | F.lag("ts_us").over(w).isNull(),
        1,
    ).otherwise(0)
    sid = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        "event_type",
        F.sum(ns)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    # ONE collect_list aggregate (not one per output column — that
    # would triple the shuffled payload); ordering/projection happen
    # in the narrow select after the groupBy.
    grouped = sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.collect_list(F.struct("ts_us", "event_id", "event_type")).alias("__raw"),
    )
    ordered_types = F.transform(
        F.array_sort(F.col("__raw")), lambda x: x["event_type"]
    )
    return grouped.select(
        "user_id",
        "session_id",
        "n_events",
        F.element_at(ordered_types, 1).alias("first_event"),
        F.element_at(ordered_types, -1).alias("last_event"),
        F.md5(F.array_join(ordered_types, ">")).alias("seq_hash"),
    )


@_register(
    "t3_resample_daily",
    """
    WITH d AS (
      SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_n
      FROM events
    ),
    counts AS (SELECT user_id, day_n, COUNT(*) AS n FROM d GROUP BY user_id, day_n),
    spans AS (SELECT user_id, MIN(day_n) AS d0, MAX(day_n) AS d1 FROM d GROUP BY user_id),
    grid AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day_n FROM spans)
    SELECT g.user_id, g.day_n, COALESCE(c.n, 0) AS n_events
    FROM grid g LEFT JOIN counts c ON c.user_id = g.user_id AND c.day_n = g.day_n
    """,
)
def t3_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample / gap fill: per-user daily counts with
    MISSING DAYS materialized as zeros — per-key calendar grid built
    with sequence+explode, left-joined to the observed counts. The
    grid explode is narrow (no shuffle); the join shuffles on
    (user, day), same key as the aggregation — one exchange reused."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.expr("ts_ns div 1000 div 86400000000").alias("day_n")
    )
    counts = d.groupBy("user_id", "day_n").agg(F.count(F.lit(1)).alias("n"))
    spans = d.groupBy("user_id").agg(
        F.min("day_n").alias("d0"), F.max("day_n").alias("d1")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day_n")
    )
    return grid.join(counts, ["user_id", "day_n"], "left").select(
        "user_id", "day_n", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@_register(
    "t17_ohlc_daily",
    """
    WITH b AS (
      SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_n,
             epoch_us(ts) AS ts_us, event_id,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ),
    o AS (
      SELECT day_n, v AS open FROM (
        SELECT day_n, v,
               ROW_NUMBER() OVER (PARTITION BY day_n
                                  ORDER BY ts_us ASC, event_id ASC) AS rn
        FROM b) t WHERE rn = 1
    ),
    c AS (
      SELECT day_n, v AS close FROM (
        SELECT day_n, v,
               ROW_NUMBER() OVER (PARTITION BY day_n
                                  ORDER BY ts_us DESC, event_id DESC) AS rn
        FROM b) t WHERE rn = 1
    ),
    hl AS (
      SELECT day_n, COUNT(*) AS n, MAX(v) AS high, MIN(v) AS low
      FROM b GROUP BY day_n
    )
    SELECT hl.day_n, n,
           ROUND(CAST(open AS DOUBLE), 2) AS open,
           ROUND(CAST(high AS DOUBLE), 2) AS high,
           ROUND(CAST(low AS DOUBLE), 2) AS low,
           ROUND(CAST(close AS DOUBLE), 2) AS close
    FROM hl JOIN o USING (day_n) JOIN c USING (day_n)
    """,
)
def t17_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars over the event value series — the time-series
    downsampling every monitoring/market pipeline runs. Open/close are
    argmin/argmax BY (time, event_id) via single struct-min/max
    aggregates (ONE map-combined groupBy for all six outputs — no
    window, no self-join; the struct's lexicographic order encodes the
    deterministic tie-break), values kept DECIMAL-exact until the
    rounded output. The oracle cross-checks with the explicit
    row_number formulation."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.expr("ts_ns div 1000 div 86400000000").alias("day_n"),
        F.expr("ts_ns div 1000").alias("ts_us"),
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    agg = b.groupBy("day_n").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.struct("ts_us", "event_id", "v")).alias("__o"),
        F.max(F.struct("ts_us", "event_id", "v")).alias("__c"),
        F.max("v").alias("__high"),
        F.min("v").alias("__low"),
    )
    return agg.select(
        "day_n",
        "n",
        F.round(F.col("__o.v").cast("double"), 2).alias("open"),
        F.round(F.col("__high").cast("double"), 2).alias("high"),
        F.round(F.col("__low").cast("double"), 2).alias("low"),
        F.round(F.col("__c.v").cast("double"), 2).alias("close"),
    )


@_register(
    "t7_zscore_outliers",
    """
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(14,2)) * CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_id, e.event_type, e.value,
             (e.value - s.sx / s.n) / sqrt(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)) AS zs
      FROM events e JOIN s ON s.event_type = e.event_type
    )
    SELECT event_id, event_type, value, ROUND(zs, 6) AS zscore
    FROM z WHERE zs > 3.0 OR zs < -3.0
    """,
)
def t7_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection per event type: per-group moments
    from decimal-exact power sums (the stats_moments pattern)
    broadcast back onto the stream; outliers = |z| > 3. The per-group
    stats table is tiny — broadcast join, no second shuffle of the
    events."""
    ev = load_table(spark, sf_dir, "events")
    v14 = F.col("value").cast("decimal(14,2)")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        _dsum(F.col("value")).alias("sx"),
        F.sum(v14 * v14).cast("double").alias("sxx"),
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt(F.col("sxx") / F.col("n") - mean * mean)
    zs = (F.col("value") - mean) / std
    return (
        ev.join(F.broadcast(s), "event_type")
        .filter((zs > 3.0) | (zs < -3.0))
        .select(
            "event_id", "event_type", "value", F.round(zs, 6).alias("zscore")
        )
    )


@_register(
    "t11_ewma_smoothing",
    f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tsu,
             CAST(value AS DECIMAL(12,2)) AS v
      FROM events
    )
    SELECT event_id, user_id,
           CAST(ROUND((
             {" + ".join(
                 f"COALESCE(LAG(v, {k}) OVER (PARTITION BY user_id ORDER BY tsu, event_id),"
                 f" CAST(0 AS DECIMAL(12,2))) * CAST({w} AS DECIMAL(12,10))"
                 for k, w in enumerate(_EWMA_W)
             )}
           ), 6) AS DOUBLE) AS ewma
    FROM e
    """,
)
def t11_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted trailing smoother (alpha = 1/2, 10-term
    truncation) per user over event time — the time-series smoothing
    primitive, made CROSS-ENGINE EXACT: weights are powers of two, so
    every term is a finite DECIMAL product and the 10-term sum is
    exact decimal arithmetic on both engines — no float accumulation
    anywhere until the final rounded cast. Per-key window, parallel in
    users; 10 lags stay inside one window pass."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    v = F.col("value").cast("decimal(12,2)")
    terms = None
    for k, wt in enumerate(_EWMA_W):
        t = F.coalesce(F.lag(v, k).over(w), F.lit(0).cast("decimal(12,2)")) * F.expr(
            f"CAST({wt} AS DECIMAL(12,10))"
        )
        terms = t if terms is None else terms + t
    # round the EXACT DECIMAL (half-up on both engines) BEFORE the
    # double cast: sums of /2^k terms land exactly on .xxxxxx5
    # half-way points, where a double-then-round would tie-break on
    # representation noise
    return ev.select(
        "event_id", "user_id", F.round(terms, 6).cast("double").alias("ewma")
    )


@_register(
    "t14_dow_seasonality",
    """
    SELECT isodow(ts) AS dow_iso, event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def t14_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week activity profile per event type — the seasonality
    facet of the temporal tier. Engine trap pinned: Spark dayofweek()
    is 1=Sunday while DuckDB dayofweek()/isodow differ; both sides
    emit ISO day numbers (1=Monday..7=Sunday) via explicit mapping so
    the key is engine-neutral."""
    ev = load_table(spark, sf_dir, "events")
    # Spark: dayofweek 1=Sun..7=Sat  ->  ISO 1=Mon..7=Sun
    iso = ((F.dayofweek("ts") + 5) % 7) + 1
    return (
        ev.groupBy(iso.alias("dow_iso"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total"
            ),
        )
    )


@_register(
    "t15_cusum_changepoint",
    """
    WITH daily AS (
      SELECT o_orderdate AS d,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY o_orderdate
    ),
    cum AS (
      SELECT d,
             SUM(cents) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS s_t,
             ROW_NUMBER() OVER (ORDER BY d) AS t
      FROM daily
    ),
    tot AS (SELECT CAST(SUM(cents) AS HUGEINT) AS total,
                   CAST(COUNT(*) AS HUGEINT) AS n FROM daily)
    SELECT strftime(d, '%Y-%m-%d') AS change_date,
           CAST(n AS BIGINT) AS n_days,
           CAST(ABS(n * CAST(s_t AS HUGEINT) - CAST(t AS HUGEINT) * total)
                AS VARCHAR) AS dev_num
    FROM cum CROSS JOIN tot
    ORDER BY ABS(n * CAST(s_t AS HUGEINT) - CAST(t AS HUGEINT) * total) DESC,
             d ASC
    LIMIT 1
    """,
)
def t15_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily revenue series: the
    day t maximizing |CUSUM_t| where CUSUM_t = sum_{i<=t}(x_i - mean)
    — the classic single-changepoint estimator (Page 1954). ALL
    arithmetic is exact integers: revenue in cents, and the deviation
    scaled by n (|n*S_t - t*Total| = n*|CUSUM_t|) so no float mean is
    ever formed; the argmax compares integers cross-engine, and the
    deviation is emitted as a STRING (it can exceed 2^53 — the
    OUTPUT SCHEMA RULE).

    Scale shape: one groupBy(day), then ordered.global_prefix_sums for
    S_t and t (range-partition + broadcast offsets — no
    single-partition window), one broadcast 1-row total, one
    TakeOrderedAndProject."""
    from hi_csa_db_spark.operators import ordered

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
            ).alias("cents")
        )
        .withColumn("one", F.lit(1))
    )
    cum = ordered.global_prefix_sums(daily, "d", ["cents", "one"])
    tot = daily.agg(
        F.sum("cents").cast("decimal(38,0)").alias("total"),
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
    )
    dev = F.abs(
        F.col("n") * F.col("cum_cents").cast("decimal(38,0)")
        - F.col("cum_one").cast("decimal(38,0)") * F.col("total")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("change_date"),
            F.col("n").cast("long").alias("n_days"),
            dev.alias("__dev"),
        )
        .orderBy(F.col("__dev").desc(), F.col("change_date").asc())
        .limit(1)
        .select(
            "change_date",
            "n_days",
            F.col("__dev").cast("string").alias("dev_num"),
        )
    )


@_register(
    "t16_trend_ma7",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    contrib AS (
      SELECT d + CAST(i AS INT) * INTERVAL 1 DAY AS anchor, cents
      FROM daily, UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS t(i)
    ),
    win AS (
      SELECT anchor, SUM(cents) AS sum7, COUNT(*) AS n7
      FROM contrib GROUP BY anchor
    )
    SELECT strftime(daily.d, '%Y-%m-%d') AS day,
           ROUND(cents / 100.0, 2) AS revenue,
           ROUND(sum7 / 700.0, 2) AS trend7,
           ROUND(cents / 100.0 - sum7 / 700.0, 2) AS residual
    FROM daily JOIN win ON win.anchor = CAST(daily.d AS TIMESTAMP)
    WHERE n7 = 7
    """,
)
def t16_trend_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend/residual decomposition of the daily revenue series: 7-day
    CENTERED moving average (full windows only) and the residual the
    anomaly tier (t7/t9) would then screen. Implemented as a calendar
    BAND JOIN — each day contributes its exact integer cents to the 7
    anchors it influences, then one groupBy(anchor) — a linear
    shuffle-by-date plan, NOT the single-partition global window a
    naive avg() OVER (ORDER BY day ROWS 3 PRECEDING...) would plan
    (the same rewrite as the t10 interval join). Tie-free by
    construction: sum7/700 can never land on an exact half at 2dp
    (700 * (odd/200) is never an integer)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
        ).alias("cents")
    )
    contrib = daily.select(
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("i"), "d", "cents"
    ).select(F.date_add(F.col("d"), F.col("i")).alias("anchor"), "cents")
    win = contrib.groupBy("anchor").agg(
        F.sum("cents").alias("sum7"), F.count(F.lit(1)).alias("n7")
    )
    return (
        daily.join(win, daily["d"] == win["anchor"])
        .filter(F.col("n7") == 7)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            F.round(F.col("sum7") / 700.0, 2).alias("trend7"),
            F.round(F.col("cents") / 100.0 - F.col("sum7") / 700.0, 2).alias(
                "residual"
            ),
        )
    )


@_register(
    "t13_ship_latency",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n,
           ROUND(quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.5), 6)
             AS p50_days,
           ROUND(quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.9), 6)
             AS p90_days,
           MAX(date_diff('day', o_orderdate, l_shipdate)) AS max_days
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def t13_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles per priority band — the SLA
    distribution query every fulfillment warehouse runs; exact
    percentiles over integer day diffs (quantile_cont interpolation
    parity pinned by t9/agg_pandas_median), one fact-fact join that
    SMJs at scale (pinned for q18 in test_plans)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    dd = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.percentile(dd, F.lit(0.5)), 6).alias("p50_days"),
            F.round(F.percentile(dd, F.lit(0.9)), 6).alias("p90_days"),
            F.max(dd).alias("max_days"),
        )
    )


@_register(
    "t12_time_rollup",
    """
    SELECT CASE WHEN GROUPING(d) = 0 AND GROUPING(h) = 0 THEN 'hour'
                WHEN GROUPING(d) = 0 THEN 'day' ELSE 'all' END AS grain,
           COALESCE(CAST(d AS VARCHAR), '') AS day_key,
           COALESCE(CAST(h AS VARCHAR), '') AS hour_key,
           event_type, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
    FROM (
      SELECT event_type, value,
             strftime(CAST(date_trunc('day', ts) AS TIMESTAMP),
                      '%Y-%m-%d %H:%M:%S') AS d,
             strftime(CAST(date_trunc('hour', ts) AS TIMESTAMP),
                      '%Y-%m-%d %H:%M:%S') AS h
      FROM events
    )
    GROUP BY GROUPING SETS ((event_type, d, h), (event_type, d), (event_type))
    """,
)
def t12_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (hour -> day -> all) per event type in
    ONE grouping-sets pass — the read-side shape of a hypertable
    continuous aggregate (the maintained-rollup tier's query face;
    incremental.maintain_rollup keeps the hour grain, this derives the
    hierarchy). Time keys travel as strings (UTC session tz pins the
    rendering); money decimal-exact."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "value",
        F.date_trunc("day", "ts").cast("string").alias("d"),
        F.date_trunc("hour", "ts").cast("string").alias("h"),
    )
    base.createOrReplaceTempView("__t12_base")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(d) = 0 AND GROUPING(h) = 0 THEN 'hour'
                    WHEN GROUPING(d) = 0 THEN 'day' ELSE 'all' END AS grain,
               COALESCE(d, '') AS day_key,
               COALESCE(h, '') AS hour_key,
               event_type, COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        FROM __t12_base
        GROUP BY GROUPING SETS ((event_type, d, h), (event_type, d), (event_type))
        """
    )


@_register(
    "t10_interval_overlap",
    """
    WITH p AS (
      SELECT event_id AS lid, user_id,
             epoch_us(ts) - 3600000000 AS lo,
             epoch_us(ts) + 3600000000 AS hi
      FROM events WHERE event_type = 'purchase'
    ),
    e AS (
      SELECT event_id AS rid, user_id,
             epoch_us(ts) - 1800000000 AS lo,
             epoch_us(ts) + 1800000000 AS hi
      FROM events WHERE event_type = 'error'
    )
    SELECT p.user_id, COUNT(*) AS n_overlaps
    FROM p JOIN e ON p.user_id = e.user_id AND p.lo < e.hi AND e.lo < p.hi
    GROUP BY p.user_id
    """,
)
def t10_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL x INTERVAL overlap join: +-1h windows around purchases
    vs +-30m windows around errors, same user — which error episodes
    brush against purchase activity. The engine plan is the
    GRID-BUCKETED equi-join (operators/temporal.py::
    interval_overlap_join): intervals explode into 30-min cells,
    candidates meet on (user, cell), the exact predicate filters —
    never the per-key quadratic theta join the naive formulation
    plans. The oracle intentionally USES the theta form, so the check
    proves the bucketing loses no pairs."""
    from hi_csa_db_spark.operators.temporal import interval_overlap_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    H, HH = 1_800_000_000, 3_600_000_000
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("lid"),
        "user_id",
        (F.col("ts_us") - HH).alias("lo"),
        (F.col("ts_us") + HH).alias("hi"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("rid"),
        "user_id",
        (F.col("ts_us") - H).alias("lo"),
        (F.col("ts_us") + H).alias("hi"),
    )
    pairs = interval_overlap_join(p, e, "user_id", cell_ns=H)
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_overlaps"))


@_register(
    "t9_robust_outliers",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type,
             quantile_cont(abs(e.value - m.med), 0.5) AS mad
      FROM events e JOIN med m ON m.event_type = e.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN ROUND(abs(e.value - m.med)
                              / (CAST(1.4826 AS DOUBLE) * d.mad), 6)
                         > CAST(3.0 AS DOUBLE)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(ANY_VALUE(m.med), 6) AS med,
           ROUND(ANY_VALUE(d.mad), 6) AS mad
    FROM events e JOIN med m ON m.event_type = e.event_type
                  JOIN mad d ON d.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def t9_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier detection per event type: median +
    median-absolute-deviation instead of mean/std (t7) — a single
    extreme value can drag the mean past the 3-sigma gate, the median
    cannot. Outlier iff |x - med| / (1.4826 * MAD) > 3, scored on the
    6dp-rounded statistic so no float boundary crosses engines.

    Scale: two exact-percentile aggregations by event_type (sort-based
    within each group, parallel across groups) + broadcast of the tiny
    per-type stats back onto the stream — same broadcast-stats shape
    as t7, one extra pass for the deviation median."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    withmed = ev.join(F.broadcast(med), "event_type")
    mad = withmed.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5)).alias("mad")
    )
    score = F.round(
        F.abs(F.col("value") - F.col("med")) / (F.lit(1.4826) * F.col("mad")), 6
    )
    return (
        withmed.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(score > 3.0, 1).otherwise(0)).alias("n_outliers"),
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
        )
    )


@_register(
    "t5_funnel",
    """
    WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
          FROM events e JOIN v ON v.user_id = e.user_id AND epoch_us(e.ts) > v.t
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
          FROM events e JOIN c ON c.user_id = e.user_id AND epoch_us(e.ts) > c.t
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
)
def t5_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER the first
    view, then purchased AFTER that click. Each stage is one
    aggregation + one equi-join on user — never a per-user sort or
    collect; stages chain on the same user-partitioned shuffle."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    base = ev.select("user_id", "event_type", us.alias("t"))
    v = base.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("t").alias("vt")
    )
    c = (
        base.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("t") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("t").alias("ct"))
    )
    p = (
        base.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("t") > F.col("ct"))
        .groupBy("user_id")
        .agg(F.min("t").alias("pt"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@_register(
    "t6_cohort_retention",
    """
    WITH d AS (
      SELECT user_id, CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week_n
      FROM events
    ),
    cohort AS (SELECT user_id, MIN(week_n) AS c0 FROM d GROUP BY user_id)
    SELECT c.c0 AS cohort_week,
           d.week_n - c.c0 AS week_offset,
           COUNT(DISTINCT d.user_id) AS active_users
    FROM d JOIN cohort c ON c.user_id = d.user_id
    GROUP BY cohort_week, week_offset
    """,
)
def t6_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-activity week, counted
    distinct per subsequent week offset — the canonical retention
    matrix; two aggregations sharing the user-keyed shuffle."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.expr("ts_ns div 1000 div 604800000000").alias("week_n")
    )
    cohort = d.groupBy("user_id").agg(F.min("week_n").alias("c0"))
    return (
        d.join(cohort, "user_id")
        .groupBy(
            F.col("c0").alias("cohort_week"),
            (F.col("week_n") - F.col("c0")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@_register(
    "t4_event_gaps",
    """
    WITH o AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    )
    SELECT user_id, event_id, ts_us, ts_us - prev_us AS gap_us
    FROM o
    WHERE prev_us IS NOT NULL AND ts_us - prev_us > 86400000000
    """,
)
def t4_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap detection (islands-and-gaps): events arriving more than a
    day after the user's previous event — lag() over (user, time), the
    sessionization primitive t2 builds on."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    w = Window.partitionBy("user_id").orderBy(us.asc(), F.col("event_id").asc())
    o = ev.select(
        "user_id",
        "event_id",
        us.alias("ts_us"),
        F.lag(us).over(w).alias("prev_us"),
    )
    return (
        o.filter(
            F.col("prev_us").isNotNull()
            & (F.col("ts_us") - F.col("prev_us") > 86_400_000_000)
        )
        .select(
            "user_id",
            "event_id",
            "ts_us",
            (F.col("ts_us") - F.col("prev_us")).alias("gap_us"),
        )
    )


@_register(
    "t18_interp_align",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type, value, epoch_us(ts) AS tsu
      FROM events
    ),
    m AS (
      SELECT event_id, user_id, event_type, tsu,
        last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
          OVER w_prev AS pv,
        last_value(CASE WHEN event_type = 'purchase' THEN tsu END IGNORE NULLS)
          OVER w_prev AS pt,
        first_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
          OVER w_next AS nv,
        first_value(CASE WHEN event_type = 'purchase' THEN tsu END IGNORE NULLS)
          OVER w_next AS nt
      FROM e
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_next AS (PARTITION BY user_id ORDER BY tsu, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT event_id, user_id,
           ROUND(pv + (nv - pv) * (CAST(tsu - pt AS DOUBLE)
                                   / CAST(nt - pt AS DOUBLE)), 6) AS interp_value
    FROM m
    WHERE event_type = 'click' AND pv IS NOT NULL AND nv IS NOT NULL
      AND nt > pt
    """,
)
def t18_interp_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series alignment by LINEAR INTERPOLATION: the purchase-value
    series sampled at each click's timestamp — the sensor-fusion /
    gap-filling primitive (j8's nearest-neighbor alignment picks ONE
    side; this blends both, weighted by time distance).

    One shuffle on user_id serves both window frames (prev-purchase
    carry-forward via last() IGNORE NULLS over the preceding frame,
    next-purchase via first() over the following frame — the same
    sort order, so Spark evaluates both in a single Window node
    chain). The interpolation weight divides two small int64 deltas
    in double — bit-identical across engines; 6dp rounding pins the
    hash."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.expr("ts_ns div 1000").alias("tsn"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("tsn", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("tsn", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    pval = F.when(F.col("event_type") == "purchase", F.col("value"))
    pts = F.when(F.col("event_type") == "purchase", F.col("tsn"))
    m = base.select(
        "event_id",
        "user_id",
        "event_type",
        "tsn",
        F.last(pval, ignorenulls=True).over(w_prev).alias("pv"),
        F.last(pts, ignorenulls=True).over(w_prev).alias("pt"),
        F.first(pval, ignorenulls=True).over(w_next).alias("nv"),
        F.first(pts, ignorenulls=True).over(w_next).alias("nt"),
    )
    frac = (F.col("tsn") - F.col("pt")).cast("double") / (
        F.col("nt") - F.col("pt")
    ).cast("double")
    return (
        m.filter(
            (F.col("event_type") == "click")
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nt") > F.col("pt"))
        )
        .select(
            "event_id",
            "user_id",
            F.round(
                F.col("pv") + (F.col("nv") - F.col("pv")) * frac, 6
            ).alias("interp_value"),
        )
    )


@_register(
    "t19_temporal_split",
    """
    WITH e AS (
      SELECT event_id, event_type, epoch_us(ts) AS tsu FROM events
    ),
    r AS (
      SELECT event_type,
             ROW_NUMBER() OVER (ORDER BY tsu, event_id) AS rank,
             COUNT(*) OVER () AS n
      FROM e
    )
    SELECT CASE WHEN rank * 5 <= n * 4 THEN 'train' ELSE 'test' END AS split,
           event_type, COUNT(*) AS n_events
    FROM r GROUP BY 1, 2
    """,
)
def t19_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe TEMPORAL train/test split: the first 80% of events
    by event time train, the last 20% test — the time-ordered
    counterpart of the hash split (sample_train_split), mandatory
    when labels leak backwards in time (forecasting, churn). The
    80th-percentile boundary is the exact integer rank test
    rank*5 <= n*4, not a float quantile.

    Scale shape: the global time rank uses ordered.global_row_numbers
    (range-partition + per-partition offsets broadcast) — NEVER a
    single-partition ORDER BY window; the total count joins as a
    1-row broadcast; the final aggregate has |splits| x |types|
    groups. Event timestamps are unique in every fixture vintage
    (verified), making the rank deterministic."""
    from hi_csa_db_spark.operators import ordered

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.struct(
            F.expr("ts_ns div 1000").alias("tsu"), F.col("event_id").alias("eid")
        ).alias("tsn"),
    )
    ranked = ordered.global_row_numbers(e, "tsn")
    n1 = ranked.agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.crossJoin(F.broadcast(n1))
        .select(
            F.when(F.col("rank") * 5 <= F.col("n") * 4, "train")
            .otherwise("test")
            .alias("split"),
            "event_type",
        )
        .groupBy("split", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@_register(
    "t20_attribution",
    """
    WITH p AS (
      SELECT event_id AS pid, user_id, epoch_us(ts) AS pts,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS cid, user_id, epoch_us(ts) AS cts,
             CAST(props->>'$.k' AS INTEGER) % 5 AS channel
      FROM events WHERE event_type = 'click'
    ),
    pc AS (
      SELECT p.pid, p.cents, c.channel,
             ROW_NUMBER() OVER (PARTITION BY p.pid
                                ORDER BY c.cts DESC, c.cid DESC) AS rn,
             COUNT(*) OVER (PARTITION BY p.pid) AS n
      FROM p JOIN c ON c.user_id = p.user_id
                   AND c.cts >= p.pts - 604800000000 AND c.cts < p.pts
    ),
    credits AS (
      SELECT 'last_touch' AS model, channel, cents AS cr FROM pc WHERE rn = 1
      UNION ALL
      SELECT 'linear' AS model, channel,
             cents // n + CASE WHEN rn = 1 THEN cents % n ELSE 0 END AS cr
      FROM pc
    )
    SELECT model, channel, CAST(SUM(cr) AS BIGINT) AS credited_cents
    FROM credits GROUP BY model, channel
    """,
)
def t20_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: every purchase's revenue credited to the
    user's clicks in the preceding 7 days, under BOTH standard models
    in one plan — last-touch (all credit to the most recent click) and
    linear (equal split). Credit is INTEGER-EXACT: cents div n per
    click with the remainder going to the most recent click, so the
    per-channel totals conserve revenue to the cent on any engine and
    any partitioning (a float split would not). One user-keyed
    equi-join bounded by the 7-day window + one per-purchase window;
    channels come from the JSON props (f7's path)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        us.alias("pts"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"),
        F.col("user_id").alias("c_user"),
        us.alias("cts"),
        (F.get_json_object("props", "$.k").cast("int") % 5).alias("channel"),
    )
    week_us = 7 * 24 * 3600 * 1_000_000
    pc = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("cts") >= F.col("pts") - F.lit(week_us))
        & (F.col("cts") < F.col("pts")),
    )
    w = Window.partitionBy("pid").orderBy(F.col("cts").desc(), F.col("cid").desc())
    wn = Window.partitionBy("pid")
    pc = pc.select(
        "pid",
        "cents",
        "channel",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    last = pc.filter(F.col("rn") == 1).select(
        F.lit("last_touch").alias("model"), "channel", F.col("cents").alias("cr")
    )
    linear = pc.select(
        F.lit("linear").alias("model"),
        "channel",
        (
            F.expr("cents div n")
            + F.when(F.col("rn") == 1, F.col("cents") % F.col("n")).otherwise(0)
        ).alias("cr"),
    )
    return (
        last.unionByName(linear)
        .groupBy("model", "channel")
        .agg(F.sum("cr").cast("bigint").alias("credited_cents"))
    )


@_register(
    "t22_hazard_table",
    """
    WITH lifetimes AS (
      SELECT user_id,
             CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT) AS churn_day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT churn_day AS day, COUNT(*) AS n_churned
      FROM lifetimes GROUP BY 1
    )
    SELECT day,
           CAST(SUM(n_churned) OVER (ORDER BY day DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_at_risk,
           CAST(n_churned AS BIGINT) AS n_churned,
           ROUND(n_churned / CAST(SUM(n_churned) OVER (ORDER BY day DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
             AS hazard
    FROM per_day
    """,
)
def t22_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time hazard table (the Kaplan-Meier ingredient): per
    lifetime-day, users still at risk, users churning that day
    (churn day = days between a user's first and last event), and
    the hazard d/n — integers everywhere, ONE rounded division per
    row (a cumulative survival product would need cross-engine libm;
    the hazard table carries the same information without it).
    n_at_risk is a SUFFIX SUM of per-day churn counts — the heavy
    work is one user groupBy + one day groupBy; the window runs
    over the tiny day dimension (bounded by corpus lifespan), never
    over users or events."""
    ev = load_table(spark, sf_dir, "events")
    lifetimes = ev.groupBy("user_id").agg(
        F.expr("CAST(datediff(MAX(ts), MIN(ts)) AS BIGINT)").alias("churn_day")
    )
    per_day = lifetimes.groupBy(F.col("churn_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_churned")
    )
    w = (
        Window.orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_day.select(
        "day",
        F.sum("n_churned").over(w).cast("bigint").alias("n_at_risk"),
        F.col("n_churned").cast("bigint").alias("n_churned"),
        F.round(
            F.col("n_churned")
            / F.sum("n_churned").over(w).cast("double"),
            6,
        ).alias("hazard"),
    )


@_register(
    "t24_markov_transitions",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type FROM events
    ),
    p AS (
      SELECT event_type AS to_event,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY tsu, event_id) AS from_event
      FROM e
    ),
    c AS (SELECT from_event, to_event, COUNT(*) AS n_trans
          FROM p WHERE from_event IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT from_event, SUM(n_trans) AS tot FROM c GROUP BY 1)
    SELECT c.from_event, c.to_event, CAST(c.n_trans AS BIGINT) AS n_trans,
           CAST((c.n_trans * 1000000) // t.tot AS BIGINT) AS p_micro
    FROM c JOIN t USING (from_event)
    """,
)
def t24_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: count
    consecutive event-type pairs per user (ordered at declared-us
    precision with event_id tie-break — the t2/t8 contract), then the
    per-source transition probability as an exact integer micro-share
    (cnt*1e6 div total — floor division, no float ratio). The
    behavior-model twin of t8's sequence materialization: t8 ships
    the sequences, this ships their summary dynamics.

    Scale shape: one user-partitioned window pass (parallel in users)
    + one (from,to) hash aggregate whose cardinality is |event_types|^2
    (tiny), + a window sum over that tiny matrix. Nothing global."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.expr("ts_ns div 1000")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("to_event"),
        F.lag("event_type").over(w).alias("from_event"),
    ).filter(F.col("from_event").isNotNull())
    counts = pairs.groupBy("from_event", "to_event").agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    return counts.select(
        "from_event",
        "to_event",
        F.col("n_trans").cast("bigint").alias("n_trans"),
        F.expr("(n_trans * 1000000) div sum(n_trans) over (partition by from_event)")
        .cast("bigint")
        .alias("p_micro"),
    )


@_register(
    "t23_burstiness",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM daily GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_days, s AS n_events,
           ROUND((n * s2 - s * s) / CAST(n AS DOUBLE) / s, 6) AS fano
    FROM m
    """,
)
def t23_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity burstiness: the Fano factor (variance/mean)
    of daily event counts — Poisson-like users score ~1, bursty users
    score higher; the behavioral feature that separates steady readers
    from scraping bots. Variance·n² = n·Σx² − (Σx)², so the whole
    statistic is exact BIGINT moment sums with ONE rounded double
    division chain at the end (the x40 integer-moments idiom). Two
    map-combined groupBys, no window."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("x")
    )
    m = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s2"),
    )
    return m.select(
        "user_id",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s").alias("n_events"),
        F.round(
            (F.col("n") * F.col("s2") - F.col("s") * F.col("s"))
            / F.col("n").cast("double")
            / F.col("s"),
            6,
        ).alias("fano"),
    )


@_register(
    "t21_rfm_segmentation",
    """
    WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
    base AS (
      SELECT o.o_custkey AS custkey,
             date_diff('day', MAX(o.o_orderdate), mx.mxd) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders o CROSS JOIN mx
      GROUP BY o.o_custkey, mx.mxd
    )
    SELECT custkey, recency_days, frequency, monetary_cents,
           NTILE(5) OVER (ORDER BY recency_days ASC, custkey ASC) AS r_score,
           NTILE(5) OVER (ORDER BY frequency DESC, custkey ASC) AS f_score,
           NTILE(5) OVER (ORDER BY monetary_cents DESC, custkey ASC) AS m_score
    FROM base
    """,
)
def t21_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics
    rollup: per customer, days since last order (vs the corpus max
    date), order count, and lifetime spend in EXACT integer cents
    (o_totalprice is parquet DOUBLE: the decimal(15,2)*100 route is
    the truncate-vs-round-safe money conversion, NOTES.md), each
    scored into quintiles (NTILE with custkey tie-break — total order
    on both engines, so bucket edges match).

    Scale shape (VERDICT r7 item 4 — the unpartitioned NTILE windows
    are gone): each score rides ordered.global_row_numbers over a
    (value, custkey) STRUCT key (range partition + broadcast offsets,
    fully parallel), then the standard-SQL NTILE formula is applied as
    integer arithmetic against the broadcast customer count n: the
    first n%5 buckets take ceil(n/5) rows, the rest floor(n/5) —
    bit-identical to NTILE(5) on both engines because the composite
    order is total. Three customer-sized range exchanges + three
    custkey joins replace three single-partition sorts."""
    t = load_tables(spark, sf_dir)
    mx = t["orders"].agg(F.max("o_orderdate").alias("mxd"))
    base = (
        t["orders"]
        .crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "mxd")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.expr("CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)")
            )
            .cast("bigint")
            .alias("monetary_cents"),
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.datediff(F.col("mxd"), F.col("last_order")).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    base = base.localCheckpoint(eager=False)  # 3 rank consumers + output
    cnt = base.agg(F.count(F.lit(1)).alias("__nc"))

    # Standard-SQL NTILE(5) from a 1-based global rank among __nc rows:
    # the first __nc%5 buckets hold (__nc div 5)+1 rows, the rest
    # __nc div 5. Integer `div` throughout — no float boundary exists;
    # greatest(..,1) guards the n<5 regime where that branch is never
    # taken anyway.
    _tile = F.expr(
        "CAST(CASE WHEN rank <= (__nc % 5) * (__nc div 5 + 1)"
        "  THEN (rank - 1) div (__nc div 5 + 1) + 1"
        "  ELSE __nc % 5"
        "       + (rank - (__nc % 5) * (__nc div 5 + 1) - 1)"
        "         div greatest(__nc div 5, 1) + 1"
        " END AS INT)"
    )

    def _score(value: Column, out: str) -> DataFrame:
        keyed = base.select(
            "custkey", F.struct(value.alias("v"), F.col("custkey")).alias("__key")
        )
        return (
            ordered.global_row_numbers(keyed, "__key")
            .crossJoin(F.broadcast(cnt))
            .select("custkey", _tile.alias(out))
        )

    out = (
        base.join(_score(F.col("recency_days"), "r_score"), "custkey")
        .join(_score(-F.col("frequency"), "f_score"), "custkey")
        .join(_score(-F.col("monetary_cents"), "m_score"), "custkey")
    )
    return out.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
    )


# ---------------------------------------------------------------------------
# Session-r4c batch: referential-integrity DQ profile, chi-square and
# grid-exact Kendall association stats, stratified sampling, Heaps-law
# vocabulary growth
# ---------------------------------------------------------------------------


@_register(
    "t25_debounce",
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
def t25_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: collapse bursts — an event repeats its
    (user, type) predecessor within an hour, so only the burst's
    FIRST event survives (the lag-gap form of debouncing; the
    keep-first-of-island rule t2's sessionizer generalizes). Reports
    per event type how many events a debounced pipeline would keep
    vs collapse.

    Determinism: event time compares at DECLARED microsecond
    precision on both engines (`ts_ns div 1000` vs `epoch_us`), ties
    broken by event_id — the r4 rule that killed the t2/t8
    driver-red class.

    Scale shape: one lag window partitioned by (user, type) —
    parallel in users — plus a 5-group map-combined aggregate."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        us.asc(), F.col("event_id").asc()
    )
    o = ev.select(
        "event_type", us.alias("ts_us"), F.lag(us).over(w).alias("prev_us")
    )
    fresh = F.col("prev_us").isNull() | (
        F.col("ts_us") - F.col("prev_us") >= 3_600_000_000
    )
    return o.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(fresh, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(~fresh, 1).otherwise(0))
        .cast("bigint")
        .alias("n_collapsed"),
    )


@_register(
    "t26_rolling_median",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1
    ),
    contrib AS (
      SELECT d + CAST(i AS INT) * INTERVAL 1 DAY AS anchor, d, cents
      FROM daily, UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS t(i)
    ),
    ranked AS (
      SELECT anchor, cents,
             ROW_NUMBER() OVER (PARTITION BY anchor
                                ORDER BY cents ASC, d ASC) AS rn,
             COUNT(*) OVER (PARTITION BY anchor) AS n7
      FROM contrib
    ),
    med AS (
      SELECT anchor, cents AS med_cents FROM ranked WHERE rn = 4 AND n7 = 7
    )
    SELECT strftime(daily.d, '%Y-%m-%d') AS day,
           ROUND(cents / 100.0, 2) AS revenue,
           ROUND(med_cents / 100.0, 2) AS median7
    FROM daily JOIN med ON med.anchor = CAST(daily.d AS TIMESTAMP)
    """,
)
def t26_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day ROLLING MEDIAN of daily revenue (full windows only) — the
    robust companion to t16's rolling mean: the median ignores a
    single anomalous day that drags the mean, which is why monitoring
    baselines prefer it. Median of 7 = the 4th-smallest, selected by
    an integer rank (cents asc, day tie-break) — no percentile
    interpolation, so the value is one of the exact input integers on
    both engines.

    Scale shape: t16's calendar BAND JOIN (each day feeds its 7
    anchors, one shuffle by date) + a per-anchor rank window over
    exactly 7 rows (parallel in anchors, never a global window)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(15,2)") * 100).cast("long")
        ).alias("cents")
    )
    contrib = daily.select(
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("i"), "d", "cents"
    ).select(F.date_add(F.col("d"), F.col("i")).alias("anchor"), "d", "cents")
    w = Window.partitionBy("anchor").orderBy(
        F.col("cents").asc(), F.col("d").asc()
    )
    ranked = contrib.select(
        "anchor",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("anchor")).alias("n7"),
    )
    med = ranked.filter((F.col("rn") == 4) & (F.col("n7") == 7)).select(
        "anchor", F.col("cents").alias("med_cents")
    )
    return daily.join(med, daily["d"] == med["anchor"]).select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.col("med_cents") / 100.0, 2).alias("median7"),
    )


@_register(
    "t27_autocorrelation",
    f"""
    WITH{_DAILY_SQL},
    lags AS (SELECT unnest([1, 2, 3, 7]) AS lag),
    pairs AS (
      SELECT l.lag, a.v AS xa, b.v AS xb
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.day_n = a.day_n + l.lag
    ),
    m AS (
      SELECT lag, COUNT(*) AS np, SUM(xa) AS sx, SUM(xb) AS sy,
             SUM(xa * xa) AS sxx, SUM(xb * xb) AS syy, SUM(xa * xb) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, CAST(np AS BIGINT) AS n_pairs,
           CAST(sx AS BIGINT) AS sum_x, CAST(sy AS BIGINT) AS sum_y,
           CASE WHEN np * sxx - sx * sx = 0 OR np * syy - sy * sy = 0 THEN NULL
                ELSE ROUND(CAST(np * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(np * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(np * syy - sy * sy AS DOUBLE))), 6)
           END AS r_autocorr
    FROM m
    """,
)
def t27_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1, 2, 3, 7) of the daily event-count
    series — the seasonality probe behind t14's day-of-week profile
    (lag 7 should dominate if the fixture has weekly structure).
    Missing days are materialized as zeros (t3's grid idiom) so the
    series is contiguous and both engines agree on what "lag" means.

    Determinism: the Pearson terms are the n-scaled INTEGER moment
    cross-sums (np*sxy - sx*sy over exact bigint counts, the x40/
    stats_linreg idiom) carried in DECIMAL(38,0) on the Spark side so
    no product can overflow at any scale; the only float ops are
    sqrt/divide of exact integers — IEEE correctly-rounded, so both
    engines produce bit-identical doubles before the 6dp ROUND.

    Scale shape: one map-combined groupBy(day) (days are tiny —
    365/year no matter how many events), a 1-row span broadcast, and
    a broadcast self-join of the daily series against 4 lag offsets.
    Reference: extends the §2.8 temporal tier (Rmd's date handling);
    the statistic itself is public textbook (Box–Jenkins ACF)."""
    filled = _daily_series(spark, sf_dir).select(
        "day_n", F.col("v").alias("n")
    )
    lags = local_frame(spark, [(1,), (2,), (3,), (7,)], "lag bigint")
    a = filled.select(F.col("day_n").alias("da"), F.col("n").alias("xa"))
    b = filled.select(F.col("day_n").alias("db"), F.col("n").alias("xb"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(F.broadcast(b), F.col("db") == F.col("da") + F.col("lag"))
    )
    dec = "decimal(38,0)"
    m = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast(dec).alias("np"),
        F.sum("xa").cast(dec).alias("sx"),
        F.sum("xb").cast(dec).alias("sy"),
        F.sum(F.col("xa") * F.col("xa")).cast(dec).alias("sxx"),
        F.sum(F.col("xb") * F.col("xb")).cast(dec).alias("syy"),
        F.sum(F.col("xa") * F.col("xb")).cast(dec).alias("sxy"),
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("np").cast("bigint").alias("n_pairs"),
        F.col("sx").cast("bigint").alias("sum_x"),
        F.col("sy").cast("bigint").alias("sum_y"),
        F.expr(
            "CASE WHEN np * sxx - sx * sx = 0 OR np * syy - sy * sy = 0 THEN NULL"
            " ELSE ROUND(CAST(np * sxy - sx * sy AS DOUBLE)"
            " / (sqrt(CAST(np * sxx - sx * sx AS DOUBLE))"
            " * sqrt(CAST(np * syy - sy * sy AS DOUBLE))), 6) END"
        ).alias("r_autocorr"),
    )


@_register(
    "t28_stl_decompose",
    f"""
    WITH{_DAILY_SQL},
    contrib AS (
      SELECT day_n + i AS anchor, v
      FROM daily, UNNEST([-3, -2, -1, 0, 1, 2, 3]) AS t(i)
    ),
    win AS (
      SELECT anchor, SUM(v) AS sum7, COUNT(*) AS n7 FROM contrib GROUP BY anchor
    ),
    det AS (
      SELECT daily.day_n, daily.v,
             CAST(sum7 * 1000000 // 7 AS BIGINT) AS trend_micro,
             CAST(daily.v * 1000000 - sum7 * 1000000 // 7 AS BIGINT) AS det_micro
      FROM daily JOIN win ON win.anchor = daily.day_n
      WHERE n7 = 7
    ),
    seas AS (
      SELECT day_n % 7 AS dow,
             CAST((SUM(det_micro) + 1000000000000 * COUNT(*)) // COUNT(*)
                  - 1000000000000 AS BIGINT) AS seasonal_micro
      FROM det GROUP BY 1
    )
    SELECT det.day_n, CAST(det.v AS BIGINT) AS n_events,
           det.trend_micro, s.seasonal_micro,
           CAST(det.det_micro - s.seasonal_micro AS BIGINT) AS resid_micro
    FROM det JOIN seas s ON s.dow = det.day_n % 7
    """,
)
def t28_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition of the daily event-count
    series: trend = centered 7-day moving average (t16's calendar
    band join — each day contributes to its 7 anchors, one
    groupBy(anchor), never a single-partition global window),
    seasonal = day-of-week mean of the detrended series, residual =
    the rest. The screening input for anomaly tiers that must not
    flag weekly rhythm as outliers.

    Every value is integer micros. The one subtle rule: seasonal
    means can be NEGATIVE, and Spark's `div` truncates toward zero
    while DuckDB's `//` floors — so the mean is computed as
    (sum + 10^12·n) div n - 10^12, keeping the numerator positive
    where truncation and floor agree. Gap days are materialized as
    zeros (t3's grid) so both engines window the same series.

    Scale shape: the daily series is tiny at any corpus size (one row
    per calendar day); all joins after the first groupBy(day) are
    effectively broadcast-scale."""
    daily = _daily_series(spark, sf_dir)
    contrib = daily.select(
        F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("i"), "day_n", "v"
    ).select((F.col("day_n") + F.col("i")).alias("anchor"), "v")
    win = contrib.groupBy("anchor").agg(
        F.sum("v").alias("sum7"), F.count(F.lit(1)).alias("n7")
    )
    det = (
        daily.join(win, daily["day_n"] == win["anchor"])
        .filter(F.col("n7") == 7)
        .select(
            "day_n",
            "v",
            F.expr("CAST(sum7 * 1000000 div 7 AS BIGINT)").alias(
                "trend_micro"
            ),
            F.expr(
                "CAST(v * 1000000 - sum7 * 1000000 div 7 AS BIGINT)"
            ).alias("det_micro"),
        )
    )
    seas = det.groupBy((F.col("day_n") % 7).alias("dow")).agg(
        F.expr(
            "CAST((SUM(det_micro) + 1000000000000 * COUNT(1)) div COUNT(1)"
            " - 1000000000000 AS BIGINT)"
        ).alias("seasonal_micro")
    )
    return (
        det.join(F.broadcast(seas), det["day_n"] % 7 == seas["dow"])
        .select(
            "day_n",
            F.col("v").cast("bigint").alias("n_events"),
            "trend_micro",
            "seasonal_micro",
            (F.col("det_micro") - F.col("seasonal_micro"))
            .cast("bigint")
            .alias("resid_micro"),
        )
    )


@_register(
    "t29_seasonal_anomaly",
    f"""
    WITH {_STL_SQL},
    mom AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(resid_micro AS DECIMAL(38,0))) AS s,
             SUM(CAST(resid_micro AS DECIMAL(38,0))
                 * CAST(resid_micro AS DECIMAL(38,0))) AS ss
      FROM stl
    )
    SELECT day_n, CAST(v AS BIGINT) AS n_events, resid_micro,
           CASE WHEN (CAST(n AS DECIMAL(38,0)) * CAST(resid_micro AS DECIMAL(38,0)) - s)
                     * (CAST(n AS DECIMAL(38,0)) * CAST(resid_micro AS DECIMAL(38,0)) - s)
                     > 4 * (CAST(n AS DECIMAL(38,0)) * ss - s * s)
                THEN 1 ELSE 0 END AS is_anomaly
    FROM stl CROSS JOIN mom
    """,
)
def t29_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly flags: a day is anomalous when its
    t28 residual sits more than 2 sigma from the residual mean — the
    screen that does NOT flag weekly rhythm (t7's plain z-score on the
    raw series would). The 2-sigma test is the EXACT integer
    cross-multiplication (n·r - S)² > 4·(n·SS - S²) in
    DECIMAL(38,0) — no float mean, no float sigma, no sqrt — so both
    engines decide every boundary identically (the x26/x52 integer
    keep-rule idiom applied to a variance test).

    Scale shape: t28's chain (daily series is calendar-bounded) plus
    one 1-row moment broadcast."""
    stl = t28_stl_decompose(spark, sf_dir).select(
        "day_n", F.col("n_events").alias("v"), "resid_micro"
    )
    dec = "decimal(38,0)"
    mom = stl.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("resid_micro").cast(dec)).alias("s"),
        F.sum(
            F.col("resid_micro").cast(dec) * F.col("resid_micro").cast(dec)
        ).alias("ss"),
    )
    return stl.crossJoin(F.broadcast(mom)).select(
        "day_n",
        F.col("v").cast("bigint").alias("n_events"),
        "resid_micro",
        F.expr(
            "CASE WHEN (CAST(n AS DECIMAL(38,0)) * CAST(resid_micro AS DECIMAL(38,0)) - s)"
            " * (CAST(n AS DECIMAL(38,0)) * CAST(resid_micro AS DECIMAL(38,0)) - s)"
            " > 4 * (CAST(n AS DECIMAL(38,0)) * ss - s * s)"
            " THEN 1 ELSE 0 END"
        ).alias("is_anomaly"),
    )


@_register(
    "t30_growth_streaks",
    f"""
    WITH{_DAILY_SQL},
    dirs AS (
      SELECT a.day_n,
             CASE WHEN a.v > b.v THEN 'up'
                  WHEN a.v < b.v THEN 'down'
                  ELSE 'flat' END AS dir
      FROM daily a JOIN daily b ON b.day_n = a.day_n - 1
    ),
    cums AS (
      SELECT day_n, dir,
             SUM(CASE WHEN dir = 'up' THEN 1 ELSE 0 END)
               OVER (ORDER BY day_n) AS cu,
             SUM(CASE WHEN dir = 'down' THEN 1 ELSE 0 END)
               OVER (ORDER BY day_n) AS cd,
             SUM(CASE WHEN dir = 'flat' THEN 1 ELSE 0 END)
               OVER (ORDER BY day_n) AS cf
      FROM dirs
    ),
    isl AS (
      SELECT dir,
             day_n - CASE dir WHEN 'up' THEN cu WHEN 'down' THEN cd
                              ELSE cf END AS grp,
             COUNT(*) AS len
      FROM cums GROUP BY 1, 2
    )
    SELECT dir, CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS INT) AS max_len,
           CAST(SUM(len) AS BIGINT) AS total_days
    FROM isl GROUP BY dir
    """,
)
def t30_growth_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Momentum streaks: maximal runs of consecutive up / down / flat
    days in the daily event-count series (gap days filled as zeros so
    "consecutive" is calendar truth) — the growth-streak KPI behind
    "N days of uninterrupted growth" dashboards, and the island
    pattern (x19/d13) applied to a derived SIGN series instead of raw
    positions.

    Island key without any per-direction window: ONE pass of
    ordered.global_prefix_sums carries three direction indicators;
    a run of consecutive same-direction days has constant
    day_n - own_cum (days are dense after gap fill), so streaks are
    a plain groupBy. The oracle's OVER (ORDER BY day_n) states the
    same cumulation as the semantic spec.

    Scale shape: daily series is calendar-bounded; the prefix-sum
    pass is the range-partitioned primitive, never a single-partition
    window."""
    daily = _daily_series(spark, sf_dir)
    prev = daily.select(
        (F.col("day_n") + 1).alias("day_n"), F.col("v").alias("pv")
    )
    dirs = daily.join(prev, "day_n").select(
        "day_n",
        F.when(F.col("v") > F.col("pv"), "up")
        .when(F.col("v") < F.col("pv"), "down")
        .otherwise("flat")
        .alias("dir"),
        (F.col("v") > F.col("pv")).cast("bigint").alias("iu"),
        (F.col("v") < F.col("pv")).cast("bigint").alias("idn"),
        (F.col("v") == F.col("pv")).cast("bigint").alias("ifl"),
    )
    cums = ordered.global_prefix_sums(dirs, "day_n", ["iu", "idn", "ifl"])
    isl = (
        cums.select(
            "dir",
            (
                F.col("day_n")
                - F.when(F.col("dir") == "up", F.col("cum_iu"))
                .when(F.col("dir") == "down", F.col("cum_idn"))
                .otherwise(F.col("cum_ifl"))
            ).alias("grp"),
        )
        .groupBy("dir", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return isl.groupBy("dir").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("len").cast("int").alias("max_len"),
        F.sum("len").cast("bigint").alias("total_days"),
    )


@_register(
    "t31_forecast_error",
    f"""
    WITH{_DAILY_SQL},
    f AS (
      SELECT a.day_n, a.v AS actual, n1.v AS naive1, n7.v AS naive7
      FROM daily a
      JOIN daily n1 ON n1.day_n = a.day_n - 1
      JOIN daily n7 ON n7.day_n = a.day_n - 7
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(actual) AS sa,
             SUM(abs(actual - naive1)) AS ae1,
             SUM(abs(actual - naive7)) AS ae7,
             SUM((actual - naive1) * (actual - naive1)) AS se1,
             SUM((actual - naive7) * (actual - naive7)) AS se7
      FROM f
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(ae1 * 1000000 // sa AS BIGINT) AS wape1_micro,
           CAST(ae7 * 1000000 // sa AS BIGINT) AS wape7_micro,
           CAST(se1 AS BIGINT) AS sse1,
           CAST(se7 AS BIGINT) AS sse7,
           CASE WHEN ae1 = 0 THEN NULL
                ELSE CAST(ae7 * 1000000 // ae1 AS BIGINT) END
             AS mase7v1_micro
    FROM m
    """,
)
def t31_forecast_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation: WAPE, SSE, and the MASE-style
    ratio for the two standard naive forecasts of the daily event
    count — yesterday (naive-1) and same-day-last-week (naive-7). If
    wape7 < wape1 the series has real weekly structure (t27's lag-7
    signal expressed as a forecasting win). All metrics are exact
    integer rationals in micros — |errors| and squares of bigint
    counts, floor-div ratios; no float anywhere.

    Scale shape: the daily series is calendar-bounded; the two lag
    joins are self equi-joins on day offsets; one 1-row reduction."""
    daily = _daily_series(spark, sf_dir)
    n1 = daily.select((F.col("day_n") + 1).alias("day_n"), F.col("v").alias("naive1"))
    n7 = daily.select((F.col("day_n") + 7).alias("day_n"), F.col("v").alias("naive7"))
    f = (
        daily.withColumnRenamed("v", "actual")
        .join(n1, "day_n")
        .join(n7, "day_n")
    )
    m = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("actual").alias("sa"),
        F.sum(F.abs(F.col("actual") - F.col("naive1"))).alias("ae1"),
        F.sum(F.abs(F.col("actual") - F.col("naive7"))).alias("ae7"),
        F.sum(
            (F.col("actual") - F.col("naive1"))
            * (F.col("actual") - F.col("naive1"))
        ).alias("se1"),
        F.sum(
            (F.col("actual") - F.col("naive7"))
            * (F.col("actual") - F.col("naive7"))
        ).alias("se7"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr("CAST(ae1 * 1000000 div sa AS BIGINT)").alias("wape1_micro"),
        F.expr("CAST(ae7 * 1000000 div sa AS BIGINT)").alias("wape7_micro"),
        F.col("se1").cast("bigint").alias("sse1"),
        F.col("se7").cast("bigint").alias("sse7"),
        F.expr(
            "CASE WHEN ae1 = 0 THEN NULL"
            " ELSE CAST(ae7 * 1000000 div ae1 AS BIGINT) END"
        ).alias("mase7v1_micro"),
    )


@_register(
    "t32_dau_wau_stickiness",
    """
    WITH d AS (
      SELECT user_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_n
      FROM events
    ),
    dau AS (
      SELECT day_n, COUNT(DISTINCT user_id) AS dau FROM d GROUP BY day_n
    ),
    wau AS (
      SELECT day_n // 7 AS week_n, COUNT(DISTINCT user_id) AS wau
      FROM d GROUP BY 1
    ),
    wk AS (
      SELECT day_n // 7 AS week_n, SUM(dau) AS sum_dau, COUNT(*) AS n_days
      FROM dau GROUP BY 1
    )
    SELECT w.week_n, CAST(wk.n_days AS INT) AS n_days,
           CAST(wk.sum_dau AS BIGINT) AS sum_dau,
           CAST(w.wau AS BIGINT) AS wau,
           CAST(wk.sum_dau * 1000000 // (wk.n_days * w.wau) AS BIGINT)
             AS stickiness_micro
    FROM wau w JOIN wk ON wk.week_n = w.week_n
    """,
)
def t32_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU engagement ("stickiness"): per calendar week, the sum
    of daily distinct users, the weekly distinct users, and mean-DAU /
    WAU as an integer micro ratio — the product-analytics staple that
    needs distinct aggregation at two granularities. Declared-us day
    numbers (the t2/t8 precision contract).

    Scale shape: two exact countDistinct aggregates — each shuffles
    (day, user) / (week, user) once with map-side partial dedup; the
    week rollup of daily distincts is a tiny second aggregate. At
    100 TB the exact distincts would ride the a12 deterministic-HLL
    register table instead; the exact form is the oracle-checkable
    contract."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.expr("ts_ns div 1000 div 86400000000").alias("day_n")
    )
    dau = d.groupBy("day_n").agg(F.countDistinct("user_id").alias("dau"))
    wau = d.groupBy(F.expr("day_n div 7").alias("week_n")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    wk = dau.groupBy(F.expr("day_n div 7").alias("week_n")).agg(
        F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days")
    )
    return wau.join(wk, "week_n").select(
        "week_n",
        F.col("n_days").cast("int").alias("n_days"),
        F.col("sum_dau").cast("bigint").alias("sum_dau"),
        F.col("wau").cast("bigint").alias("wau"),
        F.expr(
            "CAST(sum_dau * 1000000 div (n_days * wau) AS BIGINT)"
        ).alias("stickiness_micro"),
    )


@_register(
    "t33_seasonality_strength",
    f"""
    WITH {_STL_SQL},
    m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(det_micro AS DECIMAL(38,0))) AS sd,
             SUM(CAST(det_micro AS DECIMAL(38,0))
                 * CAST(det_micro AS DECIMAL(38,0))) AS ssd,
             SUM(CAST(resid_micro AS DECIMAL(38,0))) AS sr,
             SUM(CAST(resid_micro AS DECIMAL(38,0))
                 * CAST(resid_micro AS DECIMAL(38,0))) AS ssr
      FROM (SELECT stl.resid_micro + stl.seasonal_micro AS det_micro,
                   stl.resid_micro
            FROM stl) z
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(1000000 - CAST((n * ssr - sr * sr) * 1000000 AS HUGEINT)
                          // CAST(n * ssd - sd * sd AS HUGEINT) AS BIGINT)
             AS seasonal_strength_micro
    FROM m
    """,
)
def t33_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength (Hyndman's FS = 1 − Var(残)/Var(detrended)
    measure, integer form): how much of the de-trended daily variance
    the day-of-week component explains — near 1e6 means the weekly
    rhythm dominates, near 0 means t28's seasonal row is noise. The
    variance ratio is the exact integer cross-multiplication
    (n·SSr − Sr²)·1e6 // (n·SSd − Sd²) in DECIMAL(38,0) — the t29
    idiom with both variances from one aggregate; note
    detrended = resid + seasonal by construction, so the input
    re-derives from t28's own outputs.

    Scale shape: t28's calendar-bounded chain plus one 1-row moment
    reduction."""
    stl = t28_stl_decompose(spark, sf_dir).select(
        (F.col("resid_micro") + F.col("seasonal_micro")).alias("det_micro"),
        "resid_micro",
    )
    dec = "decimal(38,0)"
    m = stl.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("det_micro").cast(dec)).alias("sd"),
        F.sum(F.col("det_micro").cast(dec) * F.col("det_micro").cast(dec)).alias(
            "ssd"
        ),
        F.sum(F.col("resid_micro").cast(dec)).alias("sr"),
        F.sum(
            F.col("resid_micro").cast(dec) * F.col("resid_micro").cast(dec)
        ).alias("ssr"),
    )
    # Spark's decimal `div` at ~1e28 magnitudes goes through a
    # precision-capped decimal divide that can ROUND the quotient up
    # before truncating (observed: one micro above DuckDB's exact
    # HUGEINT floor). Compute the tentative quotient, then correct it
    # to the true floor with one multiply-back comparison in exact
    # decimal — q is at most 1 off in either direction.
    q = m.select(
        "n",
        F.expr("(n * ssr - sr * sr) * 1000000").alias("x"),
        F.expr("(n * ssd - sd * sd)").alias("d"),
    ).select(
        "n", "x", "d", F.expr("x div d").alias("q0")
    ).select(
        "n",
        F.expr(
            "CASE WHEN q0 * d > x THEN q0 - 1"
            " WHEN (q0 + 1) * d <= x THEN q0 + 1"
            " ELSE q0 END"
        ).alias("q"),
    )
    return q.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.expr("CAST(1000000 - q AS BIGINT)").alias(
            "seasonal_strength_micro"
        ),
    )


@_register(
    "t34_sliding_distinct",
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
    -- deliberately the NAIVE definition (window re-scan + true
    -- COUNT DISTINCT): the engine's bitmap-merge plan must equal it
    SELECT s.anchor AS window_end_day,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS distinct_users_7d
    FROM sel s JOIN d ON d.day_n BETWEEN s.anchor - 6 AND s.anchor
    GROUP BY s.anchor
    """,
)
def t34_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 7-day sliding distinct users — the query that is easy to
    ask and brutal to run naively (distinct is not subtractable, so a
    naive plan re-scans 7 days per window). Solution: per-day user
    BITMAPS (a15's 32-bit words) are MERGEABLE — each day's words
    contribute to the 7 windows they influence (t16's calendar band
    join), bit_or merges them per window, popcount finishes. One
    shuffle of day-level words fanned 7x, never a re-scan; windows
    with fewer than 7 days of history are dropped on both sides.

    At 100 TB the day-level bitmap table is the materialized
    intermediate (tiny: id_range/32 longs per day), and ANY window
    length reuses it — the exact-arithmetic counterpart of merging
    HLL registers (a12), with no estimation error."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.expr("ts_ns div 1000 div 86400000000").alias("day_n")
    ).distinct()
    w = d.groupBy("day_n", F.expr("user_id div 32").alias("word")).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))"
        ).alias("bits")
    )
    span = d.agg(F.min("day_n").alias("d0"), F.max("day_n").alias("d1"))
    contrib = w.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day_n",
        "word",
        "bits",
    ).select((F.col("day_n") + F.col("i")).alias("anchor"), "word", "bits")
    merged = contrib.groupBy("anchor", "word").agg(
        F.expr("bit_or(bits)").alias("bits")
    )
    out = merged.groupBy("anchor").agg(
        F.sum(F.bit_count("bits")).alias("wau7")
    )
    return (
        out.crossJoin(F.broadcast(span))
        .filter(
            (F.col("anchor") >= F.col("d0") + 6)
            & (F.col("anchor") <= F.col("d1"))
        )
        .select(
            F.col("anchor").alias("window_end_day"),
            F.col("wau7").cast("bigint").alias("distinct_users_7d"),
        )
    )


@_register(
    "t35_retention_downsample",
    """
    WITH d AS (
      SELECT event_id,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_n
      FROM events
    ),
    mx AS (SELECT MAX(day_n) AS dmax FROM d),
    aged AS (
      SELECT event_id, day_n,
             least((dmax - day_n) // 7, 6) AS age_weeks
      FROM d CROSS JOIN mx
    ),
    kept AS (
      SELECT age_weeks, day_n, event_id,
             CASE WHEN CAST('0x' || substring(
                    md5(CAST(event_id AS VARCHAR)), 1, 8) AS BIGINT)
                  % (1 << CAST(age_weeks AS INT)) = 0
                  THEN 1 ELSE 0 END AS keep
      FROM aged
    )
    SELECT CAST(age_weeks AS INT) AS age_weeks,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(1000000 // (1 << CAST(age_weeks AS INT)) AS BIGINT)
             AS target_rate_micro,
           CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT)
             AS actual_rate_micro
    FROM kept GROUP BY age_weeks
    """,
)
def t35_retention_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Age-tiered retention downsampling: keep ALL of the newest
    week, 1/2 of the next, 1/4 of the one after ... 1/64 beyond —
    the halving retention ladder observability stores apply to event
    history. Membership is the deterministic hash keep rule
    (md5(event_id) mod 2^age == 0 — a pure function of the id, the
    x29/sample_* idiom), so the sample is reproducible across
    engines, reruns, and re-shards, and an event's fate only ever
    changes when it ages into the next tier. Reports kept vs target
    rate per tier — the audit that shows the hash rule tracking its
    nominal rate.

    Scale shape: a 1-row max-day broadcast, a narrow per-row keep
    rule (pushable to the scan), one <= 7-group aggregate."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_id", F.expr("ts_ns div 1000 div 86400000000").alias("day_n")
    )
    mx = d.agg(F.max("day_n").alias("dmax"))
    aged = d.crossJoin(F.broadcast(mx)).select(
        "event_id",
        F.least(
            F.expr("(dmax - day_n) div 7"), F.lit(6)
        ).alias("age_weeks"),
    )
    tier = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(age_weeks AS INT))")
    kept = aged.select(
        "age_weeks",
        F.when(hex_to_long(md5_hex(F.col("event_id")), 8) % tier == 0, 1)
        .otherwise(0)
        .cast("bigint")
        .alias("keep"),
    )
    return kept.groupBy("age_weeks").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        F.expr(
            "CAST(1000000 div (CAST(1 AS BIGINT) << CAST(age_weeks AS INT))"
            " AS BIGINT)"
        ).alias("target_rate_micro"),
        F.expr("CAST(SUM(keep) * 1000000 div COUNT(1) AS BIGINT)").alias(
            "actual_rate_micro"
        ),
    ).select(
        F.col("age_weeks").cast("int").alias("age_weeks"),
        "n_events",
        "n_kept",
        "target_rate_micro",
        "actual_rate_micro",
    )


@_register(
    "t36_peak_detection",
    f"""
    WITH{_DAILY_SQL},
    peaks AS (
      SELECT c.day_n, c.v,
             c.v - greatest(l.v, r.v) AS prominence
      FROM daily c
      JOIN daily l ON l.day_n = c.day_n - 1
      JOIN daily r ON r.day_n = c.day_n + 1
      WHERE c.v > l.v AND c.v > r.v
    )
    SELECT day_n, CAST(v AS BIGINT) AS n_events,
           CAST(prominence AS BIGINT) AS prominence
    FROM peaks
    ORDER BY prominence DESC, day_n ASC
    LIMIT 10
    """,
)
def t36_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection on the daily series: strict local maxima (both
    calendar neighbors lower — gap days count as zero, so isolated
    spikes rank correctly) with integer prominence v − max(neighbors),
    top-10 by prominence — the spike-triage list an on-call dashboard
    shows next to t29's seasonally-adjusted anomalies (t29 flags
    deviation from rhythm; this ranks raw spikes).

    Scale shape: two day-offset self equi-joins on the
    calendar-bounded series + TakeOrderedAndProject."""
    daily = _daily_series(spark, sf_dir)
    left = daily.select(
        (F.col("day_n") + 1).alias("day_n"), F.col("v").alias("lv")
    )
    right = daily.select(
        (F.col("day_n") - 1).alias("day_n"), F.col("v").alias("rv")
    )
    return (
        daily.join(left, "day_n")
        .join(right, "day_n")
        .filter((F.col("v") > F.col("lv")) & (F.col("v") > F.col("rv")))
        .select(
            "day_n",
            F.col("v").cast("bigint").alias("n_events"),
            (F.col("v") - F.greatest("lv", "rv"))
            .cast("bigint")
            .alias("prominence"),
        )
        .orderBy(F.col("prominence").desc(), F.col("day_n").asc())
        .limit(10)
    )


@_register(
    "t37_dow_hour_heatmap",
    """
    WITH e AS (
      SELECT epoch_us(ts) // 86400000000 % 7 AS dow,
             epoch_us(ts) % 86400000000 // 3600000000 AS hod,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    tot AS (SELECT COUNT(*) AS n FROM e)
    SELECT CAST(dow AS INT) AS dow, CAST(hod AS INT) AS hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS value_cents,
           (SELECT CAST(COUNT(*) * 1000000 // MAX(t.n) AS BIGINT)
            FROM e e2 CROSS JOIN tot t
            WHERE e2.dow = e.dow AND e2.hod = e.hod) AS share_micro
    FROM e GROUP BY dow, hod
    """,
)
def t37_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap (<= 168 cells with
    counts, exact cents volume, and integer-micro share of total) —
    the capacity-planning grid that t14's day profile and t1's hourly
    counts each show one axis of. Times are pure integer arithmetic
    on declared-microsecond epochs (day-number mod 7 and
    microsecond-of-day floor-div — no calendar/timezone functions on
    either engine).

    Scale shape: one map-combined <= 168-group aggregate + a 1-row
    total broadcast."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.expr("ts_ns div 1000 div 86400000000 % 7").alias("dow"),
        F.expr("ts_ns div 1000 % 86400000000 div 3600000000").alias("hod"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    tot = e.agg(F.count(F.lit(1)).alias("n"))
    return (
        e.groupBy("dow", "hod")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("cents").cast("bigint").alias("value_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("dow").cast("int").alias("dow"),
            F.col("hod").cast("int").alias("hour_of_day"),
            "n_events",
            "value_cents",
            F.expr("CAST(n_events * 1000000 div n AS BIGINT)").alias(
                "share_micro"
            ),
        )
    )


@_register(
    "t38_watermark_planner",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             epoch_us(ts) + (event_id * 2654435761) % 4294967296 % 300000000
               AS arr
      FROM events
    ),
    w AS (
      SELECT us,
             MAX(us) OVER (PARTITION BY user_id ORDER BY arr ASC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS mx
      FROM e
    ),
    l AS (SELECT greatest(COALESCE(mx - us, 0), 0) AS late FROM w),
    g AS (SELECT unnest([10, 30, 60, 120, 300]) AS wsec)
    SELECT CAST(g.wsec AS INT) AS watermark_s,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN l.late > g.wsec * 1000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN l.late > g.wsec * 1000000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS drop_micro
    FROM g CROSS JOIN l GROUP BY g.wsec
    """,
)
def t38_watermark_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay planning for the streaming surface: how many
    events would each candidate ``withWatermark`` delay (10/30/60/120/
    300 s) DROP as too-late? Lateness is measured against the running
    max event-time of each key's ARRIVAL stream — arrival order is a
    deterministic simulated network delay (0-300 s, the x24-style
    integer hash of event_id) on top of event time, since the fixture
    stream arrives perfectly ordered. The planner output is the
    state-size-vs-completeness trade the stream_* operators' watermark
    is chosen from: pick the smallest delay whose drop rate is
    acceptable (drop_micro is exact integer millionths).

    Determinism: integer microsecond epochs (declared-us, never engine
    timestamp arithmetic), an integer hash delay, and a per-key window
    ordered (arr, event_id) — no ties, no floats.

    Scale: one window pass PARTITIONED BY user (parallel per key,
    never a global sort — mirroring per-key streaming state), then a
    5-row broadcast grid join and a map-combined 5-group aggregate."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        F.expr("ts_ns div 1000").alias("us"),
    ).withColumn(
        "arr",
        F.col("us") + knuth_hash32(F.col("event_id")) % 300000000,
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy(F.col("arr").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = F.greatest(
        F.coalesce(F.max("us").over(win) - F.col("us"), F.lit(0)), F.lit(0)
    )
    lat = e.select(late.alias("late"))
    grid = local_frame(
        spark, [(10,), (30,), (60,), (120,), (300,)], "wsec int"
    )
    dropped = F.sum(
        F.when(F.col("late") > F.col("wsec").cast("bigint") * 1000000, 1)
        .otherwise(0)
    )
    return (
        lat.crossJoin(F.broadcast(grid))
        .groupBy("wsec")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dropped.cast("bigint").alias("n_dropped"),
        )
        .select(
            F.col("wsec").cast("int").alias("watermark_s"),
            "n_events",
            "n_dropped",
            F.expr(
                "CAST(n_dropped * 1000000 div n_events AS BIGINT)"
            ).alias("drop_micro"),
        )
    )


@_register(
    "t39_session_gap_planner",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ),
    l AS (
      SELECT us - LAG(us) OVER (PARTITION BY user_id
                                ORDER BY us ASC, event_id ASC) AS gap
      FROM e
    ),
    u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM events),
    g AS (SELECT unnest([60, 300, 900, 1800, 3600]) AS gsec)
    SELECT CAST(g.gsec AS INT) AS gap_s,
           u.nu AS n_users,
           CAST(SUM(CASE WHEN l.gap > CAST(g.gsec AS BIGINT) * 1000000
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_boundaries,
           CAST(u.nu + SUM(CASE WHEN l.gap > CAST(g.gsec AS BIGINT) * 1000000
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM g CROSS JOIN l CROSS JOIN u
    GROUP BY g.gsec, u.nu
    """,
)
def t39_session_gap_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-gap planning for t2's sessionizer: how many sessions
    does each candidate inactivity gap (1/5/15/30/60 min) produce?
    Per user, the inter-event gap distribution is computed once (one
    LAG window pass partitioned by user, ordered (ts, event_id) so
    ties can't flip engines), then every candidate gap reads its
    session count off the same pass: a session starts at each user's
    first event plus every gap exceeding the candidate. The planner
    output is the elbow curve a pipeline picks its session timeout
    from — the batch twin of choosing
    ``session_window(gap)`` before deploying the stream.

    Determinism: integer microsecond epochs (declared-us), integer
    gap comparisons, no floats anywhere.

    Scale: one per-key window pass (parallel in users, never global),
    a 5-row broadcast grid, and a map-combined 5-group aggregate —
    the gap distribution is never materialized per candidate."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    gaps = e.select((F.col("us") - F.lag("us").over(w)).alias("gap"))
    nu = ev.agg(F.countDistinct("user_id").cast("bigint").alias("nu"))
    grid = local_frame(
        spark, [(60,), (300,), (900,), (1800,), (3600,)], "gsec int"
    )
    over = F.sum(
        F.when(F.col("gap") > F.col("gsec").cast("bigint") * 1000000, 1)
        .otherwise(0)
    ).cast("bigint")
    return (
        gaps.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(nu))
        .groupBy("gsec", "nu")
        .agg(over.alias("n_boundaries"))
        .select(
            F.col("gsec").cast("int").alias("gap_s"),
            F.col("nu").alias("n_users"),
            "n_boundaries",
            (F.col("nu") + F.col("n_boundaries"))
            .cast("bigint")
            .alias("n_sessions"),
        )
    )


@_register(
    "t40_auto_gap_sessionize",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events
    ),
    l AS (
      SELECT user_id, event_id, us,
             us - LAG(us) OVER (PARTITION BY user_id
                                ORDER BY us ASC, event_id ASC) AS gap
      FROM e
    ),
    u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM events),
    g AS (SELECT unnest([60, 300, 900, 1800, 3600]) AS gsec),
    cand AS (
      SELECT g.gsec,
             CAST(SUM(CASE WHEN l.gap > CAST(g.gsec AS BIGINT) * 1000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM g CROSS JOIN l GROUP BY g.gsec
    ),
    fl AS (SELECT nb AS nb_f FROM cand WHERE gsec = 3600),
    chosen AS (
      SELECT MIN(cand.gsec) AS gap_s
      FROM cand CROSS JOIN fl CROSS JOIN u
      WHERE (u.nu + cand.nb) * 10 <= (u.nu + fl.nb_f) * 11
    ),
    flags AS (
      SELECT l.user_id, l.event_id, l.us,
             CASE WHEN l.gap IS NULL
                    OR l.gap > CAST(c.gap_s AS BIGINT) * 1000000
                  THEN 1 ELSE 0 END AS is_start
      FROM l CROSS JOIN chosen c
    ),
    sid AS (
      SELECT user_id,
             SUM(is_start) OVER (PARTITION BY user_id
                                 ORDER BY us ASC, event_id ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS s
      FROM flags
    ),
    sess AS (
      SELECT user_id, s, COUNT(*) AS len FROM sid GROUP BY user_id, s
    )
    SELECT CAST(c.gap_s AS INT) AS gap_s,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(sess.len) AS BIGINT) AS n_events,
           CAST(MAX(sess.len) AS BIGINT) AS max_session_events,
           CAST(SUM(sess.len) * 1000 // COUNT(*) AS BIGINT)
             AS avg_session_events_milli
    FROM sess CROSS JOIN chosen c GROUP BY c.gap_s
    """,
)
def t40_auto_gap_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-TUNING sessionization: the inactivity gap is chosen FROM
    THE DATA inside the same lazy plan — t39's planner table is
    computed, the smallest candidate gap already within 10% of the
    largest candidate's session count is selected (the
    diminishing-returns elbow, as the exact integer test
    (nu+nb_g)*10 <= (nu+nb_3600)*11 — always satisfiable at the
    largest candidate, so no fallback branch), and the events
    are sessionized with that gap — planner and executor fused, no
    ``collect()`` round-trip to the driver between them (the
    data-dependent parameter is a 1-row broadcast, exactly like the
    classify.py threshold pattern but without even the 1-row
    collect). Output is the session audit under the auto-chosen gap:
    count, total events, longest session, average length in exact
    milli-events.

    Determinism: t39's integer gap machinery + an integer budget rule
    + a (us, event_id)-ordered running sum for session ids — no
    floats, no ties.

    Scale: two per-user window passes (LAG for gaps, running SUM for
    session ids — both parallel in users), one 5-group candidate
    aggregate, a 1-row chosen-gap broadcast, and a map-combined
    session-length aggregate. The planner costs one extra 5-group
    aggregate on top of the sessionize the pipeline was running
    anyway."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_id", F.expr("ts_ns div 1000").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    l = e.withColumn("gap", F.col("us") - F.lag("us").over(w))
    nu = ev.agg(F.countDistinct("user_id").cast("bigint").alias("nu"))
    grid = local_frame(
        spark, [(60,), (300,), (900,), (1800,), (3600,)], "gsec int"
    )
    cand = (
        l.crossJoin(F.broadcast(grid))
        .groupBy("gsec")
        .agg(
            F.sum(
                F.when(
                    F.col("gap") > F.col("gsec").cast("bigint") * 1000000, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("nb")
        )
    )
    floor_nb = cand.filter(F.col("gsec") == 3600).select(
        F.col("nb").alias("nb_f")
    )
    chosen = (
        cand.crossJoin(F.broadcast(floor_nb))
        .crossJoin(F.broadcast(nu))
        .filter(
            (F.col("nu") + F.col("nb")) * 10
            <= (F.col("nu") + F.col("nb_f")) * 11
        )
        .agg(F.min("gsec").alias("gap_s"))
    )
    flags = l.crossJoin(F.broadcast(chosen)).select(
        "user_id",
        "event_id",
        "us",
        "gap_s",
        F.when(
            F.col("gap").isNull()
            | (F.col("gap") > F.col("gap_s").cast("bigint") * 1000000),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )
    wsum = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sid = flags.select(
        "user_id", "gap_s", F.sum("is_start").over(wsum).alias("s")
    )
    sess = sid.groupBy("user_id", "gap_s", "s").agg(
        F.count(F.lit(1)).alias("len")
    )
    return (
        sess.groupBy("gap_s")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("len").cast("bigint").alias("n_events"),
            F.max("len").cast("bigint").alias("max_session_events"),
        )
        .select(
            F.col("gap_s").cast("int").alias("gap_s"),
            "n_sessions",
            "n_events",
            "max_session_events",
            F.expr(
                "CAST(n_events * 1000 div n_sessions AS BIGINT)"
            ).alias("avg_session_events_milli"),
        )
    )


@_register(
    "t41_cohort_ltv",
    """
    WITH o AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               // 7 AS wk,
             CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    c AS (SELECT o_custkey, MIN(wk) AS c0 FROM o GROUP BY o_custkey),
    j AS (
      SELECT c.c0 AS cohort_week, o.wk - c.c0 AS week_offset,
             o.o_custkey, o.cents
      FROM o JOIN c ON c.o_custkey = o.o_custkey
      WHERE o.wk - c.c0 < 8
    ),
    g AS (
      SELECT cohort_week, week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_active,
             CAST(SUM(cents) AS BIGINT) AS revenue_cents
      FROM j GROUP BY cohort_week, week_offset
    )
    SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
           CAST(week_offset AS BIGINT) AS week_offset,
           n_orders, n_active, revenue_cents,
           CAST(SUM(revenue_cents) OVER (PARTITION BY cohort_week
             ORDER BY week_offset ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_revenue_cents
    FROM g
    """,
)
def t41_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    week, revenue accumulated across their first 8 weekly offsets —
    the money sibling of t6's retention counts (t6 answers "do they
    come back", this answers "what are they worth by week N", the
    payback-period table subscription/acquisition decisions read).
    Exact integer money (decimal cents) and integer epoch-week
    arithmetic on both engines; the cumulative sum runs per cohort
    over <= 8 offset rows, never over raw orders.

    Scale: two map-combined aggregates (first-order week, per-cell
    rollup) + an equi-join on customer + a cohort-partitioned window
    over the tiny aggregated grid."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr(
            "CAST(datediff(o_orderdate, DATE '1970-01-01') div 7 AS BIGINT)"
        ).alias("wk"),
        (F.col("o_totalprice").cast("decimal(15,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    c = o.groupBy("o_custkey").agg(F.min("wk").alias("c0"))
    j = (
        o.join(c, "o_custkey")
        .select(
            F.col("c0").alias("cohort_week"),
            (F.col("wk") - F.col("c0")).alias("week_offset"),
            "o_custkey",
            "cents",
        )
        .filter(F.col("week_offset") < 8)
    )
    g = j.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct("o_custkey").cast("bigint").alias("n_active"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy(F.col("week_offset").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        F.col("cohort_week").cast("bigint").alias("cohort_week"),
        F.col("week_offset").cast("bigint").alias("week_offset"),
        "n_orders",
        "n_active",
        "revenue_cents",
        F.sum("revenue_cents").over(w).cast("bigint").alias(
            "cum_revenue_cents"
        ),
    )


@_register(
    "t42_outage_intervals",
    """
    WITH e AS (
      SELECT event_type, event_id, epoch_us(ts) AS us FROM events
    ),
    l AS (
      SELECT event_type, us,
             LAG(us) OVER (PARTITION BY event_type
                           ORDER BY us ASC, event_id ASC) AS prev_us
      FROM e
    )
    SELECT event_type,
           CAST(prev_us AS BIGINT) AS start_us,
           CAST(us AS BIGINT) AS end_us,
           CAST(us - prev_us AS BIGINT) AS gap_us
    FROM l WHERE us - prev_us > 7200000000
    """,
)
def t42_outage_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outage detection — the inverse of sessionization: within each
    event type's stream, any silence longer than 2 hours is an outage
    interval (start, end, duration in exact integer microseconds),
    the incident list an on-call reads next to dq8's current
    staleness (dq8 answers "how far behind are we NOW"; this answers
    "when did the feed go quiet, and for how long, historically").

    Determinism: declared-us epochs, (ts, event_id)-ordered LAG — no
    ties, no floats. Scale: one window pass partitioned by type
    (parallel per stream, never global) + an integer filter."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type", "event_id", F.expr("ts_ns div 1000").alias("us")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("us").asc(), F.col("event_id").asc()
    )
    l = e.withColumn("prev_us", F.lag("us").over(w))
    return (
        l.filter(F.col("us") - F.col("prev_us") > 7200000000)
        .select(
            "event_type",
            F.col("prev_us").cast("bigint").alias("start_us"),
            F.col("us").cast("bigint").alias("end_us"),
            (F.col("us") - F.col("prev_us")).cast("bigint").alias("gap_us"),
        )
    )


@_register(
    "t43_markov_transitions",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events
    ),
    s AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY t ASC, event_id ASC) AS prev
      FROM e
    ),
    c AS (
      SELECT prev, event_type AS next, COUNT(*) AS n
      FROM s WHERE prev IS NOT NULL GROUP BY prev, next
    ),
    tot AS (SELECT prev, SUM(n) AS tn FROM c GROUP BY prev)
    SELECT c.prev, c.next, CAST(c.n AS BIGINT) AS n_transitions,
           CAST(c.n * 1000000 // t.tn AS BIGINT) AS p_micro
    FROM c JOIN tot t ON t.prev = c.prev
    """,
)
def t43_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next event type | previous) as exact integer
    millionths — the behavioral model a sessionized clickstream
    analysis fits (and the generative twin of t5's fixed funnel: the
    funnel checks ONE path, this measures every edge).

    Determinism: per-user order is (event-time micros, event_id) so
    simultaneous events have a total order; probabilities are floor
    millionths of count ratios.

    Scale: one user-partitioned LAG (events already shuffle by user
    for every t-family query), one |types|^2-bounded count aggregate,
    and a broadcast-sized row-total join — nothing global."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("t"),
        "event_id",
    ).withColumn(
        "prev",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy(
                F.col("t").asc(), F.col("event_id").asc()
            )
        ),
    )
    c = (
        s.filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = c.groupBy("prev").agg(F.sum("n").alias("tn"))
    return c.join(F.broadcast(tot), "prev").select(
        "prev",
        "next",
        F.col("n").cast("bigint").alias("n_transitions"),
        F.expr("CAST(n * 1000000 div tn AS BIGINT)").alias("p_micro"),
    )


@_register(
    "t44_top_event_paths",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events
    ),
    s AS (
      SELECT user_id, event_type,
             LAG(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY t ASC, event_id ASC) AS p1,
             LAG(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY t ASC, event_id ASC) AS p2
      FROM e
    ),
    paths AS (
      SELECT p2 || '>' || p1 || '>' || event_type AS path
      FROM s WHERE p2 IS NOT NULL
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM paths GROUP BY path
    ORDER BY n_paths DESC, path ASC LIMIT 10
    """,
)
def t44_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type TRIGRAM paths across all user streams — the
    path-mining complement to t43's first-order transition matrix
    (a Markov chain can't see that view>click>purchase beats
    view>view>purchase; path n-grams can). One user-partitioned
    window carrying two LAGs, a |types|^3-bounded count, top-10 with
    path tiebreak.

    Scale: same contract as t43 — the only corpus-sized work is the
    per-user window the t-family already shuffles for."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("t").asc(), F.col("event_id").asc()
    )
    s = ev.select(
        "user_id",
        "event_type",
        F.expr("ts_ns div 1000").alias("t"),
        "event_id",
    ).select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    return (
        s.filter(F.col("p2").isNotNull())
        .select(
            F.concat_ws(">", "p2", "p1", "event_type").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), F.col("path").asc())
        .limit(10)
    )


@_register(
    "t46_wow_change",
    """
    WITH wk AS (
      SELECT n.n_name,
             CAST(epoch_us(CAST(o.o_orderdate AS TIMESTAMP)) // 604800000000
               AS BIGINT) AS week_n,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
               AS rev_cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, week_n
    )
    SELECT n_name, week_n, rev_cents,
           LAG(rev_cents) OVER (PARTITION BY n_name ORDER BY week_n)
             AS prev_cents,
           CASE WHEN LAG(rev_cents) OVER (PARTITION BY n_name
                                          ORDER BY week_n) > 0
                THEN CAST((rev_cents - LAG(rev_cents) OVER (
                       PARTITION BY n_name ORDER BY week_n)) * 10000
                     // LAG(rev_cents) OVER (PARTITION BY n_name
                                             ORDER BY week_n) AS BIGINT)
                ELSE NULL END AS wow_bps
    FROM wk
    """,
)
def t46_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue change per nation in signed BASIS
    POINTS — the growth-rate table every BI rollup ships: weekly
    decimal-cents revenue (nation dim via broadcast join), one LAG
    per nation series, integer floor division for the rate (NULL for
    the first week / zero base). Complements t16's trend split and
    t41's cohort curves with the plain period-over-period read.

    Scale: corpus-sized work is one map-combined weekly aggregate;
    the LAG runs over the |nations| x |weeks| bounded grid."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    wk = (
        orders.join(
            F.broadcast(
                cust.select("c_custkey", "c_nationkey")
            ).hint("broadcast"),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            F.expr(
                "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                " div 604800000000 AS BIGINT)"
            ).alias("week_n"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)") * 100)
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("n_name").orderBy("week_n")
    prev = F.lag("rev_cents").over(w)
    return wk.select(
        "n_name",
        "week_n",
        "rev_cents",
        prev.alias("prev_cents"),
        F.when(
            prev > 0,
            F.expr(
                "CAST((rev_cents - lag(rev_cents) OVER (PARTITION BY n_name"
                " ORDER BY week_n)) * 10000 div lag(rev_cents) OVER"
                " (PARTITION BY n_name ORDER BY week_n) AS BIGINT)"
            ),
        ).alias("wow_bps"),
    )


@_register(
    "t47_retention_matrix",
    """
    WITH o AS (
      SELECT o_custkey,
             CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 604800000000
               AS BIGINT) AS wk
      FROM orders
    ),
    first_wk AS (SELECT o_custkey, MIN(wk) AS cohort_wk FROM o GROUP BY 1),
    cohort_sz AS (
      SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_users
      FROM first_wk GROUP BY 1
    ),
    act AS (
      SELECT DISTINCT f.cohort_wk, o.wk - f.cohort_wk AS age_wk, o.o_custkey
      FROM o JOIN first_wk f ON f.o_custkey = o.o_custkey
    ),
    ret AS (
      SELECT cohort_wk, age_wk, CAST(COUNT(*) AS BIGINT) AS active_users
      FROM act WHERE age_wk BETWEEN 0 AND 8 GROUP BY 1, 2
    )
    SELECT r.cohort_wk, r.age_wk, c.cohort_users, r.active_users,
           CAST(r.active_users * 10000 // c.cohort_users AS BIGINT)
             AS retention_bps
    FROM ret r JOIN cohort_sz c ON c.cohort_wk = r.cohort_wk
    WHERE r.cohort_wk < (SELECT MIN(cohort_wk) + 12 FROM first_wk)
    """,
)
def t47_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the (cohort week x weeks-since-first-
    order) triangle every growth dashboard opens with: customers
    cohorted by FIRST order week, each later order marks them active
    at that age, cell = distinct retained customers and retention in
    basis points of the cohort. Ages capped at 8 weeks and cohorts at
    the first 12 weeks so the matrix is a bounded report, not a
    data-sized pivot; t41's LTV curve is the revenue view of the same
    triangle, this is the headcount view.

    Scale: first-order week is one map-combined min; activity is an
    equi-join on the customer key + a DISTINCT bounded by
    customers x 9 ages; every aggregate map-side combines. No window
    functions at all."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_custkey",
        F.expr(
            "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            " div 604800000000 AS BIGINT)"
        ).alias("wk"),
    )
    first_wk = o.groupBy("o_custkey").agg(F.min("wk").alias("cohort_wk"))
    cohort_sz = first_wk.groupBy("cohort_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_users")
    )
    act = (
        o.join(first_wk, "o_custkey")
        .select("cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("age_wk"),
                "o_custkey")
        .filter((F.col("age_wk") >= 0) & (F.col("age_wk") <= 8))
        .distinct()
    )
    ret = act.groupBy("cohort_wk", "age_wk").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_users")
    )
    lim = first_wk.agg((F.min("cohort_wk") + 12).alias("__lim"))
    return (
        ret.join(cohort_sz, "cohort_wk")
        .crossJoin(F.broadcast(lim))
        .filter(F.col("cohort_wk") < F.col("__lim"))
        .select(
            "cohort_wk",
            "age_wk",
            "cohort_users",
            "active_users",
            F.expr(
                "CAST(active_users * 10000 div cohort_users AS BIGINT)"
            ).alias("retention_bps"),
        )
    )


@_register(
    "t48_time_to_convert",
    """
    WITH base AS (
      SELECT user_id, event_type, epoch_us(ts) AS t FROM events
    ),
    v AS (
      SELECT user_id, MIN(t) AS vt FROM base
      WHERE event_type = 'view' GROUP BY user_id
    ),
    p AS (
      SELECT b.user_id, MIN(b.t) AS pt
      FROM base b JOIN v ON v.user_id = b.user_id
      WHERE b.event_type = 'purchase' AND b.t > v.vt
      GROUP BY b.user_id
    ),
    lat AS (
      SELECT (p.pt - v.vt) // 60000000 AS lat_min
      FROM p JOIN v ON v.user_id = p.user_id
    ),
    g AS (SELECT lat_min, COUNT(*) AS cnt FROM lat GROUP BY lat_min),
    cum AS (
      SELECT lat_min,
             SUM(cnt) OVER (ORDER BY lat_min) AS cum,
             SUM(cnt) OVER () AS n
      FROM g
    ),
    d AS (SELECT unnest(range(1, 10)) AS decile)
    SELECT CAST(d.decile AS BIGINT) AS decile,
           CAST((SELECT MAX(n) FROM cum) AS BIGINT) AS n_converted,
           CAST(MIN(CASE WHEN c.cum >= (d.decile * c.n + 9) // 10
                         THEN c.lat_min END) AS BIGINT) AS latency_min
    FROM d CROSS JOIN cum c
    GROUP BY d.decile
    """,
)
def t48_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: minutes from a user's FIRST view
    to their first purchase AFTER it (t5's conversion rule), reported
    as exact positional deciles — the product metric behind 'how long
    does conversion take', not just whether it happens. Quantiles come
    from a VALUE-GROUPED cumulative distribution (per-minute counts,
    cumulative window over the bounded distinct-minute domain, first
    value reaching ceil(d*n/10)) — the a18 read-out on exact values,
    so there is NO user-sized global sort anywhere.

    Scale: two per-user min-aggregates + one key equi-join (t5's
    chain); the CDF window runs over distinct latency MINUTES, a
    domain bounded by the retention window, not by users."""
    ev = load_table(spark, sf_dir, "events")
    us = F.expr("ts_ns div 1000")
    base = ev.select("user_id", "event_type", us.alias("t"))
    v = (
        base.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("vt"))
    )
    p = (
        base.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("t") > F.col("vt"))
        .groupBy("user_id")
        .agg(F.min("t").alias("pt"), F.min("vt").alias("vt0"))
    )
    lat = p.select(
        F.expr("(pt - vt0) div 60000000").alias("lat_min")
    )
    g = lat.groupBy("lat_min").agg(F.count(F.lit(1)).alias("cnt"))
    wc = Window.orderBy("lat_min").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "lat_min",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy("lat_min").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    ).localCheckpoint(eager=False)
    d = spark.range(1, 10).select(F.col("id").alias("decile"))
    return (
        F.broadcast(d)
        .crossJoin(cum)
        .groupBy("decile")
        .agg(
            F.max("n").cast("bigint").alias("n_converted"),
            F.min(
                F.expr(
                    "CASE WHEN cum >= (decile * n + 9) div 10 THEN lat_min END"
                )
            )
            .cast("bigint")
            .alias("latency_min"),
        )
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n_converted",
            "latency_min",
        )
    )


@_register(
    "t50_twap",
    """
    WITH e AS (
      SELECT user_id,
             epoch_us(ts) AS tsu,
             epoch_us(ts) // 86400000000 AS day_n,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
               AS v_micro
      FROM events
    ),
    seg AS (
      SELECT user_id, day_n, v_micro,
             (COALESCE(LEAD(tsu) OVER (PARTITION BY user_id, day_n
                                       ORDER BY tsu ASC),
                       (day_n + 1) * 86400000000) - tsu) // 1000000
               AS dur_s
      FROM e
    ),
    t AS (
      SELECT user_id, day_n,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(dur_s) AS BIGINT) AS held_s,
             CAST(SUM(v_micro * dur_s) // SUM(dur_s) AS BIGINT)
               AS twap_micro
      FROM seg
      WHERE dur_s > 0
      GROUP BY user_id, day_n
    )
    SELECT user_id, day_n, n_events, held_s, twap_micro
    FROM t
    ORDER BY twap_micro DESC, user_id ASC, day_n ASC LIMIT 15
    """,
)
def t50_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price/value (TWAP) per (user, day) over
    IRREGULARLY-spaced events: each observation holds until the next
    one (piecewise-constant), the last until midnight, so the
    average is the exact integral sum(v * dur) / sum(dur) — the
    metric finance desks and meter-reading pipelines want where a
    plain AVG over-weights bursts. Event time is the declared int64
    epoch-micros contract (Spark ts_ns div 1000 / oracle epoch_us);
    values go through DECIMAL(18,6) micros, durations are integer
    seconds, and the TWAP is one floor division — no float
    accumulates. Zero-duration segments (same-microsecond ticks)
    drop from both numerator and denominator identically.

    Scale shape: one lead() window PARTITIONED by (user, day) —
    parallel in the key, never global — then a map-combined
    aggregate; top-15 via TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr("ts_ns div 1000").alias("tsu"),
        F.expr("(ts_ns div 1000) div 86400000000").alias("day_n"),
        F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)").alias(
            "v_micro"
        ),
    )
    w = Window.partitionBy("user_id", "day_n").orderBy(F.col("tsu").asc())
    seg = e.select(
        "user_id",
        "day_n",
        "v_micro",
        # integer div downstream, NOT float division: double a/1e6 can
        # land one ulp under an exact integer and truncate to k-1
        (
            F.coalesce(
                F.lead("tsu").over(w),
                (F.col("day_n") + 1) * F.lit(86400000000),
            )
            - F.col("tsu")
        ).alias("__gap_us"),
    ).select(
        "user_id",
        "day_n",
        "v_micro",
        F.expr("CAST(__gap_us div 1000000 AS BIGINT)").alias("dur_s"),
    )
    t = (
        seg.filter(F.col("dur_s") > 0)
        .groupBy("user_id", "day_n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("dur_s").cast("bigint").alias("held_s"),
            F.expr(
                "CAST(SUM(v_micro * dur_s) div SUM(dur_s) AS BIGINT)"
            ).alias("twap_micro"),
        )
    )
    return t.orderBy(
        F.col("twap_micro").desc(), F.col("user_id").asc(), F.col("day_n").asc()
    ).limit(15)


@_register(
    "t51_event_regex_match",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS t, event_id,
             substring(event_type, 1, 1) AS ch,
             CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      FROM events
    ),
    seq AS (
      SELECT user_id, day,
             string_agg(ch, '' ORDER BY t ASC, event_id ASC) AS seq
      FROM e GROUP BY 1, 2
    ),
    pats AS (
      SELECT * FROM (VALUES
        ('funnel', 'v+c+p'),
        ('error_retry', 'e[vc]*e'),
        ('signup_to_purchase', 's.*p')
      ) AS t(pattern_name, pattern)
    ),
    m AS (
      SELECT p.pattern_name, p.pattern,
             CAST(len(regexp_extract_all(s.seq, p.pattern)) AS BIGINT) AS nm
      FROM seq s CROSS JOIN pats p
    )
    SELECT pattern_name, pattern,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN nm > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched_sessions,
           CAST(SUM(nm) AS BIGINT) AS total_matches,
           CAST(SUM(CASE WHEN nm > 0 THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS matched_bps
    FROM m GROUP BY 1, 2
    ORDER BY pattern_name
    """,
)
def t51_event_regex_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern detection over per-(user, day) event streams
    -- the MATCH_RECOGNIZE workload (SQL:2016 row-pattern matching,
    which neither engine ships) re-expressed as encode-then-regex:
    each user-day's events are ordered by (epoch-micros, event_id)
    and encoded to one char per event (the five event types have
    distinct initials), and three patterns run against the encoded
    string -- strict-adjacency funnel v+c+p (views then carts then a
    purchase with nothing in between, which t5's loose funnel can't
    require), error_retry e[vc]*e (an error, retry activity, another
    error), and signup_to_purchase s.*p. Non-overlapping match counts
    agree across Java regex and RE2 for these leftmost-greedy
    patterns; per pattern: sessions scanned/matched, total matches,
    matched share in bps.

    Scale shape: ONE (user, day) groupBy builds the encoded strings
    (bounded per-group size -- a day of one user's events); the
    pattern dimension is a 3-row literal broadcast; no per-user
    global window, no driver loop. At 100 TB the encode-aggregate is
    the same shuffle t2's sessionization already pays."""
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id",
        F.expr("CAST(ts_ns div 1000 div 86400000000 AS BIGINT)").alias("day"),
        F.struct(
            F.expr("ts_ns div 1000").alias("t"),
            F.col("event_id").alias("event_id"),
            F.expr("substring(event_type, 1, 1)").alias("ch"),
        ).alias("s"),
    )
    seq = rows.groupBy("user_id", "day").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list("s")), lambda s: s["ch"]
            ),
        ).alias("seq")
    )
    # r13 (VERDICT r12 item 7, the j2/x2 literal-compile sweep): the
    # pattern dimension is a plan-time Python literal, so instead of a
    # 3-row broadcast crossJoin (3x row blowup AND regexp_count over a
    # pattern COLUMN — Spark caches the compiled regex only for
    # foldable patterns, so the column form re-compiles per row) the
    # three counts run as literal-pattern columns in ONE narrow pass
    # over the sessions, aggregated once and unpivoted with a literal
    # stack. Same rows, same schema; oracle green at every SF.
    pats = [
        ("funnel", "v+c+p"),
        ("error_retry", "e[vc]*e"),
        ("signup_to_purchase", "s.*p"),
    ]
    counted = seq.select(
        *[
            F.expr(f"CAST(regexp_count(seq, '{p}') AS BIGINT)").alias(
                f"__nm{i}"
            )
            for i, (_, p) in enumerate(pats)
        ]
    )
    agg = counted.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        *[
            x
            for i in range(len(pats))
            for x in (
                F.sum(F.when(F.col(f"__nm{i}") > 0, 1).otherwise(0))
                .cast("bigint")
                .alias(f"__m{i}"),
                F.sum(f"__nm{i}").cast("bigint").alias(f"__t{i}"),
            )
        ],
    )
    stack = ", ".join(
        f"'{name}', '{pat}', __m{i}, __t{i}"
        for i, (name, pat) in enumerate(pats)
    )
    # a global agg emits one row even over no sessions, where the
    # oracle's GROUP BY emits none: drop it before the unpivot
    return (
        agg.filter(F.col("__n") > 0)
        .selectExpr(
            "__n",
            f"stack({len(pats)}, {stack})"
            " AS (pattern_name, pattern, n_matched_sessions, total_matches)",
        )
        .select(
            "pattern_name",
            "pattern",
            F.col("__n").alias("n_sessions"),
            "n_matched_sessions",
            "total_matches",
            F.expr(
                "CAST(n_matched_sessions * 10000 div __n AS BIGINT)"
            ).alias("matched_bps"),
        )
        .orderBy("pattern_name")
    )


@_register(
    "t53_business_day_latency",
    """
    WITH pw AS (
      SELECT * FROM (VALUES
        (0, 0), (1, 1), (2, 2), (3, 2), (4, 2), (5, 3), (6, 4)
      ) AS t(pos, pfx)
    ),
    li AS (
      SELECT o.o_orderpriority AS pri,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o.o_orderdate AS DATE)) AS BIGINT) AS d1,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d2
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    biz AS (
      SELECT li.pri, li.d2 - li.d1 AS cal_days,
             (li.d2 // 7 * 5 + p2.pfx) - (li.d1 // 7 * 5 + p1.pfx)
               AS biz_days
      FROM li
      JOIN pw p1 ON p1.pos = li.d1 % 7
      JOIN pw p2 ON p2.pos = li.d2 % 7
    )
    SELECT pri,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(cal_days) * 1000 // COUNT(*) AS BIGINT)
             AS avg_cal_days_milli,
           CAST(SUM(biz_days) * 1000 // COUNT(*) AS BIGINT)
             AS avg_biz_days_milli,
           CAST(MAX(biz_days) AS BIGINT) AS max_biz_days,
           CAST(SUM(cal_days) * 10000 // greatest(SUM(biz_days), 1)
                AS BIGINT) AS cal_over_biz_bps
    FROM biz
    GROUP BY pri
    ORDER BY pri
    """,
)
def t53_business_day_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day (Mon-Fri) order-to-ship latency per priority --
    the SLA arithmetic BI tools hide behind NETWORKDAYS(), computed
    CLOSED-FORM so no calendar/locale function crosses the engine
    boundary: with epoch day 0 a Thursday, B(e) = (e div 7)*5 +
    P[e mod 7] counts business days before epoch-day e, where P is a
    7-row literal prefix table over the Thu-start week
    (Thu,Fri,Sat,Sun,Mon,Tue,Wed -> 0,1,2,2,2,3,4); the business-day
    distance is then B(d2) - B(d1), exact integers end to end (the
    ret8/a23 precomputed-table discipline applied to calendars).
    cal_over_biz_bps reads ~14000 (7/5 with weekend-edge effects) --
    the sanity column. vs t13: same join, calendar days; this is the
    contractual-clock version.

    Scale shape: the orders-lineitem equi-join is the q-family's
    standard fact shuffle; the prefix table is a 7-row broadcast
    joined twice; the rollup is a 5-group map-combined aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("pri"),
        F.expr(
            "CAST(datediff(to_date(o_orderdate), DATE'1970-01-01') AS BIGINT)"
        ).alias("d1"),
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(
            "CAST(datediff(to_date(l_shipdate), DATE'1970-01-01') AS BIGINT)"
        ).alias("d2"),
    )
    pw = local_frame(
        spark, [(0, 0), (1, 1), (2, 2), (3, 2), (4, 2), (5, 3), (6, 4)],
        "pos: bigint, pfx: bigint",
    )
    li = o.join(l, o["o_orderkey"] == l["l_orderkey"])
    biz = (
        li.join(
            F.broadcast(pw.select(F.col("pos").alias("p1pos"), F.col("pfx").alias("pfx1"))),
            F.expr("d1 % 7") == F.col("p1pos"),
        )
        .join(
            F.broadcast(pw.select(F.col("pos").alias("p2pos"), F.col("pfx").alias("pfx2"))),
            F.expr("d2 % 7") == F.col("p2pos"),
        )
        .select(
            "pri",
            (F.col("d2") - F.col("d1")).alias("cal_days"),
            F.expr(
                "(d2 div 7 * 5 + pfx2) - (d1 div 7 * 5 + pfx1)"
            ).alias("biz_days"),
        )
    )
    return (
        biz.groupBy("pri")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.expr("CAST(SUM(cal_days) * 1000 div COUNT(1) AS BIGINT)").alias(
                "avg_cal_days_milli"
            ),
            F.expr("CAST(SUM(biz_days) * 1000 div COUNT(1) AS BIGINT)").alias(
                "avg_biz_days_milli"
            ),
            F.max("biz_days").cast("bigint").alias("max_biz_days"),
            F.expr(
                "CAST(SUM(cal_days) * 10000"
                " div greatest(SUM(biz_days), 1) AS BIGINT)"
            ).alias("cal_over_biz_bps"),
        )
        .orderBy("pri")
    )
