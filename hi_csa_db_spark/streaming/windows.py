"""Structured Streaming operators over the events table.

The reference is batch-only; its ingestion tier (iterative crawl +
cache guards, SURVEY.md section 2.9) generalizes to Structured
Streaming: watermarked event-time windows, session windows, and
dedup-within-watermark — all built-in operators, no custom state store.

Local/test runs read the events parquet with Trigger.AvailableNow and a
memory sink, which exercises the real streaming planner (stateful agg,
watermark tracking) while staying deterministic. At cluster scale the
same plans run on Kafka/file sources with checkpointed state.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import local_frame
from hi_csa_db_spark.functions.hashing import (
    hll_bucket_rem,
    hll_estimate,
    hll_harmonic_sum,
    hll_rank,
)


@contextmanager
def pinned_state_partitions(spark: SparkSession) -> Iterator[None]:
    """Scope ``spark.sql.shuffle.partitions`` to the session's
    defaultParallelism while a streaming query STARTS.

    Every stateful streaming operator instantiates one state-store
    instance per shuffle partition per micro-batch, and the partition
    count is read once at query start (then recorded in the
    checkpoint). In a vanilla session the 200-partition default means
    hundreds of store instances for a few thousand rows of state —
    measured 59.9 s vs 8.4 s at sf0.1 for stream_incremental_dedup
    (VERDICT r11 item 4) and 28.7 s for stream_stream_join's four
    per-partition join stores at the sf0.01 sweep. r12 extends the
    same scoped pin to the whole stream_* family: the set/restore
    brackets only the start call, so nothing leaks session-wide.

    Safe for results: every stateful aggregate in this tier is
    algebraically merge-order-insensitive (counts, decimal sums,
    struct min/max, bit_or, per-bucket max/count), per-key custom
    state sees all its key's rows regardless of partition count, and
    the one append-mode query (the interval join) emits a
    deterministic row SET. The oracle hash is order-insensitive.
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vintage-proof streaming read of the events fixture.

    Structured Streaming file sources require an explicit schema; instead
    of hardcoding one vintage (the r2 failure mode: a LongType ts schema
    silently reinterpreted TIMESTAMP(MICROS) micros as nanos → 1970-era
    windows), take the schema from a batch footer read of the SAME file
    and run it through the SAME ``catalog.normalize_events`` the batch
    tier uses. One vintage contract, both engines; the footer read is
    metadata-only (no data scan)."""
    from hi_csa_db_spark.catalog import (
        _ensure_session_confs,
        _parquet_with_memoized_schema,
        normalize_events,
    )

    _ensure_session_confs(spark)
    schema = _parquet_with_memoized_schema(
        spark, f"{sf_dir}/events.parquet"
    ).schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events(raw)


def _run_to_memory(windowed: DataFrame, name: str, output_mode: str) -> DataFrame:
    with pinned_state_partitions(windowed.sparkSession):
        q = (
            windowed.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return windowed.sparkSession.table(name)


def hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts (1h windows, 2h watermark)."""
    ev = read_events_stream(spark, sf_dir)
    windowed = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n_events",
        )
    )
    return _run_to_memory(windowed, "stream_hourly_counts", "complete")


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 12h inactivity gap (the
    streaming twin of the batch t2_sessionize query)."""
    ev = read_events_stream(spark, sf_dir)
    windowed = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "12 hours"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    return _run_to_memory(windowed, "stream_session_windows", "complete")


def debounce_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming debounce — the streaming twin of batch t25: a burst
    (same user+type events each within an hour of the previous) is
    exactly ONE session_window('1 hour') group, so kept-events ==
    session count and collapsed == events - sessions. The lag-chain
    rule and session merging provably coincide: both break where the
    gap to the predecessor is >= the threshold (Spark sessions span
    [start, last+gap), timestamps compare at microsecond precision on
    both engines).

    The per-(user, type, session) counts come from the watermarked
    streaming aggregation; the 5-row per-type rollup is a batch
    aggregate over the memory sink (the report step a foreachBatch
    sink would run)."""
    ev = read_events_stream(spark, sf_dir)
    windowed = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "1 hour"), "user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n_in_burst"))
        .select("user_id", "event_type", "n_in_burst")
    )
    sink = _run_to_memory(windowed, "stream_debounce", "complete")
    return sink.groupBy("event_type").agg(
        F.sum("n_in_burst").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        (F.sum("n_in_burst") - F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_collapsed"),
    )


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound:
    each purchase matched to the same user's clicks in the preceding
    hour. Both sides are watermarked so the join state store can evict
    — the unbounded-state hazard of stream-stream joins is bounded by
    (watermark + interval)."""
    ev = read_events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts < p_ts"
        ),
        "inner",
    ).select("p_id", "c_id", "p_user")
    # The interval join keeps FOUR state stores per shuffle partition
    # (left/right keyed + keyToNumValues each side), so the vanilla
    # 200-partition default is 800 store instances per micro-batch —
    # the most partition-sensitive query in the tier.
    with pinned_state_partitions(spark):
        q = (
            joined.writeStream.format("memory")
            .queryName("stream_pc_join")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("stream_pc_join")


def sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregation (2h windows every 1h):
    each event lands in two overlapping windows — the hopping-window
    shape the reference's batch tier can't express."""
    ev = read_events_stream(spark, sf_dir)
    windowed = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL sum (not float) so the value is exact and
            # identical to the batch/DuckDB twin regardless of
            # accumulation order — value-oracled since r4
            F.sum(F.col("value").cast("decimal(28,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_to_memory(windowed, "stream_sliding_counts", "complete")


def dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) within the watermark."""
    ev = read_events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    counted = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return _run_to_memory(counted, "stream_dedup_counts", "complete")


def incremental_dedup_stream(
    spark: SparkSession,
    sf_dir: str,
    split_frac: float = 0.8,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Streaming corpus-ingest dedup: NEW documents arrive as a stream,
    get minhash-signed per row (dedup.minhash_signature_col — a narrow
    array expression, no stateful aggregation), band-exploded, and
    probed against the STATIC band index of the existing corpus via a
    stream-static equi-join. Emits per-new-doc duplicate-candidate
    counts.

    This is d9's incremental contract on the streaming planner: cost
    per micro-batch is |delta| x bucket-mates, never corpus x corpus;
    the corpus index is the maintained table (txlog format at fleet
    scale) and only its matching buckets are touched. The split of the
    documents fixture into corpus (first split_frac by doc_id) and
    stream (the rest) makes the run deterministic and batch-checkable
    (tests/test_streaming_multimodal.py asserts equivalence with the
    batch probe)."""
    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.operators import dedup

    rows = num_hashes // bands
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # metadata-scale action: fixes the split point
    split_id = int(n_docs * split_frac)
    corpus = docs.filter(F.col("doc_id") < split_id)
    corpus_bands = dedup.band_keys(
        dedup.minhash_signatures(dedup.shingles(corpus), num_hashes=num_hashes),
        bands=bands,
        rows=rows,
    )
    schema = docs.schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # STAGED projections for the per-row signer (r12): shingle array,
    # then (h1,h2) pairs, then the 16 array_min folds. Fused into one
    # expression (the old minhash_signature_col call) the interpreted
    # HOF evaluator re-ran the whole shingle/tokenize pipeline once
    # per hash index — ~16 regex tokenizations per streamed row.
    # Values identical (minhash_signature_col composes these same
    # three stages).
    new_bands = dedup.band_keys(
        raw.filter(F.col("doc_id") >= split_id)
        .select("doc_id", dedup.shingle_array().alias("__shs"))
        .select("doc_id", dedup.hash_pairs_col(F.col("__shs")).alias("__hp"))
        .select(
            "doc_id",
            dedup.minhash_from_hash_pairs(
                F.col("__hp"), num_hashes=num_hashes
            ).alias("sig"),
        ),
        bands=bands,
        rows=rows,
    )
    pairs = (
        new_bands.alias("a")
        .join(
            corpus_bands.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .select(
            F.col("a.doc_id").alias("id_new"), F.col("b.doc_id").alias("id_old")
        )
        .dropDuplicates(["id_new", "id_old"])
        .groupBy("id_new")
        .agg(F.count(F.lit(1)).alias("n_dup_candidates"))
    )
    # State-store partition pinning (VERDICT r11 item 4, the original
    # site): now provided family-wide by _run_to_memory's
    # pinned_state_partitions scope — see that context manager's
    # docstring for the measured numbers.
    return _run_to_memory(pairs, "stream_incremental_dedup", "complete")


def ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC downsampling UNDER THE STREAMING PLANNER: the same
    one-pass struct-argmin/argmax aggregation as the batch
    t17_ohlc_daily, inside a watermarked 1-day tumbling window —
    proving the custom deterministic-tie-break aggregate composes with
    stateful streaming aggregation (struct min/max are just aggregates
    to the state store). Complete-mode memory sink, AvailableNow."""
    ev = read_events_stream(spark, sf_dir)
    v = F.col("value").cast("decimal(18,2)")
    windowed = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(
                F.struct(
                    F.expr("ts_ns div 1000").alias("ts_us"),
                    F.col("event_id"),
                    v.alias("v"),
                )
            ).alias("__o"),
            F.max(
                F.struct(
                    F.expr("ts_ns div 1000").alias("ts_us"),
                    F.col("event_id"),
                    v.alias("v"),
                )
            ).alias("__c"),
            F.max(v).alias("__high"),
            F.min(v).alias("__low"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "n",
            F.round(F.col("__o.v").cast("double"), 2).alias("open"),
            F.round(F.col("__high").cast("double"), 2).alias("high"),
            F.round(F.col("__low").cast("double"), 2).alias("low"),
            F.round(F.col("__c.v").cast("double"), 2).alias("close"),
        )
    )
    return _run_to_memory(windowed, "stream_ohlc_daily", "complete")


def sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of batch t34: EXACT 7-day sliding distinct
    users maintained as a STREAMING day-level bitmap aggregate
    (groupBy(day, word) + bit_or through the state store, complete
    mode), then the calendar band join + OR-merge + popcount epilogue
    over the materialized bitmap table. The deep property: bit_or is
    COMMUTATIVE, ASSOCIATIVE, AND IDEMPOTENT, so the result is
    independent of micro-batch boundaries AND of duplicate replays —
    this aggregate does not even need exactly-once delivery to be
    exact (stronger than counts, which idempotency does not cover)."""
    ev = read_events_stream(spark, sf_dir)
    day = F.expr("ts_ns div 1000 div 86400000000")
    w = (
        ev.select(day.alias("day_n"), "user_id")
        .groupBy("day_n", F.expr("user_id div 32").alias("word"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT)))"
            ).alias("bits")
        )
    )
    words = _run_to_memory(w, "stream_sliding_distinct_words", "complete")
    span = words.agg(F.min("day_n").alias("d0"), F.max("day_n").alias("d1"))
    contrib = words.select(
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


def quantile_sketch_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable quantile sketch: a18's log-histogram
    bucketing (two leading decimal digits x magnitude of the floored
    micro value — pure integer/string arithmetic, no libm) maintained
    as a watermarked DAILY streaming aggregation. The memory sink
    holds the sketch STATE (per day/type/bucket counts); the p50/p99
    read-out is a batch derivation over that state table — the
    production shape: streams maintain mergeable states, readers
    extract quantiles, and late data within the watermark merges into
    the same buckets for free because bucket counts are algebraic
    (u24's contract under streaming semantics)."""
    from pyspark.sql import Window

    ev = read_events_stream(spark, sf_dir)
    m = F.floor(F.col("value") * 1000000).cast("bigint")
    b = ev.select(
        "ts",
        "event_type",
        F.length(m.cast("string")).alias("digits"),
        F.substring(m.cast("string"), 1, 2).cast("bigint").alias("f2"),
    )
    windowed = (
        b.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day"), "event_type", "digits", "f2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "event_type",
            "digits",
            "f2",
            "cnt",
        )
    )
    sink = _run_to_memory(windowed, "stream_quantile_sketch", "complete")
    ub = F.concat(
        (F.col("f2") + 1).cast("string"),
        F.expr("repeat('0', GREATEST(digits - 2, 0))"),
    ).cast("bigint")
    wb = Window.partitionBy("day", "event_type").orderBy("digits", "f2")
    cum = sink.select(
        "day",
        "event_type",
        ub.alias("ub_micro"),
        F.sum("cnt").over(wb).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("day", "event_type")).alias("n"),
    )
    return cum.groupBy("day", "event_type").agg(
        F.max("n").cast("bigint").alias("n_rows"),
        F.min(F.expr("CASE WHEN cum >= (n + 1) div 2 THEN ub_micro END"))
        .cast("bigint")
        .alias("est_p50_micro"),
        F.min(F.expr("CASE WHEN cum >= (99 * n + 99) div 100 THEN ub_micro END"))
        .cast("bigint")
        .alias("est_p99_micro"),
    )


def hll_daily_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users as STREAMING deterministic-HLL register
    maintenance (round 8): the stateful piece is a watermarked
    (day-window, bucket) MAX of md5-derived register ranks — sketch
    state is tiny (<= 256 rows per open day) and merge-on-update is
    just max, exactly the algebra a12 proves portable batch-side.
    The harmonic sum + estimate run as a batch aggregation over the
    sink's register table; the exact per-day distinct rides along
    for calibration."""
    ev = read_events_stream(spark, sf_dir)
    h = ev.select("ts", *hll_bucket_rem(F.col("user_id")))
    regs = (
        h.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day"), "bucket")
        .agg(F.max(hll_rank(F.col("rem"))).alias("m"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "bucket",
            "m",
        )
    )
    sink = _run_to_memory(regs, "stream_hll_daily_regs", "complete")
    s = sink.groupBy("day").agg(hll_harmonic_sum("m").alias("ssum"))
    from hi_csa_db_spark.catalog import normalize_events

    exact = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .transform(normalize_events)
        .select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return (
        s.join(exact, "day")
        .select("day", hll_estimate(F.col("ssum")).alias("hll_daily"), "n_exact")
        .orderBy(F.col("day").asc())
        .limit(40)
    )


def cms_topk_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily heavy hitters through a STREAMING count-min sketch
    (round 9): the stateful piece is the watermarked (day-window,
    hash-row, column) COUNT — CMS state is depth 3 x width 256 per
    open day, mergeable by SUM (the same additive algebra
    a11/a21 prove batch-side), maintained by the real streaming
    planner (watermark + day windows + AvailableNow, memory sink).
    The read-out joins the sink's sketch table against the exact
    top-3 users per day (batch-side calibration) and takes the
    row-wise MIN — the CMS point estimate, always >= exact, with
    the overestimate priced in over_bps."""
    from pyspark.sql import Window

    from hi_csa_db_spark.functions.hashing import mult_hash32

    ev = read_events_stream(spark, sf_dir)
    grid = local_frame(
        spark, [(1, 2654435761), (2, 2246822519), (3, 3266489917)],
        "a_id: bigint, a: bigint",
    )
    h = ev.select("ts", "user_id", F.lit(1).alias("one")).join(
        F.broadcast(grid.withColumn("one", F.lit(1))), "one"
    )
    cms = (
        h.select(
            "ts",
            "a_id",
            (mult_hash32(F.col("user_id"), F.col("a")) % F.lit(256))
            .cast("bigint")
            .alias("cms_col"),
        )
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day"), "a_id", "cms_col")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd").alias("day"),
            "a_id",
            "cms_col",
            "cnt",
        )
    )
    sink = _run_to_memory(cms, "stream_cms_daily_regs", "complete")
    from hi_csa_db_spark.catalog import normalize_events

    exact = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .transform(normalize_events)
        .select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "user_id",
        )
        .groupBy("day", "user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    )
    wd = Window.partitionBy("day").orderBy(
        F.col("exact_cnt").desc(), F.col("user_id").asc()
    )
    top3 = exact.withColumn("rnk", F.row_number().over(wd)).where(
        F.col("rnk") <= 3
    )
    probe = top3.crossJoin(F.broadcast(grid)).select(
        "day",
        "user_id",
        "exact_cnt",
        "rnk",
        "a_id",
        (mult_hash32(F.col("user_id"), F.col("a")) % F.lit(256))
        .cast("bigint")
        .alias("cms_col"),
    )
    est = (
        probe.join(sink, ["day", "a_id", "cms_col"])
        .groupBy("day", "user_id", "exact_cnt", "rnk")
        .agg(F.min("cnt").cast("bigint").alias("cms_est"))
    )
    return (
        est.select(
            "day",
            "user_id",
            "exact_cnt",
            "cms_est",
            F.expr(
                "CAST((cms_est - exact_cnt) * 10000"
                " div greatest(exact_cnt, 1) AS BIGINT)"
            ).alias("over_bps"),
        )
        .orderBy(F.col("day").asc(), F.col("cms_est").desc(), F.col("user_id").asc())
        .limit(90)
    )
