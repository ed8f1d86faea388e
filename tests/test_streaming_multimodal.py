"""Structured Streaming windows + multimodal plumbing."""

import pytest

from hi_csa_db_spark.operators import multimodal
from hi_csa_db_spark.streaming import windows
from pyspark.sql import functions as F


def test_stream_hourly_counts_matches_batch(spark, sf_dir):
    from pyspark.sql import functions as F
    from hi_csa_db_spark.catalog import load_table

    streamed = windows.hourly_counts(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_start"
        ),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("n_events"))
    assert {tuple(r) for r in streamed.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_stream_session_windows_runs(spark, sf_dir):
    out = windows.session_windows(spark, sf_dir)
    assert out.count() > 0


def _media(spark):
    rows = [
        (0, "image", b"imgbytes-0", "image/png", 32, 32, None),
        (1, "image", b"imgbytes-0", "image/png", 32, 32, None),  # exact dup
        (2, "video", b"vid", "video/mp4", 640, 480, 3500),
        (3, "audio", b"aud", "audio/wav", None, None, 2000),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_extract_features_shape(spark):
    out = multimodal.extract_features(_media(spark)).collect()
    assert len(out) == 4
    by_id = {r.media_id: r for r in out}
    assert by_id[0].content_hash == by_id[1].content_hash
    assert len(by_id[0].feature) == 8
    assert by_id[0].n_bytes == len(b"imgbytes-0")


def test_exact_media_dedup(spark):
    out = multimodal.exact_media_dedup(_media(spark))
    rows = {r.media_id: r.dup_count for r in out.collect()}
    assert rows[0] == 2


def test_frame_sample_plan(spark):
    out = multimodal.frame_sample_plan(_media(spark), every_ms=1000).collect()
    assert {r.frame_ts_ms for r in out} == {0, 1000, 2000, 3000}


def test_decode_unsupported_is_explicit():
    # entropy-coded formats stay behind an explicit error (PNG/BMP/PPM
    # decode for real — tests/test_codecs.py)
    from hi_csa_db_spark.functions.codecs import UnsupportedMedia

    with pytest.raises(UnsupportedMedia):
        multimodal.decode_image(b"x")


def test_media_from_documents_schema(spark, sf_dir):
    from hi_csa_db_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(9)
    media = multimodal.media_from_documents(docs)
    assert [f.name for f in media.schema.fields] == [
        f.name for f in multimodal.MEDIA_SCHEMA.fields
    ]
    rows = media.collect()
    assert len(rows) == 9
    kinds = {r.media_id % 3: r.kind for r in rows}
    assert kinds == {0: "image", 1: "audio", 2: "video"}
    r0 = rows[0]
    assert isinstance(r0.payload, (bytes, bytearray)) and len(r0.payload) > 0


def test_stream_stateful_totals_matches_batch(spark, sf_dir):
    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.streaming import stateful

    out = stateful.user_running_totals(spark, sf_dir)
    got = {r.user_id: (r.n_events, round(r.total_value, 6)) for r in out.collect()}
    ev = load_table(spark, sf_dir, "events")
    exp = {
        r.user_id: (r.n, round(r.total, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert {u: v[0] for u, v in got.items()} == {u: v[0] for u, v in exp.items()}
    for u in exp:
        assert abs(got[u][1] - exp[u][1]) < 1e-4


def test_stream_sliding_counts_double_counts(spark, sf_dir):
    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.streaming import windows

    out = windows.sliding_counts(spark, sf_dir)
    total = out.agg(F.sum("n_events")).collect()[0][0]
    n = load_table(spark, sf_dir, "events").count()
    assert total == 2 * n


def test_stream_stream_join_matches_batch(spark, sf_dir):
    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.streaming import windows

    out = windows.stream_stream_interval_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("u"), F.col("ts_ns").alias("p_ns")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("cu"), F.col("ts_ns").alias("c_ns")
    )
    batch = p.join(
        c,
        (F.col("u") == F.col("cu"))
        & (F.col("c_ns") >= F.col("p_ns") - F.lit(3_600_000_000_000))
        & (F.col("c_ns") < F.col("p_ns")),
    )
    got = {(r.p_id, r.c_id) for r in out.collect()}
    exp = {(r.p_id, r.c_id) for r in batch.collect()}
    assert got == exp


def test_real_codec_features_through_spark(spark):
    """The REAL decode kernels (PNG image stats, WAV audio stats) run
    inside the Arrow mapInPandas pass — not just in unit tests: a real
    payload's feature differs from the md5 fake for the same bytes,
    and identical images yield identical features."""
    import numpy as np

    from hi_csa_db_spark.functions import codecs
    from hi_csa_db_spark.operators.multimodal import _fake_feature

    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, size=(9, 7, 3), dtype=np.uint8)
    png = codecs.encode_png(img)
    wav = codecs.encode_wav(
        (np.sin(np.linspace(0, 40, 1600)) * 20000).astype(np.int16), 16000
    )
    media = spark.createDataFrame(
        [(0, "image", bytearray(png)), (1, "image", bytearray(png)),
         (2, "audio", bytearray(wav))],
        "media_id long, kind string, payload binary",
    )
    out = {r.media_id: list(r.feature)
           for r in multimodal.extract_features(media).collect()}
    assert out[0] == out[1]  # deterministic decode
    assert out[0] != [round(v, 10) for v in _fake_feature(png)] \
        and out[0] != _fake_feature(png)  # real kernel, not the fallback
    assert out[2] != _fake_feature(wav)
    assert len(out[2]) == 8


def test_narrow_signature_matches_grouped(spark, sf_dir):
    # dedup.minhash_signature_col (per-row array expr, the streaming
    # path) must produce bit-identical signatures to the groupBy-based
    # minhash_signatures — else the stream probe and the batch index
    # disagree on band keys.
    from pyspark.sql import functions as F

    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents").limit(100)
    grouped = dedup.minhash_signatures(dedup.shingles(docs))
    narrow = docs.select("doc_id", dedup.minhash_signature_col().alias("sig"))
    joined = grouped.alias("g").join(narrow.alias("n"), "doc_id")
    n_diff = joined.filter(F.col("g.sig") != F.col("n.sig")).count()
    assert n_diff == 0
    assert grouped.count() == narrow.filter(F.size("sig") > 0).count()


def test_stream_incremental_dedup_matches_batch_probe(spark, sf_dir):
    from pyspark.sql import functions as F

    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.operators import dedup

    streamed = windows.incremental_dedup_stream(spark, sf_dir)

    docs = load_table(spark, sf_dir, "documents")
    split_id = int(docs.count() * 0.8)
    corpus = docs.filter(F.col("doc_id") < split_id)
    delta = docs.filter(F.col("doc_id") >= split_id)
    pairs = dedup.lsh_candidate_pairs_incremental(
        dedup.minhash_signatures(dedup.shingles(delta)),
        dedup.minhash_signatures(dedup.shingles(corpus)),
    )
    batch = (
        pairs.select(F.col("id_new"), F.col("id_old"))
        .groupBy("id_new")
        .agg(F.count(F.lit(1)).alias("n_dup_candidates"))
    )
    assert {tuple(r) for r in streamed.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_stream_ohlc_matches_batch(spark, sf_dir):
    from hi_csa_db_spark.catalog import load_table

    streamed = windows.ohlc_daily(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    batch = (
        ev.groupBy(F.window("ts", "1 day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.struct(F.col("ts_ns"), F.col("event_id"), v.alias("v"))).alias("__o"),
            F.max(F.struct(F.col("ts_ns"), F.col("event_id"), v.alias("v"))).alias("__c"),
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
    assert {tuple(r) for r in streamed.collect()} == {
        tuple(r) for r in batch.collect()
    }


def test_stream_dq_gate_matches_batch(spark, sf_dir):
    # the foreachBatch-accumulated totals must equal a single batch
    # check_rows pass over the same rows (sums are batch-invariant)
    from pyspark.sql import functions as F

    from hi_csa_db_spark.catalog import load_table
    from hi_csa_db_spark.operators import expectations as ex
    from hi_csa_db_spark.streaming.dq import dq_gate_report

    streamed = {
        r["rule"]: (r["n_checked"], r["n_violations"])
        for r in dq_gate_report(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        r["rule"]: (r["n_checked"], r["n_violations"])
        for r in ex.check_rows(
            ev,
            [
                ex.not_null("user_id"),
                ex.in_range("value", 0, 1000000),
                ex.accepted_values(
                    "event_type",
                    ["click", "view", "purchase", "signup", "error"],
                ),
            ],
        ).collect()
    }
    assert streamed == batch
    assert all(v[0] > 0 for v in streamed.values())


def _spy_stream_start(spark, monkeypatch, seen):
    """Record spark.sql.shuffle.partitions at DataStreamWriter.start()
    time — the moment the streaming planner reads the conf and records
    it in the checkpoint as the state-store partition count."""
    from pyspark.sql.streaming import readwriter as RW

    real_start = RW.DataStreamWriter.start

    def spy(self, *a, **k):
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        return real_start(self, *a, **k)

    monkeypatch.setattr(RW.DataStreamWriter, "start", spy)


@pytest.mark.parametrize(
    "run",
    [
        pytest.param(
            lambda W, spark, sf_dir: W.incremental_dedup_stream(spark, sf_dir),
            id="incremental_dedup",
        ),
        pytest.param(
            lambda W, spark, sf_dir: W.hourly_counts(spark, sf_dir),
            id="run_to_memory_family",
        ),
        pytest.param(
            lambda W, spark, sf_dir: W.stream_stream_interval_join(spark, sf_dir),
            id="interval_join",
        ),
    ],
)
def test_stream_family_pins_state_partitions(spark, sf_dir, monkeypatch, run):
    """Every streaming query must START under the scoped
    pinned_state_partitions context (each stateful operator
    instantiates one state store per shuffle partition per batch; a
    vanilla session's 200 default meant 400 stores/batch ~ 59.9 s at
    sf0.1 for incremental_dedup, VERDICT r11 item 4 — r12 extends the
    pin to the whole stream_* family: stream_stream_join 38.4 -> 13.2 s
    vanilla at sf0.1) and restore the session value after."""
    from hi_csa_db_spark.streaming import windows as W

    seen: list[str] = []
    _spy_stream_start(spark, monkeypatch, seen)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        run(W, spark, sf_dir)
        assert seen == [str(spark.sparkContext.defaultParallelism)]
        # restored to what it was when the query started
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_pinned_state_partitions_restores_on_error(spark):
    """The scope must restore the conf even when the body raises."""
    from hi_csa_db_spark.streaming.windows import pinned_state_partitions

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "123")
    try:
        with pytest.raises(RuntimeError):
            with pinned_state_partitions(spark):
                assert spark.conf.get("spark.sql.shuffle.partitions") == str(
                    spark.sparkContext.defaultParallelism
                )
                raise RuntimeError("boom")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "123"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
