"""Table registry over the driver's parquet fixtures.

Mirrors the reference's "global environment as catalog" lifecycle
(hi-csa-db.Rmd chunk evaluation, SURVEY.md section 3 E1) as explicit
Spark catalog registration: each table becomes a temp view; queries
compose over views, keeping the whole plan lazy for Catalyst.

Normalization performed at ingest (the reference does schema-on-read;
we type at the boundary — SURVEY.md section 1.2):
- ``events.ts`` arrives as INT64 TIMESTAMP(NANOS) parquet, which Spark
  reads as a long (see session.py). We keep the raw nanos as ``ts_ns``
  (deterministic ordering key, no timestamp arithmetic ambiguity) and
  expose ``ts`` truncated to microseconds as a proper timestamp.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from typing import Iterator
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make table loading work in ANY SparkSession, not just the one
    built by ``session.get_spark``.

    The reference's cache reads (hi-csa-db.Rmd:105-131) are
    session-agnostic; ours must be too. Both confs below are runtime
    SQL confs, safe to set after session start:

    - ``nanosAsLong``: the driver fixtures carry INT64 TIMESTAMP(NANOS)
      parquet columns (events.ts) which Spark rejects by default —
      read them as int64 nanos and normalize here.
    - UTC session timezone: timestamp rendering determinism so results
      hash identically against the DuckDB oracle regardless of host tz.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # read below will surface a clear error if the conf matters


def normalize_events(df: DataFrame) -> DataFrame:
    """Normalize the events table to BOTH views of event time regardless
    of the fixture vintage: ``ts`` as a proper (zone-aware) timestamp and
    ``ts_ns`` as int64 nanos (the deterministic ordering/arithmetic key
    every temporal operator uses).

    Fixtures have shipped as INT64 TIMESTAMP(NANOS) (r1; read as bigint
    under nanosAsLong), TIMESTAMP(MICROS, isAdjustedToUTC=false) ==
    Spark TIMESTAMP_NTZ (r2), and plain TIMESTAMP(MICROS); accept all
    three. Used by both the batch reader (load_table) and the streaming
    reader (streaming/windows.py) so one vintage contract covers both.
    Pinned by tests/test_vanilla_session.py against synthetic parquet in
    every vintage."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # INT64 epoch vintage. Observed so far: TIMESTAMP(NANOS) read
        # as raw nanos under nanosAsLong — but a future fixture could
        # ship plain BIGINT micros/millis/seconds, which would be
        # silently misread as 1970-era nanos. Guard by MAGNITUDE,
        # per row (pure expression, no driver action): epoch values
        # for any plausible date are ~1.7e18 ns / 1.7e15 us / 1.7e12
        # ms / 1.7e9 s — four decades apart, so the bands cannot
        # overlap for dates between 1971 and 2500. Integer `div`/mults
        # only: at nanos magnitude (> 2^53) double math truncates
        # ~1.5% of values to the wrong microsecond.
        ns = (
            F.when(F.abs(F.col("ts")) > F.lit(5 * 10**17), F.col("ts"))
            .when(F.abs(F.col("ts")) > F.lit(5 * 10**14), F.col("ts") * 1000)
            .when(F.abs(F.col("ts")) > F.lit(5 * 10**11), F.col("ts") * 1000000)
            .otherwise(F.col("ts") * 1000000000)
        )
        df = df.withColumn("ts_ns", ns).withColumn(
            "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS, isAdjustedToUTC=false) vintage. unix_micros
        # rejects NTZ input; the cast to TIMESTAMP is value-exact under
        # the UTC session tz set in _ensure_session_confs. Downstream
        # operators then see one uniform timestamp type.
        df = df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
            "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000)
        )
    elif "timestamp" in (ts_type or ""):
        # TIMESTAMP(MICROS, adjusted-to-UTC) vintage: already LTZ.
        df = df.withColumn("ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000))
    return df


# Footer-inferred schema per table path (metadata only — column
# names/types, no data and no query results; the same class of
# planning metadata Spark itself caches in
# InMemoryFileIndex/FileStatusCache). Catalyst's
# ResolveDataSource re-reads parquet footers on EVERY schema-less
# ``spark.read.parquet`` call — ~100-135 ms per load_table call even
# in a warm local session (measured r12: pipe_training_prep_v3 spent
# 2.0 of its 4.6 s of total rule time in ResolveDataSource). Handing
# the once-inferred schema back to the reader skips that re-inference
# (~26 ms). Keyed by (path, mtime_ns, size) so a rewritten fixture
# re-infers even when the rewrite preserves a coarse mtime (cp -p /
# rsync -t / coarse-mtime filesystems — r12 ADVICE); one entry per
# path (replacing on key change), so the memo cannot grow without
# bound across fixture rewrites. The memoized schema is whatever one
# session inferred under _ensure_session_confs (which runs on every
# load_table), so all consumers see the same conf state.
_TABLE_SCHEMAS: dict[str, tuple[tuple[int, int], "object"]] = {}


def _parquet_with_memoized_schema(spark: SparkSession, path: str) -> DataFrame:
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        # missing path: fall through to the plain reader so the error
        # surfaces exactly as before
        return spark.read.parquet(path)
    hit = _TABLE_SCHEMAS.get(path)
    if hit is None or hit[0] != stamp:
        df = spark.read.parquet(path)
        _TABLE_SCHEMAS[path] = (stamp, df.schema)
        return df
    return spark.read.schema(hit[1]).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = _parquet_with_memoized_schema(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events(df)
    return df


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A constant table built on the driver: the engine's one way to
    turn Python rows into a DataFrame (SCALE.md "Python boundary
    policy").

    ``spark.createDataFrame(list)`` plans a ``LogicalRDD`` over a
    PythonRDD, so every scan of it starts Python worker tasks and
    Catalyst knows no size for it. Built from an Arrow table instead,
    the frame is a ``LocalRelation`` held in the plan: no Python runs
    behind it, and the optimizer can fold it or broadcast it by size.

    ``schema`` is a DDL string (``"a bigint, b string"``, with or
    without ``:``) or a ``StructType``; ``rows`` are tuples or ``Row``s
    in schema order. Python values convert as Arrow converts them to
    the schema's types; a value that does not fit its type, or a row
    whose length differs from the schema's, raises."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    for row in rows:
        if len(row) != len(arrow):
            raise ValueError(
                f"row has {len(row)} fields, schema has {len(arrow)}: {row!r}"
            )
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


# Parquet row-group count per input file (footer metadata only: no
# data read and no cached query results; the same class of planning
# metadata as _TABLE_SCHEMAS above). Keyed like _TABLE_SCHEMAS, so a
# rewritten file is re-read, and one entry per path.
_ROW_GROUPS: dict[str, tuple[tuple[int, int], int]] = {}


def _row_groups(uri: str) -> int:
    """Row groups in one local parquet file named by an
    ``inputFiles()`` URI. Raises OSError/ValueError when the footer
    cannot be read (remote scheme, missing or non-parquet file)."""
    import pyarrow.parquet as pq

    url = urlparse(uri)
    if url.scheme not in ("", "file"):
        raise ValueError(f"no local footer for {uri}")
    path = unquote(url.path)
    st = os.stat(path)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _ROW_GROUPS.get(path)
    if hit is None or hit[0] != stamp:
        hit = (stamp, pq.ParquetFile(path).metadata.num_row_groups)
        _ROW_GROUPS[path] = hit
    return hit[1]


def spread_input(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a NARROW file scan across the session's cores
    before CPU-heavy per-row work (SCALE.md "THE partition-sizing
    rule", narrow-input spread).

    A parquet scan runs one task per row group at most: a task only
    produces rows for row groups whose midpoint falls in its byte
    range, so a single-row-group file is a single-task scan however
    many splits Spark makes, and a plan with no Exchange above it runs
    start to finish on one core. When the row groups across the
    frame's own ``inputFiles()`` (footer metadata, memoized per file)
    number fewer than ``defaultParallelism``, this returns
    ``df.repartition(defaultParallelism, *keys)``; otherwise ``df``
    unchanged, so a wide production table pays nothing. Keyed on the
    consumer's own aggregate key, the hash partitioning satisfies that
    aggregate and replaces its shuffle instead of adding one.

    Detection runs nothing: no ``.rdd`` and no ``getNumPartitions()``
    (under AQE those execute the child's shuffle stages). Streaming
    frames, frames with no input files (in-memory data, checkpoints)
    and frames whose footers cannot be read come back unchanged."""
    if df.isStreaming:
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    splits = 0
    for uri in df.inputFiles():
        try:
            splits += _row_groups(uri)
        except (OSError, ValueError):
            return df
        if splits >= cores:
            return df
    if splits == 0:
        return df
    return df.repartition(cores, *keys)


class LazyTables(Mapping):
    """Mapping of table name -> DataFrame that loads each table on
    first access. Per-query lazy loading means a query touching only
    ``nation`` can never fail on an unreadable ``events`` fixture —
    the round-1 failure mode where one eager load sank 15 unrelated
    queries."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            if name not in TABLES:
                raise KeyError(name)
            self._cache[name] = load_table(self._spark, self._sf_dir, name)
        return self._cache[name]

    def __iter__(self) -> Iterator[str]:
        return iter(TABLES)

    def __len__(self) -> int:
        return len(TABLES)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> LazyTables:
    return LazyTables(spark, sf_dir)


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view and return the dict.

    Failure-isolated per table: an unreadable or schema-drifted fixture
    skips ONLY that view (recorded in the returned dict's ``__errors__``
    under a non-table key) instead of sinking every SQL-frontend query —
    the eager-load failure mode that cost rounds 1 and 2."""
    dfs: dict[str, DataFrame] = {}
    errors: dict[str, str] = {}
    for name in TABLES:
        try:
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            dfs[name] = df
        except Exception as exc:  # isolate fixture-vintage drift per table
            errors[name] = f"{type(exc).__name__}: {exc}"
    if errors:
        import warnings

        warnings.warn(f"register_tables skipped unreadable tables: {errors}")
    return dfs


def publish(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    max_records_per_file: int = 1_000_000,
    observe: bool = False,
) -> dict | None:
    """The engine's sink spec (SCALE.md): zstd parquet, optional
    partition columns (e.g. the published csa_db partitioned by Type),
    bounded file sizes so downstream scans parallelize evenly.

    Overwrite is dynamic-partition-scoped when partitioning: a re-run
    replaces only the partitions it produced (the idempotent-stage
    pattern, reference crawl-or-cache S2).

    ``observe=True`` attaches data-quality observations (row count +
    per-column null counts) that ride the WRITE job itself —
    Spark's Observation API collects them from the task metrics of the
    same action, so the quality gate costs zero extra scans at any
    scale. Returns the metrics dict (or None)."""
    obs = None
    if observe:
        from pyspark.sql import Observation

        obs = Observation("publish")
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}")
                for c in df.columns
            ],
        )
    writer = (
        df.write.mode("overwrite")
        .option("compression", "zstd")
        .option("maxRecordsPerFile", max_records_per_file)
        .option("partitionOverwriteMode", "dynamic")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return obs.get if obs is not None else None


def compact(
    spark: SparkSession, path: str, target_files: int | None = None
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ``target_files`` files (default: size-based, ~128 MB each). The
    operational fix for the many-tiny-files problem that kills scan
    parallelism accounting and NameNode/listing overhead at fleet
    scale. Returns the new file count.

    Rewrites via a temp sibling directory then atomic-ish rename, so a
    failed compaction never destroys the source."""
    import shutil

    df = spark.read.parquet(path)
    if target_files is None:
        total_bytes = sum(
            f.stat().st_size for f in __import__("pathlib").Path(path).rglob("*.parquet")
        )
        target_files = max(1, total_bytes // (128 * 1024 * 1024))
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__precompact"
    try:
        df.repartition(int(target_files)).write.mode("overwrite").option(
            "compression", "zstd"
        ).parquet(tmp)
        # Swap via rename-aside so a crash at any point leaves either the
        # original or the compacted copy intact — never neither.
        shutil.move(path, old)
        shutil.move(tmp, path)
        shutil.rmtree(old)
    except BaseException:
        if not os.path.exists(path) and os.path.exists(old):
            shutil.move(old, path)  # restore the original
        if os.path.exists(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
        raise
    return len(
        [f for f in __import__("pathlib").Path(path).rglob("*.parquet")]
    )


def zorder_value(cols: list, bits: int = 8):
    """Z-order (Morton) value: interleave the bits of per-column
    bucket ids so files sorted by the result are clustered in EVERY
    listed dimension at once — min/max row-group pruning then skips
    effectively for filters on any of the columns, not just the first
    sort key. ``cols``: (column, lo, hi) triples; linear width_bucket
    binning (at fleet scale, swap in approx-quantile boundaries for
    skewed columns)."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for ci, (col, lo, hi) in enumerate(cols):
        bucket = (
            F.width_bucket(col, F.lit(lo), F.lit(hi), F.lit(2**bits)) - 1
        ).cast("long")
        for b in range(bits):
            bit = F.shiftright(bucket, b) % 2
            z = z + F.shiftleft(bit, b * len(cols) + ci)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list,
    n_files: int = 8,
    bits: int = 8,
) -> None:
    """Range-partition + sort by the Z-value, then write: each output
    file covers a compact hyper-rectangle of the listed dimensions."""
    z = zorder_value(cols, bits).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
