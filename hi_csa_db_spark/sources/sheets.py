"""Sheet-export ingest: the engine's stand-in for the reference's live
Google-Sheets reads (hi-csa-db.Rmd:470-471, 490, 554; OAuth at 15-16).

A cloud sheet is consumed as its CSV/JSON export — the portable,
credential-free path — so the engine owns everything after the export:
raw-header normalization ("Resources (Links)"-style display names),
empty-cell -> NULL semantics, and schema-drift alignment (a sheet gains
or loses columns between pulls; downstream plans must not care).

Drift alignment follows db_merge's union semantics
(operators/merge.py): missing target columns materialize as typed
nulls, extras are dropped (or kept, flagged), and everything is cast
to the target type. At fleet scale the same reader runs over an
object-store prefix of exports; locally it accepts in-memory lines so
tests and the pipeline replay stay hermetic.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def slug_header(name: str) -> str:
    """Display header -> snake_case identifier: 'Resources (Links)' ->
    'resources_links'."""
    s = re.sub(r"[^0-9a-zA-Z]+", "_", name.strip()).strip("_").lower()
    return s or "col"


def normalize_headers(df: DataFrame, rename: dict[str, str] | None = None) -> DataFrame:
    """Apply an explicit rename map first, then slug any remaining
    display-style headers. Collisions get positional suffixes."""
    rename = rename or {}
    seen: dict[str, int] = {}
    out = []
    for c in df.columns:
        n = rename.get(c, slug_header(c) if c not in rename.values() else c)
        if n in seen:
            seen[n] += 1
            n = f"{n}_{seen[n]}"
        else:
            seen[n] = 0
        out.append(F.col(f"`{c}`").alias(n))
    return df.select(*out)


def align_to_schema(df: DataFrame, schema: T.StructType | str) -> DataFrame:
    """Schema-drift alignment (db_merge semantics): project onto the
    target schema — present columns cast, missing columns typed nulls,
    extra columns dropped. Column order follows the target."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    cols = []
    for field in schema.fields:
        if field.name in df.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def _blank_strings_to_null(df: DataFrame) -> DataFrame:
    """Sheet exports do not distinguish empty cell from empty string;
    normalize both to NULL regardless of how the writer quoted them."""
    cols = [
        F.when(F.trim(F.col(f.name)) == "", None)
        .otherwise(F.col(f.name))
        .alias(f.name)
        if isinstance(f.dataType, T.StringType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(*cols)


def read_sheet_export(
    spark: SparkSession,
    source,
    fmt: str = "csv",
    rename: dict[str, str] | None = None,
    target_schema: T.StructType | str | None = None,
    sep: str = ",",
) -> DataFrame:
    """Read a sheet export into a typed, schema-stable DataFrame.

    ``source``: a path/glob (the scale path — a partitioned prefix of
    exports), or a list/RDD of raw lines (the hermetic test path).
    ``fmt``: 'csv' (header row expected) or 'json' (one object/line).
    ``rename``: raw-header -> wanted-name overrides applied before the
    generic slugging. ``target_schema``: when given, the result is
    drift-aligned onto it (missing -> typed nulls, extras dropped).

    A list of lines becomes a one-partition PythonRDD: the engine's one
    list-built input that is not a ``catalog.local_frame``. PySpark's
    ``DataFrameReader.csv`` and ``.json`` parse a path or an RDD of
    strings and take no DataFrame, so a LocalRelation of lines cannot
    feed them; scans of this frame start a Python worker task.
    """
    if isinstance(source, list):
        source = spark.sparkContext.parallelize(source, 1)
    if fmt == "csv":
        df = spark.read.csv(
            source, header=True, quote='"', escape='"', sep=sep, nullValue=""
        )
    elif fmt == "json":
        df = spark.read.json(source)
    else:
        raise ValueError(f"unsupported sheet export format: {fmt}")
    df = normalize_headers(df, rename)
    df = _blank_strings_to_null(df)
    if target_schema is not None:
        df = align_to_schema(df, target_schema)
    return df
