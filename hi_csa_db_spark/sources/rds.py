"""RDS (R serialization) reader/writer + Spark data source.

The reference persists every artifact as ``saveRDS``/``readRDS``
(crawl caches at hi-csa-db.Rmd:129,316,349,384; the published table at
hi-csa-db.Rmd:593). This module reads those files DIRECTLY — a user of
the reference can point this engine at their existing .rds artifacts
without an R process — and writes RDS back for the reverse hand-off.

The format implemented here is R's public serialization format
(version 2/3, XDR byte order), documented in "R Internals" section
1.8 "Serialization Formats"; nothing here derives from the reference's
code (the reference contains no parser — it calls readRDS).

Scope: the SEXP types R data-analysis artifacts actually contain —
atomic vectors (logical/int/real/string/raw/complex), lists, pairlist
attributes, symbols, NA encodings, ALTREP compact sequences, and
gzip/bzip2/xz/uncompressed containers. Environments, closures and
byte-code are out of scope (clear error), as they cannot map to a
DataFrame anyway.

Scale note: RDS artifacts are driver-sized by construction (the
reference's largest is ~2 MB). The Spark entry points parse on the
driver and hand Spark a regular DataFrame; bulk data belongs in
parquet (catalog.publish) — this source exists for interop, not for
the 100 TB path.
"""

from __future__ import annotations

import bz2
import gzip
import lzma
import struct
from dataclasses import dataclass, field
from typing import Any, BinaryIO

from hi_csa_db_spark.catalog import local_frame

# SEXP type codes (R Internals table)
NILSXP = 0
SYMSXP = 1
LISTSXP = 2
CLOSXP = 3
ENVSXP = 4
PROMSXP = 5
LANGSXP = 6
CHARSXP = 9
LGLSXP = 10
INTSXP = 13
REALSXP = 14
CPLXSXP = 15
STRSXP = 16
DOTSXP = 17
VECSXP = 19
EXPRSXP = 20
BCODESXP = 21
RAWSXP = 24
S4SXP = 25

# packed special codes
REFSXP = 255
NILVALUE_SXP = 254
GLOBALENV_SXP = 253
UNBOUNDVALUE_SXP = 252
MISSINGARG_SXP = 251
BASENAMESPACE_SXP = 250
NAMESPACESXP = 249
PACKAGESXP = 248
PERSISTSXP = 247
BASEENV_SXP = 241
EMPTYENV_SXP = 242
ALTREP_SXP = 238

NA_INT = -2147483648
# R's NA_real_: an IEEE NaN with 1954 in the low word
NA_REAL_BITS = 0x7FF00000000007A2


class RDSUnsupported(Exception):
    """The stream contains a SEXP this reader deliberately does not
    model (environment/closure/byte-code)."""


@dataclass
class RObject:
    """A parsed R object: ``value`` plus its attribute dict."""

    value: Any
    attributes: dict[str, Any] = field(default_factory=dict)

    @property
    def names(self):
        return self.attributes.get("names")

    def is_data_frame(self) -> bool:
        cls = self.attributes.get("class")
        return bool(cls) and "data.frame" in cls


def _open_maybe_compressed(path: str) -> BinaryIO:
    with open(path, "rb") as fh:
        magic = fh.read(6)
    if magic[:2] == b"\x1f\x8b":
        return gzip.open(path, "rb")
    if magic[:3] == b"BZh":
        return bz2.open(path, "rb")
    if magic[:6] == b"\xfd7zXZ\x00":
        return lzma.open(path, "rb")
    return open(path, "rb")


class _Reader:
    def __init__(self, fh: BinaryIO):
        self.fh = fh
        self.refs: list[Any] = []

    # ---- primitives (XDR = big-endian) ----
    def _int(self) -> int:
        return struct.unpack(">i", self.fh.read(4))[0]

    def _double(self) -> float | None:
        raw = self.fh.read(8)
        if struct.unpack(">Q", raw)[0] == NA_REAL_BITS:
            return None
        return struct.unpack(">d", raw)[0]

    def _length(self) -> int:
        n = self._int()
        if n == -1:  # long vector: two int32 halves
            hi, lo = self._int(), self._int()
            return (hi << 32) | (lo & 0xFFFFFFFF)
        return n

    # ---- header ----
    def read_header(self) -> None:
        fmt = self.fh.read(2)
        if fmt != b"X\n":
            raise RDSUnsupported(
                f"only XDR-format RDS is supported (got {fmt!r}); "
                "ascii/native streams are rare and out of scope"
            )
        version = self._int()
        self._int()  # writer version
        self._int()  # min reader version
        if version >= 3:
            enc_len = self._int()
            self.fh.read(enc_len)  # native encoding name

    # ---- items ----
    def read_item(self) -> Any:
        flags = self._int()
        ptype = flags & 255
        has_attr = bool(flags & 0x200)
        has_tag = bool(flags & 0x400)

        if ptype == NILVALUE_SXP or ptype == NILSXP:
            return None
        if ptype == REFSXP:
            idx = flags >> 8
            if idx == 0:
                idx = self._int()
            return self.refs[idx - 1]
        if ptype == SYMSXP:
            name = self.read_item()  # CHARSXP
            self.refs.append(name)
            return name
        if ptype == CHARSXP:
            n = self._int()
            if n == -1:
                return None  # NA_character_
            raw = self.fh.read(n)
            try:
                return raw.decode("utf-8")
            except UnicodeDecodeError:
                return raw.decode("latin-1")
        if ptype in (LISTSXP, LANGSXP, DOTSXP):
            # pairlist node: [attr] [tag] CAR CDR — flattened to a list
            # of (tag, value); LANGSXP calls surface as plain pairs too
            attr = self.read_item() if has_attr else None
            tag = self.read_item() if has_tag else None
            car = self.read_item()
            cdr = self.read_item()
            out = [(tag, car, attr)]
            if cdr is not None:
                out.extend(cdr)
            return out
        if ptype == LGLSXP:
            n = self._length()
            vals = struct.unpack(f">{n}i", self.fh.read(4 * n))
            return self._wrap(
                [None if v == NA_INT else bool(v) for v in vals], has_attr
            )
        if ptype == INTSXP:
            n = self._length()
            vals = struct.unpack(f">{n}i", self.fh.read(4 * n))
            return self._wrap([None if v == NA_INT else v for v in vals], has_attr)
        if ptype == REALSXP:
            n = self._length()
            return self._wrap([self._double() for _ in range(n)], has_attr)
        if ptype == CPLXSXP:
            n = self._length()
            out = []
            for _ in range(n):
                re_, im = self._double(), self._double()
                out.append(None if re_ is None else complex(re_, im or 0.0))
            return self._wrap(out, has_attr)
        if ptype == STRSXP:
            n = self._length()
            return self._wrap([self.read_item() for _ in range(n)], has_attr)
        if ptype in (VECSXP, EXPRSXP):
            n = self._length()
            return self._wrap([self.read_item() for _ in range(n)], has_attr)
        if ptype == RAWSXP:
            n = self._length()
            return self._wrap(self.fh.read(n), has_attr)
        if ptype == ALTREP_SXP:
            return self._read_altrep()
        if ptype in (NAMESPACESXP, PACKAGESXP, PERSISTSXP):
            # stored as a ref + a STRSXP-ish payload; keep the name
            self._int()  # ref marker layout version (always 0)
            val = self.read_item()
            self.refs.append(val)
            return val
        if ptype in (GLOBALENV_SXP, BASEENV_SXP, EMPTYENV_SXP,
                     UNBOUNDVALUE_SXP, MISSINGARG_SXP, BASENAMESPACE_SXP):
            return None
        if ptype in (ENVSXP, CLOSXP, PROMSXP, BCODESXP, S4SXP):
            raise RDSUnsupported(
                f"SEXP type {ptype} (environment/closure/bytecode/S4) "
                "has no DataFrame mapping"
            )
        raise RDSUnsupported(f"unhandled SEXP type {ptype}")

    def _wrap(self, value, has_attr: bool):
        if not has_attr:
            return value
        attrs = self._read_attrs()
        return RObject(value, attrs)

    def _read_attrs(self) -> dict[str, Any]:
        pairs = self.read_item()  # pairlist
        attrs: dict[str, Any] = {}
        for tag, car, _ in pairs or []:
            if tag is not None:
                attrs[tag] = _strip(car)
        return attrs

    def _read_altrep(self) -> Any:
        info = self.read_item()  # pairlist: (class sym, package sym, type)
        state = self.read_item()
        self.read_item()  # attributes (compact seqs carry none)
        cls = None
        if info:
            cls = info[0][1] if isinstance(info, list) else None
        state_v = _strip(state)
        if cls == "compact_intseq":
            n, start, step = (int(x) for x in state_v)
            return list(range(start, start + n * step, step))
        if cls == "compact_realseq":
            n, start, step = state_v
            return [start + i * step for i in range(int(n))]
        if cls in ("wrap_real", "wrap_integer", "wrap_logical",
                   "wrap_string", "wrap_raw", "wrap_complex"):
            # state = (wrapped vector, metadata)
            return state_v[0] if isinstance(state_v, list) else state_v
        if cls == "deferred_string":
            src = state_v[0] if isinstance(state_v, list) else state_v
            vals = _strip(src)
            return [None if v is None else _r_num_str(v) for v in vals]
        raise RDSUnsupported(f"ALTREP class {cls!r}")


def _r_num_str(v) -> str:
    if isinstance(v, float) and v == int(v):
        return str(int(v))
    return str(v)


def _strip(x):
    return x.value if isinstance(x, RObject) else x


def read_rds(path: str) -> Any:
    """Parse an .rds file into Python values: R vectors -> lists,
    named lists / data.frames -> RObject (value + attributes)."""
    with _open_maybe_compressed(path) as fh:
        r = _Reader(fh)
        r.read_header()
        return r.read_item()


# ---------------------------------------------------------------------------
# object navigation helpers
# ---------------------------------------------------------------------------


def element(obj: Any, *names: str) -> Any:
    """Navigate named-list components, e.g. element(o, 'network',
    'NetwEdges') mirrors R's o$network$NetwEdges."""
    for name in names:
        o = obj if isinstance(obj, RObject) else RObject(obj)
        nm = o.names or []
        vals = o.value
        if name not in nm:
            raise KeyError(f"{name!r} not in {list(nm)[:10]}")
        obj = vals[list(nm).index(name)]
    return obj


def data_frame_columns(obj: Any) -> tuple[list[str], list[list]]:
    """(column names, column value lists) of a parsed data.frame."""
    o = obj if isinstance(obj, RObject) else RObject(obj)
    if not o.is_data_frame():
        raise ValueError("object is not a data.frame")
    cols = [_strip(c) for c in o.value]
    return list(o.names), cols


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------


def rds_to_spark(spark, path: str, *component: str):
    """Read an .rds file (optionally navigating to a named component,
    e.g. rds_to_spark(spark, 'nrcs.rds', 'INDEX')) as a Spark
    DataFrame. The artifact parses on the driver (RDS files are
    driver-sized; see module docstring) and becomes a distributed
    DataFrame from there."""
    obj = read_rds(path)
    if component:
        obj = element(obj, *component)
    names, cols = data_frame_columns(obj)
    rows = list(zip(*cols)) if cols else []
    fields = []
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    for name, col in zip(names, cols):
        sample = next((v for v in col if v is not None), None)
        if isinstance(sample, bool):
            t = BooleanType()
        elif isinstance(sample, int):
            t = IntegerType()
        elif isinstance(sample, float):
            t = DoubleType()
        else:
            t = StringType()
        fields.append(StructField(name, t, True))
    return local_frame(spark, rows, StructType(fields))


def _infer_struct(names: list[str], cols: list[list]):
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    fields = []
    for name, col in zip(names, cols):
        sample = next((v for v in col if v is not None), None)
        if isinstance(sample, bool):
            t = BooleanType()
        elif isinstance(sample, int):
            t = IntegerType()
        elif isinstance(sample, float):
            t = DoubleType()
        else:
            t = StringType()
        fields.append(StructField(name, t, True))
    return StructType(fields)


try:  # Spark 4 Python Data Source API
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class RDSDataSource(DataSource):
        """``spark.read.format('rds')`` — the reference's artifacts as
        a first-class Spark source. Options:

        - ``path``: the .rds file
        - ``element``: optional dot-path to a data.frame component,
          e.g. ``network.NetwEdges`` (mirrors R's ``$`` navigation)

        Register once per session:
        ``spark.dataSource.register(RDSDataSource)``. One partition
        per file: RDS artifacts are driver-sized (module docstring);
        the parallelism story starts after the scan."""

        @classmethod
        def name(cls) -> str:
            return "rds"

        def _load(self):
            path = self.options.get("path")
            if not path:
                raise ValueError("rds source requires a path")
            obj = read_rds(path)
            comp = self.options.get("element")
            if comp:
                obj = element(obj, *comp.split("."))
            return data_frame_columns(obj)

        def schema(self):
            names, cols = self._load()
            return _infer_struct(names, cols)

        def reader(self, schema):
            return _RDSReader(
                self.options.get("path"), self.options.get("element")
            )

    class _RDSReader(DataSourceReader):
        def __init__(self, path: str, component: str | None):
            self.path = path
            self.component = component

        def read(self, partition):
            obj = read_rds(self.path)
            if self.component:
                obj = element(obj, *self.component.split("."))
            names, cols = data_frame_columns(obj)
            yield from zip(*cols)

except ImportError:  # pragma: no cover - pre-4.0 pyspark
    RDSDataSource = None  # type: ignore[assignment]


# ---------------------------------------------------------------------------
# writer (serialization version 2, XDR) — the saveRDS hand-off path
# ---------------------------------------------------------------------------


class _Writer:
    def __init__(self, fh: BinaryIO):
        self.fh = fh

    def _int(self, v: int) -> None:
        self.fh.write(struct.pack(">i", v))

    def _double(self, v: float | None) -> None:
        if v is None:
            self.fh.write(struct.pack(">Q", NA_REAL_BITS))
        else:
            self.fh.write(struct.pack(">d", v))

    def header(self) -> None:
        self.fh.write(b"X\n")
        self._int(2)
        self._int(0x030400)  # writer 3.4.0
        self._int(0x020300)  # min reader 2.3.0

    def _charsxp(self, s: str | None) -> None:
        if s is None:
            self._int(CHARSXP | (0 << 12))
            self._int(-1)
            return
        raw = s.encode("utf-8")
        self._int(CHARSXP | (0x08 << 12))  # UTF-8 encoding bit
        self._int(len(raw))
        self.fh.write(raw)

    def _symbol(self, name: str) -> None:
        self._int(SYMSXP)
        self._charsxp(name)

    def strsxp(self, vals: list[str | None], flags: int = 0) -> None:
        self._int(STRSXP | flags)
        self._int(len(vals))
        for v in vals:
            self._charsxp(v)

    def intsxp(self, vals: list[int | None], flags: int = 0) -> None:
        self._int(INTSXP | flags)
        self._int(len(vals))
        for v in vals:
            self._int(NA_INT if v is None else int(v))

    def lglsxp(self, vals: list[bool | None], flags: int = 0) -> None:
        self._int(LGLSXP | flags)
        self._int(len(vals))
        for v in vals:
            self._int(NA_INT if v is None else int(v))

    def realsxp(self, vals: list[float | None], flags: int = 0) -> None:
        self._int(REALSXP | flags)
        self._int(len(vals))
        for v in vals:
            self._double(v)

    def column(self, vals: list) -> None:
        sample = next((v for v in vals if v is not None), None)
        if isinstance(sample, bool):
            self.lglsxp(vals)
        elif isinstance(sample, int):
            self.intsxp(vals)
        elif isinstance(sample, float):
            self.realsxp(vals)
        else:
            self.strsxp([None if v is None else str(v) for v in vals])

    def pair(self, tag: str, write_value, has_more: bool) -> None:
        self._int(LISTSXP | 0x400)  # pairlist node with tag
        self._symbol(tag)
        write_value()
        if not has_more:
            self._int(NILVALUE_SXP)


def write_rds_data_frame(
    path: str, names: list[str], cols: list[list], compress: bool = True
) -> None:
    """Write columns as a data.frame .rds readable by R's readRDS —
    the reverse hand-off (our publish -> a reference user's R session).
    Attributes written exactly as R does: names, row.names in the
    compact (NA, -n) form, class='data.frame'."""
    import io

    buf = io.BytesIO()
    w = _Writer(buf)
    w.header()
    n_rows = len(cols[0]) if cols else 0
    w._int(VECSXP | 0x100 | 0x200)  # object bit + attributes
    w._int(len(cols))
    for col in cols:
        w.column(col)
    # attribute pairlist: names -> row.names -> class
    w.pair("names", lambda: w.strsxp(list(names)), has_more=True)
    w.pair(
        "row.names", lambda: w.intsxp([None, -n_rows]), has_more=True
    )
    w.pair("class", lambda: w.strsxp(["data.frame"]), has_more=False)
    data = buf.getvalue()
    if compress:
        with gzip.open(path, "wb") as fh:
            fh.write(data)
    else:
        with open(path, "wb") as fh:
            fh.write(data)


def spark_to_rds(df, path: str, compress: bool = True) -> None:
    """Collect a (dimension-sized) DataFrame and write it as an RDS
    data.frame. Guarded use: this is the interop hand-off, not a bulk
    sink — bulk output goes through catalog.publish (parquet)."""
    names = df.columns
    rows = df.collect()
    cols = [[r[i] for r in rows] for i in range(len(names))]
    write_rds_data_frame(path, names, cols, compress=compress)
