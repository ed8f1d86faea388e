"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Extension surface mandated by BASELINE.json (training-data pipeline
ops). All hashing is md5-based (functions.hashing) so results are
deterministic and portable across engines — the DuckDB oracle replays
the identical math. The one exception is internal: jaccard_pairs_hashed
keys its inverted index by xxhash64(shingle) and never surfaces the
hash in its output.

Scale notes (100 TB):
- shingling/minhashing are narrow maps after one explode;
- LSH banding turns all-pairs O(n^2) similarity into an equi-join on
  band keys — the only shuffles are groupBy(doc) for signatures and
  groupBy(band) for buckets, both AQE-coalesced;
- verification joins shingle sets only for candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from hi_csa_db_spark.catalog import local_frame, spread_input
from hi_csa_db_spark.functions.hashing import hex_to_long, stable_long_hash
from hi_csa_db_spark.functions.text import strip_punct, tokenize, word_ngrams
from hi_csa_db_spark.operators import graph
from hi_csa_db_spark.operators._cache_ledger import register_cached


def exact_dedup(
    df: DataFrame, keys: list[str], id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup by key columns, keeping the min/max id per group.

    Returns (keys..., id_col, dup_count). Hash-aggregate, one shuffle.
    """
    agg_id = F.min(id_col) if keep == "min" else F.max(id_col)
    return df.groupBy(*keys).agg(
        agg_id.alias(id_col), F.count(F.lit(1)).alias("dup_count")
    )


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __toks): punct-stripped, lowercased word tokens per doc.

    The one tokenizer of every near-dup and quality operator, so the
    narrow-input spread sits here: a single-row-group ``docs`` scan is
    hash-partitioned on ``id_col`` before the tokenize, and the
    per-document work downstream (shingles, md5, min-hash partials,
    quality features) runs on every core. The consumers' own
    ``groupBy(id_col)`` reuses that partitioning, so no shuffle is
    added where one follows."""
    return spread_input(docs, id_col).select(
        F.col(id_col),
        tokenize(F.lower(strip_punct(F.col(text_col)))).alias("__toks"),
    )


def _shingle_set(toks: Column, n: int) -> Column:
    """The distinct, non-empty word n-grams of a token array — the
    shingle set every near-dup operator compares."""
    return F.array_distinct(F.filter(word_ngrams(toks, n), lambda s: s != ""))


def shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Tokenize (punct-stripped, lowercased), then slide an n-window via a
    higher-order ``transform`` over token indices — no UDF.
    """
    # per-doc dedup happens INSIDE the array (array_distinct) before
    # the explode: identical semantics to a global distinct on
    # (id, shingle) — a shingle can only repeat within its own doc —
    # but zero shuffle, where .distinct() would repartition the whole
    # exploded index. Every consumer (minhash, LSH, jaccard) inherits
    # the saving.
    return _doc_tokens(docs, id_col, text_col).select(
        id_col, F.explode(_shingle_set(F.col("__toks"), n)).alias("shingle")
    )


def _km_pair(m: Column) -> tuple[Column, Column]:
    """Kirsch-Mitzenmacher pair of one md5 hex string ``m``: h1 = hex
    chars 1-15 (60-bit), h2 = hex chars 16-27 * 2 + 1 (49-bit, odd)."""
    return hex_to_long(m), hex_to_long(m, 12, start=16) * 2 + 1


def _minhash_mins(num_hashes: int) -> list[Column]:
    """The signature aggregates ``__mh{i} = min((__h1 + i*__h2) mod
    2^60)`` over a frame holding the ``_km_pair`` columns.

    One parsed SQL expression per hash: the Column-operator form
    costs ~5 py4j round-trips per hash index at BUILD time (~0.8 s
    of d2/d10's plan construction for 16 hashes, the d4 lane-word
    lesson); the parsed string is a single call with the identical
    expression tree."""
    return [
        F.expr(f"min((__h1 + {i} * __h2) % {2**60}) AS __mh{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures(
    shingle_df: DataFrame, id_col: str = "doc_id", num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per doc: (id, sig array<long> of length h).

    Kirsch-Mitzenmacher double hashing: ONE md5 per shingle yields
    h1 (60-bit, hex chars 1-15) and h2 (49-bit odd, hex chars 16-27);
    hash_i = (h1 + i*h2) mod 2^60. The affine family preserves the
    min-hash property while doing 1/num_hashes of the hashing work —
    md5 is the dominant CPU cost of the signature stage at corpus
    scale. Engine-portable: the oracle replays the identical
    arithmetic in DuckDB (bigints, no floats).

    All ``num_hashes`` minima are computed as parallel aggregates in a
    SINGLE groupBy pass: the map-side partial aggregation reduces each
    partition to one row per doc before the shuffle, instead of
    exploding num_hashes x shingles rows through it.
    """
    h1, h2 = _km_pair(F.md5(F.col("shingle")))
    base = shingle_df.select(F.col(id_col), h1.alias("__h1"), h2.alias("__h2"))
    per_doc = base.groupBy(id_col).agg(*_minhash_mins(num_hashes))
    return per_doc.select(
        id_col,
        F.array(*[F.col(f"__mh{i}") for i in range(num_hashes)]).alias("sig"),
    )


def shingle_array(text_col: str = "text", n: int = 3):
    """The per-doc distinct shingle set as an ARRAY column — the same
    set shingles() explodes, kept un-exploded for narrow per-row
    consumers (streaming signatures)."""
    return _shingle_set(tokenize(F.lower(strip_punct(F.col(text_col)))), n)


def hash_pairs_col(shingle_col: Column) -> Column:
    """(h1, h2) Kirsch-Mitzenmacher pair per shingle of an ALREADY
    MATERIALIZED shingle-array column — one md5 per shingle. Split out
    of minhash_signature_col so consumers can pin the pair array
    behind its own projection: higher-order functions run interpreted
    (no codegen CSE), so an expression that references the pair array
    ``num_hashes`` times re-evaluates it per reference unless it is a
    plain column by then."""

    def pair(s: Column) -> Column:
        h1, h2 = _km_pair(F.md5(s))
        return F.struct(h1.alias("h1"), h2.alias("h2"))

    return F.transform(shingle_col, pair)


def minhash_from_hash_pairs(hp_col: Column, num_hashes: int = 16) -> Column:
    """MinHash signature from a materialized (h1, h2)-pair array
    column: num_hashes independent array_min folds — cheap integer
    arithmetic per reference once ``hp_col`` is a plain column."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    hp_col, lambda x: (x["h1"] + F.lit(i) * x["h2"]) % F.lit(2**60)
                )
            )
            for i in range(num_hashes)
        ]
    )


def minhash_signature_col(text_col: str = "text", n: int = 3, num_hashes: int = 16):
    """MinHash signature as a NARROW per-row expression: identical
    values to minhash_signatures() (same shingle set, same
    Kirsch-Mitzenmacher affine family), but computed with array
    functions instead of a groupBy — zero shuffle, zero state. This is
    the streaming-safe path: a stream of new docs can be signed row by
    row and probed against a static band index without any stateful
    aggregation.

    NOTE (r12): as a single fused expression this re-evaluates the
    shingle pipeline once per hash index (HOFs get no codegen CSE),
    i.e. ~num_hashes tokenizer runs per row. Hot paths should instead
    stage the projections themselves:
    ``shingle_array -> hash_pairs_col -> minhash_from_hash_pairs``
    (see streaming/windows.py::incremental_dedup_stream), which this
    helper composes verbatim — values are identical either way."""
    return minhash_from_hash_pairs(
        hash_pairs_col(shingle_array(text_col, n)), num_hashes
    )


def band_keys(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 8, rows: int = 2
) -> DataFrame:
    """Explode a signature table into its LSH band keys:
    (id, band, bkey) with bkey = md5 of the band's signature slice.
    This IS the persistable LSH index — at fleet scale it lives as a
    table bucketed by (band, bkey) so probes are co-located joins."""
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            b,
                            F.concat_ws(
                                "|",
                                F.transform(
                                    F.slice("sig", b * rows + 1, rows),
                                    lambda v: v.cast("string"),
                                ),
                            ),
                        )
                    ).alias("bkey"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 8, rows: int = 2
) -> DataFrame:
    """Band the signatures and emit candidate pairs sharing any band.

    Band key = md5 of the band's signature slice. Self-join per bucket
    with id_a < id_b; distinct pairs. This is the LSH equi-join that
    replaces the O(n^2) cross join at scale.
    """
    banded = band_keys(signatures, id_col, bands, rows)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_candidate_pairs_incremental(
    new_signatures: DataFrame,
    corpus_signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows: int = 2,
) -> DataFrame:
    """Candidate pairs between a DELTA and an existing corpus: band the
    new docs' signatures and probe them against the corpus' band-key
    index — the incremental-dedup path a continuously-built corpus
    runs per ingest batch.

    Scale contract: cost is |delta| x bucket-mates, never corpus x
    corpus. The corpus side is a maintained signature/band table (one
    pass when a doc is first ingested, e.g. kept in the txlog table
    format); a batch of b new docs reads only the buckets it hashes
    into. Returns (id_new, id_old) distinct pairs.
    """
    a = band_keys(new_signatures, id_col, bands, rows).alias("a")
    b = band_keys(corpus_signatures, id_col, bands, rows).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_new"),
            F.col(f"b.{id_col}").alias("id_old"),
        )
        .distinct()
    )


def shingle_arrays(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Doc-level distinct-shingle ARRAYS: (id, __sh_arr).

    The single-tokenize upstream both ``shingles`` (explode) and the
    Jaccard size denominator (F.size) can share: a consumer that needs
    the exploded index AND per-doc sizes lazily checkpoints THIS frame
    once and derives both narrowly, instead of running the
    tokenize -> transform -> array_distinct chain twice over the full
    corpus (measured ~0.6 s of d3's 3.4 s at sf0.1)."""
    return _doc_tokens(docs, id_col, text_col).select(
        id_col, _shingle_set(F.col("__toks"), n).alias("__sh_arr")
    )


def jaccard_pairs(
    shingle_df: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs.
    Returns (id_a, id_b, inter_cnt, jaccard).

    With ``candidates`` (id_a, id_b), only those pairs are verified.
    With ``candidates=None``, pairs come from the shingle inverted
    index itself (docs sharing at least one shingle) — an equi-join,
    never a cross join, but quadratic in a hot shingle's document
    frequency: the exact reference. Corpus-scale candidate generation
    with a document-frequency cap is jaccard_pairs_hashed.
    """
    if candidates is not None:
        # Candidate-pair verify: intersect the two docs' shingle SETS
        # per pair (collect_set + array_intersect) instead of running
        # the inverted-index self-join. The self-join explodes
        # quadratically on hot shingles BEFORE the pair filter can
        # prune; the set-join is linear in |pairs| and each set is
        # bounded by document length. Semi-join the shingle table down
        # to candidate docs first so only their sets materialize.
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .unionByName(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        sets = (
            shingle_df.join(F.broadcast(cand_ids), id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("__shs"))
        )
        sa = sets.select(F.col(id_col).alias("id_a"), F.col("__shs").alias("__sh_a"))
        sb = sets.select(F.col(id_col).alias("id_b"), F.col("__shs").alias("__sh_b"))
        inter_cnt = F.size(F.array_intersect("__sh_a", "__sh_b"))
        return (
            candidates.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                inter_cnt.alias("inter_cnt"),
                (
                    inter_cnt
                    / (F.size("__sh_a") + F.size("__sh_b") - inter_cnt)
                ).alias("jaccard"),
            )
        )
    sizes = shingle_df.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = shingle_df.alias("a")
    b = shingle_df.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "inter_cnt",
            (
                F.col("inter_cnt")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter_cnt"))
            ).alias("jaccard"),
        )
    )


def jaccard_pairs_hashed(
    arrs: DataFrame,
    id_col: str = "doc_id",
    arr_col: str = "__sh_arr",
    max_df: int = 100,
) -> DataFrame:
    """Jaccard pairs over doc-level shingle ARRAYS with a
    document-frequency cap on candidate generation, the inverted index
    keyed by xxhash64(shingle) (8-byte longs shuffle and compare
    cheaper than variable-length shingle strings). Returns (id_a, id_b,
    inter_cnt, jaccard, sz_a, sz_b).

    Input is the `shingle_arrays` frame (id, distinct-shingle array).
    ``max_df`` is the hot-shingle guard: a shingle present in m docs
    would emit m^2 candidate rows, so shingles with document frequency
    > max_df are excluded from CANDIDATE GENERATION only. Jaccard is
    still computed over the full sets, so a pair's score is exact; the
    only approximation is that a pair sharing nothing but hot shingles
    (necessarily low-Jaccard) is never considered. Candidate rows are
    bounded by n_shingles * max_df^2 regardless of corpus skew.

    Shape: df count -> LeftAnti hot guard -> bounded rare sets ->
    map-side pair explode -> pair count __rc; inter = __rc +
    |hot_a ∩ hot_b|. Two properties hold the memory bound:
    - the LeftAnti join against the hot list sits BELOW collect_set,
      so no shingle group ever materializes more than max_df doc ids
      (a hot shingle's whole doc list never reaches an aggregate);
    - each doc's hot-shingle set rides the per-doc size join, so the
      hot part of a pair's overlap is one array_intersect, and a
      doc's hot set is bounded by its own length, not by corpus skew.
    Set sizes come from F.size over the STRING arrays (exact).
    tests/test_dedup_guards.py pins the plan shape and the values
    against the exact self-join ``jaccard_pairs(shingles)``.

    Exactness: identical to the exact self-join on every pair the cap
    admits whenever xxhash64 is injective on the corpus's distinct
    shingles — verified collision-free on the fixtures at every SF,
    and P(any collision among n distinct shingles) <= n^2/2^65 (~5e-8
    at n=1e6). A collision can merge two shingles' df counts/doc sets
    (candidate-set drift in the same approximation class as max_df
    itself) or count a cross-doc colliding pair as shared (score
    inflation with per-pair probability |A||B|/2^64). Re-verifying
    every candidate against the exact string arrays was built and
    measured 5x worse: the pair aggregate produces intersections for
    free, while per-pair array_intersect over 1.13M sf0.1 candidates
    cost ~17 s standalone.
    """
    # hash AFTER the explode: xxhash64 as a codegen'd projection, not
    # a `transform` lambda (interpreted HOFs get no codegen — the
    # x80/x82 mechanism); the explode->project runs in one stage and
    # the exchange still carries only (long, long) rows. The partition
    # count is EXPLICIT (REPARTITION_BY_NUM, which AQE never
    # coalesces): the stage fed by this exchange runs the map-side
    # pair explode, whose work is ~max_df x its input bytes, so AQE's
    # byte-based coalescing (parallelismFirst + 1 MB minPartitionSize)
    # under-parallelizes it — measured r13: hashing HALVED the
    # exchange bytes and AQE halved the stage's tasks with it, eating
    # the win. defaultParallelism scales with the session, not a
    # local constant (guide §2.5: partition by downstream work, not
    # shuffled bytes).
    # The repartitioned index feeds three consumers (df count, rare
    # sets, hot sets) with NO checkpoint: EnsureRequirements sees the
    # hash partitioning on __h already satisfied, so the __h-keyed
    # aggregates add no exchange, and AQE reuses the one repartition
    # shuffle for all three (ReusedExchange). A cache() here was
    # measured and reverted (r12): a cached plan holding the
    # tokenize/shingle tree makes CacheManager deep-compare it against
    # every later shingle-shaped query in the session (+4-5 s each on
    # d10/pipe_training_prep_v3 in the full bench).
    n_parts = arrs.sparkSession.sparkContext.defaultParallelism
    h = (
        arrs.select(F.col(id_col), F.explode(F.col(arr_col)).alias("__s"))
        .select(F.col(id_col), F.xxhash64("__s").alias("__h"))
        .repartition(n_parts, F.col("__h"))
    )
    dfreq = h.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    hot_list = dfreq.filter(F.col("__df") > max_df).select("__h")
    rare_sets = (
        h.join(hot_list, "__h", "left_anti")
        .groupBy("__h")
        .agg(F.collect_set(id_col).alias("__ds"))
    )
    inter_rare = (
        rare_sets.select(F.explode("__ds").alias("id_a"), "__ds")
        .select(
            "id_a",
            F.explode(F.filter("__ds", lambda d: d > F.col("id_a"))).alias(
                "id_b"
            ),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__rc"))
    )
    hot_sets = (
        h.join(hot_list, "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("__h").alias("__hs"))
    )
    sizes = arrs.select(
        F.col(id_col), F.size(F.col(arr_col)).alias("sz")
    )
    info = sizes.join(hot_sets, id_col, "left")
    sa = info.select(
        F.col(id_col).alias("id_a"),
        F.col("sz").alias("sz_a"),
        F.col("__hs").alias("__hs_a"),
    )
    sb = info.select(
        F.col(id_col).alias("id_b"),
        F.col("sz").alias("sz_b"),
        F.col("__hs").alias("__hs_b"),
    )
    hc = F.coalesce(F.size(F.array_intersect("__hs_a", "__hs_b")), F.lit(0))
    inter_c = F.col("__rc") + hc
    return (
        inter_rare.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            inter_c.alias("inter_cnt"),
            (inter_c / (F.col("sz_a") + F.col("sz_b") - inter_c)).alias(
                "jaccard"
            ),
            # set sizes ride the info join for free — containment
            # consumers (d12) read them instead of re-joining a sizes
            # frame per side.
            "sz_a",
            "sz_b",
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    col: str = "source",
    max_dist: int = 4,
    out_cols: tuple[str, str] = ("src_a", "src_b"),
) -> DataFrame:
    """All distinct-value pairs within ``max_dist`` edit distance,
    via length-band blocking instead of an all-pairs theta join.

    Levenshtein distance is lower-bounded by the length difference, so
    a pair with |len_a - len_b| > max_dist can never match. Bucket
    lengths into width-(max_dist+1) bands; one side joins its own
    bucket, the other explodes to its {b-1, b, b+1} neighborhood —
    every qualifying pair lands on exactly one shared key (the single-
    bucket side's), so the equi-join emits each pair once, and fan-out
    per bucket is bounded by the bucket population, never the full
    distinct-value square. The result set is identical to the
    unblocked join (blocking is sound), so oracles need no change.
    """
    la, lb = out_cols
    w = max_dist + 1
    vals = df.select(col).distinct().select(
        F.col(col), (F.length(col) / w).cast("int").alias("__b")
    )
    a = vals.select(
        F.col(col).alias(la),
        F.explode(
            F.array(F.col("__b") - 1, F.col("__b"), F.col("__b") + 1)
        ).alias("__b"),
    )
    b = vals.select(F.col(col).alias(lb), "__b")
    return (
        a.join(b, "__b")
        .filter(
            (F.col(la) < F.col(lb))
            & (F.abs(F.length(la) - F.length(lb)) <= max_dist)
        )
        .select(la, lb, F.levenshtein(la, lb).alias("dist"))
        .filter(F.col("dist") <= max_dist)
    )


def plan_lsh_bands(
    num_hashes: int, threshold: float
) -> tuple[int, int]:
    """Pick (bands, rows) for a target Jaccard threshold.

    The LSH S-curve crosses 1/2 near t ≈ (1/b)^(1/r); choose the
    divisor pair of ``num_hashes`` whose implied threshold is closest
    to the target. Driver-side pure math — lets callers say
    "threshold=0.5" instead of hand-tuning band geometry.
    """
    best: tuple[float, int, int] | None = None
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        implied = (1.0 / bands) ** (1.0 / rows)
        err = abs(implied - threshold)
        if best is None or err < best[0]:
            best = (err, bands, rows)
    assert best is not None
    return best[1], best[2]


def band_plan_table(spark, num_hashes: int = 16, grid: int = 20) -> DataFrame:
    """The LSH S-curve P(candidate | jaccard) for EVERY power-of-two
    (bands, rows_per_band) factorization of ``num_hashes``, on a
    ``1/grid``-step Jaccard grid — the distributed, oracle-checkable
    generalization of d20's single-geometry curve and the scoring table
    behind the threshold-driven planner (d21): given a target
    threshold, the geometry minimizing S-curve error mass is read off
    this table (plan_lsh_bands is the closed-form driver-side
    shortcut; this table is the engine-checked ground truth).

    Determinism contract (cross-engine, host-independent): grid points
    are exact rationals i/grid; j^r and (1-j^r)^b are EXPLICIT
    repeated-squaring ladders (pure correctly-rounded IEEE multiplies,
    never libm pow), and the probability is surfaced as
    floor(p*1e6 + 0.5) — an exact integer micro, so downstream sums
    are order-independent bigint arithmetic.

    Scale: |log2(num_hashes)+1| geometries x (grid-1) points of
    literal-range arithmetic — the planning table is free; callers
    join it broadcast."""
    kmax = num_hashes.bit_length() - 1
    if 2**kmax != num_hashes:
        raise ValueError("num_hashes must be a power of two")
    geo = local_frame(
        spark, [(num_hashes // (2**k), 2**k) for k in range(kmax + 1)],
        "bands int, rows_per_band int",
    )
    pts = spark.range(1, grid).select(
        F.col("id").cast("int").alias("i"),
        (F.col("id").cast("double") / grid).alias("jp0"),
    )
    for k in range(1, kmax + 1):
        pts = pts.withColumn(f"jp{k}", F.col(f"jp{k-1}") * F.col(f"jp{k-1}"))
    # tiny literal-range join; broadcast the grid side explicitly so
    # the plan is a BroadcastNestedLoopJoin, not a CartesianProduct
    e = geo.crossJoin(F.broadcast(pts))
    jr = F.when(F.col("rows_per_band") == 1, F.col("jp0"))
    for k in range(1, kmax + 1):
        jr = jr.when(F.col("rows_per_band") == 2**k, F.col(f"jp{k}"))
    e = e.select(
        "bands", "rows_per_band", "i", (F.lit(1.0) - jr).alias("yp0")
    )
    for k in range(1, kmax + 1):
        e = e.withColumn(f"yp{k}", F.col(f"yp{k-1}") * F.col(f"yp{k-1}"))
    yb = F.when(F.col("bands") == 1, F.col("yp0"))
    for k in range(1, kmax + 1):
        yb = yb.when(F.col("bands") == 2**k, F.col(f"yp{k}"))
    p_micro = F.floor((F.lit(1.0) - yb) * 1000000 + F.lit(0.5)).cast("bigint")
    return e.select("bands", "rows_per_band", "i", p_micro.alias("p_micro"))


def _lsh_scored_candidates(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """Shared core of the MinHash-LSH near-dup family: FUSED
    signature+set aggregation (the minhash minima AND the per-doc
    shingle set come out of ONE groupBy over the shingle index, so the
    index is shuffled once), banded candidate generation, and the
    per-candidate exact counts. Returns
    (id_a, id_b, __ic, __szsum) — intersection size and size sum —
    from which the float-Jaccard (minhash_lsh_dedup) and the
    integer-micro (minhash_lsh_pairs_micro) scores both derive, so
    the hash family / band geometry can never drift between them."""
    sh = shingles(docs, id_col, text_col, n)
    h1, h2 = _km_pair(F.md5(F.col("shingle")))
    base = sh.select(F.col(id_col), F.col("shingle"), h1.alias("__h1"), h2.alias("__h2"))
    # the bounded cache ledger keeps a long session from accumulating
    # one retained per_doc frame per LSH query (each query caches its
    # own); recency-keyed by plan, so the bench's cross-pass reuse is
    # untouched.
    per_doc = register_cached(
        base.groupBy(id_col)
        .agg(*_minhash_mins(num_hashes), F.collect_set("shingle").alias("__shs"))
        .cache()
    )
    sigs = per_doc.select(
        id_col,
        F.array(*[F.col(f"__mh{i}") for i in range(num_hashes)]).alias("sig"),
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_hashes // bands)
    sa = per_doc.select(F.col(id_col).alias("id_a"), F.col("__shs").alias("__sh_a"))
    sb = per_doc.select(F.col(id_col).alias("id_b"), F.col("__shs").alias("__sh_b"))
    ic = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("bigint")
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            ic.alias("__ic"),
            (
                F.size("__sh_a").cast("bigint")
                + F.size("__sh_b").cast("bigint")
            ).alias("__szsum"),
        )
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.05,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH -> verify.

    Returns verified near-duplicate pairs (id_a, id_b, jaccard) with
    exact Jaccard >= threshold among LSH candidates. The defaults are
    the engine's one near-dup geometry: word 3-gram shingles, 16
    hashes in 8 bands of 2 rows, Jaccard >= 0.05.
    """
    scored = _lsh_scored_candidates(docs, id_col, text_col, n, num_hashes, bands)
    verified = scored.select(
        "id_a",
        "id_b",
        (F.col("__ic") / (F.col("__szsum") - F.col("__ic"))).alias("jaccard"),
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def minhash_lsh_pairs_micro(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """minhash_lsh_dedup's candidate chain, but scoring every LSH
    candidate with the EXACT INTEGER micro-Jaccard
    (ic·1e6 floor-div union) and no threshold — for consumers that
    bucket or compare the score against integer thresholds (x66) and
    must agree bit-for-bit with an integer-arithmetic oracle (a
    rounded float Jaccard differs from the floor by 1 micro on
    round-up, which can cross a threshold).

    Returns (id_a, id_b, j_micro). Same scale contract as
    minhash_lsh_dedup: banded candidates, candidate-only verify."""
    return _lsh_scored_candidates(
        docs, id_col, text_col, n, num_hashes, bands
    ).select(
        "id_a",
        "id_b",
        F.expr(
            "CAST(__ic * 1000000 div (__szsum - __ic) AS BIGINT)"
        ).alias("j_micro"),
    )


def near_dup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup CLUSTERS from verified pairs (id_a, id_b): (id, lbl),
    lbl = the min id reached by 3 rounds of label propagation
    (graph.connected_components). Docs in no pair get no row; callers
    that need every doc left-join and coalesce."""
    return graph.connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        iterations=3,
    )


def soft_dedup_weights(docs: DataFrame) -> DataFrame:
    """SOFT dedup (d19): ``docs`` (doc_id, text, ...) with its near-dup
    ``cluster_size`` (1 for a doc in no cluster) and the training
    weight ``weight_micro`` = 1e6 div cluster size, so every duplicate
    cluster contributes one document's worth of signal. A left join of
    every doc onto near_dup_clusters(minhash_lsh_dedup(docs))."""
    labels = near_dup_clusters(minhash_lsh_dedup(docs))
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("__csz"))
    return (
        docs.join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .join(sizes, "lbl", "left")
        .drop("lbl")
        .withColumn("cluster_size", F.coalesce("__csz", F.lit(1)))
        .withColumn(
            "weight_micro",
            F.expr("CAST(1000000 div COALESCE(__csz, 1) AS BIGINT)"),
        )
        .drop("__csz")
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """60-bit SimHash per document from unigram token hashes.

    Classic Charikar scheme: each distinct token contributes +1/-1 to
    each bit position according to its 60-bit md5-derived hash; the
    sign of each bit-sum forms the fingerprint. All ``bits`` bit-sums
    are parallel aggregates in a SINGLE groupBy pass (the same
    map-side-combine shape as minhash_signatures) — the naive
    bit-explode would push bits x tokens rows through the shuffle for
    identical results.
    """
    # distinct-per-doc happens INSIDE the token array (array_distinct
    # before explode) — identical semantics to a global .distinct() on
    # (id, tok), a token can only repeat within its own doc, but zero
    # shuffle (the same saving shingles() already banks).
    toks = docs.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(tokenize(F.lower(strip_punct(F.col(text_col)))))
        ).alias("tok"),
    )
    hashed = toks.select(id_col, stable_long_hash(F.col("tok")).alias("h"))
    # Bit-sliced ones-counting (r7; values unchanged): instead of one
    # SUM(±1) aggregate per bit (60 expressions per row — measured as
    # d4's dominant cost at sf0.1, 0.76 of 2.1 s), pack THREE bit
    # counts into 21-bit lanes of one bigint and aggregate 20 sums:
    # lane word = (h>>b & 1) | (h>>b+1 & 1)<<21 | (h>>b+2 & 1)<<42.
    # Each lane holds a per-doc ones-count up to 2^21-1 ≈ 2M distinct
    # tokens/doc (a >10 MB document) before overflow — documented
    # bound, far beyond any real doc. The sign test becomes
    # 2*ones > n (ones = count of 1-bits, n = distinct tokens), which
    # equals the old sum-of-±1 > 0 exactly.
    # lanes rounds UP so bits not divisible by 3 (e.g. 64) get a
    # partial final lane instead of the fingerprint loop referencing a
    # nonexistent __w column (ADVICE r7); out-of-range sub-bits are
    # simply not packed.
    lanes = (bits + 2) // 3
    # r12: both the lane words and the fingerprint assembly are built
    # as SQL STRINGS parsed by ONE F.expr call each. The previous
    # Column-algebra construction (60 when-terms + 20 three-part lane
    # words, every F.* call a py4j round trip) spent ~1.3 s of every
    # invocation BUILDING the expression tree on the Python side
    # (measured with a build/plan/exec split at sf0.1: d4 = 1.33 s
    # build vs 0.55 s exec). The parsed expressions are semantically
    # identical (same shifts, masks, casts), so plan and values are
    # unchanged — pinned by tests/test_dedup_guards.py value tests.

    def _lane_word_sql(w: int) -> str:
        parts = [f"(shiftright(h, {3 * w}) & 1)"]
        for k in (1, 2):
            if 3 * w + k < bits:
                parts.append(
                    f"shiftleft(shiftright(h, {3 * w + k}) & 1, {21 * k})"
                )
        return " + ".join(parts)

    aggs = [
        F.expr(f"sum({_lane_word_sql(w)})").alias(f"__w{w}")
        for w in range(lanes)
    ] + [F.count(F.lit(1)).alias("__n")]
    per_doc = hashed.groupBy(id_col).agg(*aggs)
    terms = []
    for b in range(bits):
        ones = f"(shiftright(__w{b // 3}, {21 * (b % 3)}) & {(1 << 21) - 1})"
        terms.append(
            f"(CASE WHEN {ones} * 2 > __n THEN CAST({2**b} AS BIGINT)"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    fingerprint = F.expr(" + ".join(terms))
    return per_doc.select(id_col, fingerprint.alias("simhash"))


def simhash_hamming_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded.

    Pigeonhole blocking: split the fingerprint into ``bands`` equal
    bit-slices; any pair within Hamming distance < bands must agree on
    at least one whole slice, so candidates = docs sharing (band,
    slice-value) — an equi-join, never an all-pairs XOR scan. Verify
    with bit_count(xor) <= max_hamming. (Guaranteed-complete recall
    requires max_hamming < bands; larger thresholds trade recall for
    the same cost, the standard production setting.)
    """
    width = bits // bands
    # integer shiftright per band — double division would lose
    # precision above 2^53 and mis-bucket high bits
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            (F.shiftright(F.col(sim_col), i * width) % F.lit(2**width)).alias(
                "bval"
            ),
        )
        for i in range(bands)
    ]
    banded = fingerprints.select(
        F.col(id_col), F.col(sim_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, sim_col, F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval"))
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col(sim_col).alias("__sa"), "band", "bval"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col(sim_col).alias("__sb"), "band", "bval"
    )
    cands = (
        a.join(b, ["band", "bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        cands.select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def chunk_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> DataFrame:
    """Deterministic fixed-width token chunks — the "paragraph" unit
    for span-level dedup on corpora whose documents carry no explicit
    paragraph breaks: (id, chunk_idx, chunk).

    Chunk i covers tokens [i*width, (i+1)*width); the ragged tail is
    kept. Pure higher-order array functions (sequence + slice inside
    one projection), so chunking is a narrow map — no shuffle, no UDF.
    """
    toks = _doc_tokens(docs, id_col, text_col)
    n_chunks = F.greatest(
        F.ceil(F.size("__toks") / F.lit(float(width))).cast("long"), F.lit(1)
    )
    return (
        toks.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
                    lambda i: F.concat_ws(
                        " ", F.slice("__toks", i * width + 1, width)
                    ),
                )
            ).alias("chunk_idx", "chunk"),
        )
        .filter(F.col("chunk") != "")
    )


def chunk_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    width: int = 8,
) -> DataFrame:
    """Span-level (CCNet-style) dedup: drop every repeated chunk except
    its global first occurrence, then reassemble per-document stats:
    (id, n_chunks, n_kept, kept_md5).

    "First occurrence" is the corpus-global minimum (doc id, chunk
    position) for the chunk's content — a deterministic survivor rule,
    so re-runs keep the identical spans. kept_md5 fingerprints the
    surviving text (kept chunks joined in document order), which is
    what a downstream exact-dedup or storage layer would key on.

    Scale: one shuffle partitioned BY CHUNK CONTENT for the
    first-occurrence window (equivalently a min-aggregate + equi-join;
    the window form shuffles once and never materializes the
    dup-count histogram), one shuffle by document for reassembly.
    Hot chunks (the boilerplate being deduplicated) bound each
    content-partition by that chunk's occurrence count; at fleet scale
    the window runs over md5(chunk) keys, so the shuffle moves hashes
    plus positions, not full spans.
    """
    chunks = chunk_spans(docs, id_col, text_col, width)
    w = Window.partitionBy("chunk").orderBy(F.col(id_col).asc(), F.col("chunk_idx").asc())
    flagged = chunks.withColumn("__keep", F.row_number().over(w) == 1)
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("chunk_idx", "__keep", "chunk")
                                )
                            ),
                            lambda x: x["__keep"],
                        ),
                        lambda x: x["chunk"],
                    ),
                    "|",
                )
            ).alias("kept_md5"),
        )
    )


def duplicated_spans(
    docs: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate SPAN detection (the deduplicate-
    training-data strategy of Lee et al. 2021, arXiv:2107.06499,
    approximated at token-k-gram granularity instead of a suffix
    array): a token k-gram occurring more than once ANYWHERE in the
    corpus marks its positions as duplicated; per document,
    overlapping/adjacent duplicated grams merge into maximal spans
    (interval-island merge), the unit a span-level dedup would cut.

    Returns one row per document that contains at least one duplicated
    span: n_spans, max_span_tokens (longest span), covered_tokens
    (tokens inside any span), n_tokens.

    Scale (the suffix-array rewrite for a cluster): gram occurrence
    counting is a hash aggregation on the gram — one shuffle, no pair
    explosion, hot grams cost one counter each via map-side partial
    aggregation. Re-marking positions is an equi-join of the position
    index against the duplicated-gram set on the same key (AQE handles
    skewed boilerplate grams). The island merge is a per-document
    window — one shuffle by document. Everything is linear in corpus
    size; nothing is quadratic in duplicates.
    """
    toks = docs.select(
        F.col(id_col), tokenize(F.lower(strip_punct(F.col(text_col)))).alias("__t")
    ).filter(F.size("__t") >= k)
    gram_structs = F.transform(
        F.sequence(F.lit(1), F.size("__t") - (k - 1)),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.concat_ws(" ", F.slice("__t", i, k)).alias("gram"),
        ),
    )
    gp = toks.select(
        id_col, F.size("__t").alias("n_tokens"), F.explode(gram_structs).alias("g")
    ).select(id_col, "n_tokens", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    dup = (
        gp.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("gram")
    )
    marked = gp.join(dup, "gram")
    w = Window.partitionBy(id_col).orderBy("pos")
    run = Window.partitionBy(id_col).orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spans = (
        marked.withColumn(
            "__brk",
            F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0),
        )
        .withColumn("__isl", F.sum("__brk").over(run))
        .groupBy(id_col, "n_tokens", "__isl")
        .agg(
            F.min("pos").alias("__s"),
            (F.max("pos") + (k - 1)).alias("__e"),
        )
        .withColumn("__len", F.col("__e") - F.col("__s") + 1)
    )
    return spans.groupBy(id_col, "n_tokens").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.max("__len").alias("max_span_tokens"),
        F.sum("__len").alias("covered_tokens"),
    ).select(id_col, "n_spans", "max_span_tokens", "covered_tokens", "n_tokens")


def sorted_neighborhood_pairs(
    df: DataFrame,
    key: Column | str,
    id_col: str = "doc_id",
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo 1995), the
    third blocking family in this module beside LSH banding and
    length-band blocking: order records by a normalized blocking key,
    then compare each record only to its ``window`` successors in
    that order. Emits candidate pairs
    (a_id, a_key, b_id, b_key, rank_gap) with a_rank < b_rank.

    Implementation is one global rank in (key, id) order + an explode
    of offsets 1..window + an EQUI-join on rank+offset = rank — linear
    candidate volume (n·window), never a theta join. The rank rides
    ordered.global_row_numbers over a (key, id) STRUCT key (range
    partition + local window + broadcast offsets — VERDICT r7 item 4:
    this was the repo's last corpus-sized single-partition
    Window.orderBy); ranks are identical to the naive global window
    because the composite key is unique, and every stage is parallel.
    """
    from hi_csa_db_spark.operators import ordered

    keyed = df.select(
        F.col(id_col).alias("__id"), F.col(key).alias("__k") if isinstance(key, str) else key.alias("__k")
    )
    ranked = (
        ordered.global_row_numbers(
            keyed.withColumn("__key", F.struct(F.col("__k"), F.col("__id"))),
            "__key",
        )
        .withColumnRenamed("rank", "__r")
        .drop("__key")
    )
    a = ranked.select(
        F.col("__id").alias("a_id"),
        F.col("__k").alias("a_key"),
        F.col("__r").alias("__ra"),
        F.explode(
            F.array(*[F.col("__r") + F.lit(i) for i in range(1, window + 1)])
        ).alias("__rb"),
    )
    b = ranked.select(
        F.col("__id").alias("b_id"),
        F.col("__k").alias("b_key"),
        F.col("__r").alias("__rb"),
    )
    return a.join(b, "__rb").select(
        "a_id",
        "a_key",
        "b_id",
        "b_key",
        (F.col("__rb") - F.col("__ra")).alias("rank_gap"),
    )
