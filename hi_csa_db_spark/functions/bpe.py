"""Byte-pair-encoding application: the tokenizer-side half of BPE
(Sennrich et al. 2016, arXiv:1508.07909 — public method).

Training learns an ordered merge list; APPLYING it segments a word by
repeatedly merging the lowest-rank adjacent pair — exactly what a
GPT-style tokenizer does per word at inference. The merge list is a
small broadcastable artifact; application is pure per-word compute, so
the Spark operator is an Arrow-batched mapInPandas with a per-executor
word cache (corpus words repeat heavily — the cache turns per-token
cost into per-distinct-word cost).

The char-pair COUNTING that picks training merges is a plain
aggregation — see queries.x28_bpe_first_merges (oracle-checked); this
module is the iterative per-word kernel that SQL can't express.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hi_csa_db_spark.catalog import local_frame

# A fixed demonstration merge list (rank = position). A real deployment
# loads the learned list as a side input; the kernel is identical.
DEFAULT_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("a", "t"), ("s", "t"),
    ("e", "n"), ("o", "r"), ("a", "r"), ("in", "g"), ("e", "s"),
]


def apply_bpe(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Segment one word: start from characters, repeatedly merge the
    adjacent pair with the LOWEST rank until no mergeable pair remains
    (the standard greedy BPE apply loop)."""
    pieces = list(word)
    while len(pieces) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(pieces) - 1):
            r = ranks.get((pieces[i], pieces[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        pieces[best_i : best_i + 2] = [pieces[best_i] + pieces[best_i + 1]]
    return pieces


BPE_COUNT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ws_tokens", IntegerType()),
        StructField("bpe_tokens", IntegerType()),
    ]
)


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, ws_tokens, bpe_tokens): whitespace token count vs count
    after BPE segmentation — the real token-budget number a training
    pipeline plans against. mapInPandas; the merge list rides the
    closure (broadcast-small); per-executor lru_cache makes cost
    proportional to DISTINCT words per partition."""
    ranks = {p: i for i, p in enumerate(merges or DEFAULT_MERGES)}

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        @lru_cache(maxsize=1 << 16)
        def n_pieces(word: str) -> int:
            return len(apply_bpe(word, ranks))

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                words = [w for w in (text or "").lower().split() if w]
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "ws_tokens": len(words),
                        "bpe_tokens": sum(n_pieces(w) for w in words),
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "ws_tokens", "bpe_tokens"])

    return docs.select(id_col, text_col).mapInPandas(gen, BPE_COUNT_SCHEMA)


def bpe_train(words: DataFrame, rounds: int = 4, word_col: str = "w") -> DataFrame:
    """FULL multi-round BPE training loop (Sennrich et al. 2016): each
    round counts adjacent symbol pairs over the currently-segmented
    corpus, takes the most frequent pair (count desc, decoded-string
    tie-break), and re-segments by replacing that pair with a fresh
    sentinel symbol. Returns the learned merge list: one row per round
    (round, merge, n) with the merge decoded back to its full string.

    The per-round winner is MATERIALIZED on the driver (a 1-row
    collect): BPE training is sequential by definition — round r's
    counting depends on round r-1's merge — and the merge list is the
    training artifact itself, so per-round materialization is the
    algorithm's contract (same shape as every reference BPE trainer),
    not an accidental eager action. Keeping the winner as a literal in
    the next round's plan also keeps each round's lineage LINEAR
    (corpus scan + narrow replace chain + one map-combined
    aggregation); feeding the winner back as a nested subquery instead
    would double the plan tree every round. At fleet scale each round
    is one shuffle of (pair, partial count) — hot pairs cost one
    counter per partition — and a production loop would persist the
    re-segmented words every few rounds exactly like graph.pagerank
    localCheckpoints its ranks.
    """
    from pyspark.sql import functions as F

    spark = words.sparkSession
    decoded_exp: dict[str, str] = {}  # sentinel char -> fully decoded string
    cur = words.select(F.col(word_col).alias("w"))
    out_rows = []
    for r in range(1, rounds + 1):
        pairs = cur.filter(F.length("w") >= 2).select(
            F.explode(
                F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
            ).alias("sp")
        )
        dec = F.col("sp")
        for sent, exp in decoded_exp.items():
            dec = F.replace(dec, F.lit(sent), F.lit(exp))
        top = (
            pairs.groupBy("sp")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), dec.asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        raw, n = top[0]["sp"], int(top[0]["n"])
        decoded = "".join(decoded_exp.get(c, c) for c in raw)
        sentinel = chr(r)
        decoded_exp[sentinel] = decoded
        out_rows.append((r, decoded, n))
        cur = cur.select(F.replace(F.col("w"), F.lit(raw), F.lit(sentinel)).alias("w"))
    schema = StructType(
        [
            StructField("round", IntegerType()),
            StructField("merge", StringType()),
            StructField("n", LongType()),
        ]
    )
    return local_frame(spark, out_rows, schema)
