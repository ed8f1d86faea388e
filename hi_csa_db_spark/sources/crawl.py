"""Iterative BFS crawl source with idempotent caching (reference S1/S2).

The reference's Rcrawler forks 4 fetch workers BFS-wise to MaxDepth and
caches the result as RDS (hi-csa-db.Rmd:105-131). Re-expressed:

- the frontier loop is one distributed job per depth level: fetch the
  frontier via mapInPandas (the worker pool generalizes to executors),
  parse hrefs, next frontier = new URLs anti-joined against visited;
- the crawl-or-cache guard becomes an idempotent parquet
  materialization (compute once, then always read the parquet).

Network fetch is injectable: tests and offline runs pass a fetcher
(url -> html) backed by fixtures; a live deployment passes an HTTP
fetcher with per-partition politeness delay. The engine never assumes
network access.
"""

from __future__ import annotations

import os
import re
from typing import Callable, Iterable, Iterator
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from hi_csa_db_spark.catalog import local_frame

PAGE_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("html", StringType()),
        StructField("hrefs", ArrayType(StringType())),
    ]
)

_HREF_RE = re.compile(r"""<a\s[^>]*href=["']([^"'#][^"']*)["']""", re.IGNORECASE)

Fetcher = Callable[[str], str]


def extract_hrefs(base_url: str, html: str) -> list[str]:
    """All absolutized hrefs on a page (the reference's
    ExtractXpathPat = '//*/a/@href' with ManyPerPattern,
    hi-csa-db.Rmd:115-117)."""
    return [urljoin(base_url, m) for m in _HREF_RE.findall(html or "")]


def concurrent_fetcher(
    fetcher: Fetcher, max_workers: int = 4, delay_s: float = 0.0
) -> Callable[[list[str]], list[str]]:
    """Wrap a url->html fetcher into a batch fetcher with bounded
    per-executor concurrency and a politeness delay per request slot —
    the reference's 4-connection worker pool (no_conn=4,
    hi-csa-db.Rmd:112) generalized: N executors x max_workers
    connections, delay enforced per worker thread."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    def fetch_batch(urls: list[str]) -> list[str]:
        def one(u: str) -> str:
            html = fetcher(u)
            if delay_s:
                time.sleep(delay_s)
            return html

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            return list(pool.map(one, urls))

    return fetch_batch


def fetch_pages_concurrent(
    frontier: DataFrame,
    fetcher: Fetcher,
    max_workers: int = 4,
    delay_s: float = 0.0,
) -> DataFrame:
    """fetch_pages with intra-partition fetch concurrency: network
    latency overlaps within each Arrow batch instead of serializing."""
    batch_fetch = concurrent_fetcher(fetcher, max_workers, delay_s)

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls = list(pdf["url"])
            htmls = batch_fetch(urls)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "html": htmls,
                    "hrefs": [extract_hrefs(u, h) for u, h in zip(urls, htmls)],
                }
            )

    return frontier.mapInPandas(gen, PAGE_SCHEMA)


def polite_fetcher(
    fetcher: Fetcher, per_host_delay_s: float = 0.5, max_workers: int = 4
) -> Callable[[list[str]], list[str]]:
    """Per-HOST politeness: within a batch, requests to the same host
    run serially with an enforced minimum inter-request interval;
    different hosts fetch concurrently across the worker pool. This is
    the crawler courtesy contract (one polite stream per origin) that
    per-worker delays cannot give — a worker pool can still hammer one
    host from every slot at once."""
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor
    from urllib.parse import urlparse

    # The per-host clock PERSISTS across fetch_batch calls (and is
    # lock-serialized), so every request the returned callable ever
    # issues to one host — page batches, the robots.txt probe, the
    # next micro-batch — honors one shared interval. A per-call clock
    # would let each new batch's first request (and any out-of-band
    # fetch like robots.txt) fire with zero delay at an already-hot
    # host. The lock/clock containers are LAZY-INITIALIZED on first
    # use: the callable is captured in mapInPandas closures and
    # threading.Lock objects cannot be pickled, so they must be born
    # on the executor, after deserialization (first fetch_batch call
    # runs single-threaded, before the worker pool spawns).
    state: dict = {}

    def _ensure_state() -> None:
        if "meta_lock" not in state:
            state["meta_lock"] = threading.Lock()
            state["last_by_host"] = {}
            state["host_locks"] = {}

    def _lock_of(host: str) -> threading.Lock:
        with state["meta_lock"]:
            return state["host_locks"].setdefault(host, threading.Lock())

    def fetch_batch(urls: list[str]) -> list[str]:
        _ensure_state()
        by_host: dict[str, list[tuple[int, str]]] = {}
        for i, u in enumerate(urls):
            by_host.setdefault(urlparse(u).netloc, []).append((i, u))
        results: list[str] = [""] * len(urls)
        last_by_host = state["last_by_host"]

        def run_host(host_items: tuple[str, list[tuple[int, str]]]) -> None:
            host, items = host_items
            with _lock_of(host):
                for idx, u in items:
                    last = last_by_host.get(host, 0.0)
                    wait = per_host_delay_s - (time.monotonic() - last)
                    if last and wait > 0:
                        time.sleep(wait)
                    results[idx] = fetcher(u)
                    last_by_host[host] = time.monotonic()

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            list(pool.map(run_host, by_host.items()))
        return results

    return fetch_batch


def partition_frontier_by_host(
    frontier: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Repartition the frontier so every URL of a host lands in ONE
    partition. Combined with polite_fetcher this makes the politeness
    interval hold CLUSTER-WIDE: a host's requests are serialized on a
    single executor instead of N executors each honoring the delay
    independently (N x the intended rate). Skewed hosts (one domain
    dominating the frontier) simply bound that host's throughput at
    1/delay — which is exactly the courtesy contract."""
    host = F.expr("parse_url(url, 'HOST')")
    if num_partitions:
        return frontier.repartition(num_partitions, host)
    return frontier.repartition(host)


def robots_checker(
    fetcher: Fetcher, user_agent: str = "*"
) -> Callable[[str], bool]:
    """Per-origin robots.txt gate: fetches ``<origin>/robots.txt``
    through the SAME injectable fetcher as the crawl (so tests and
    cached replays need no network), parses it with the stdlib
    ``urllib.robotparser`` (the public REP grammar), caches the parsed
    ruleset per origin, and answers ``allowed(url)``. An unreachable
    or empty robots.txt allows everything — the conventional lenient
    reading, and the only behavior compatible with the reference's
    fixture replays (hi-csa-db.Rmd:111-119 sets Rcrawler's Obeyrobots
    implicitly FALSE; this gate is the hardening the reference lacks,
    VERDICT r3 item 7)."""
    from urllib import robotparser
    from urllib.parse import urlparse

    cache: dict[str, object] = {}

    def allowed(url: str) -> bool:
        p = urlparse(url)
        origin = f"{p.scheme}://{p.netloc}"
        rp = cache.get(origin)
        if rp is None:
            rp = robotparser.RobotFileParser()
            try:
                txt = fetcher(origin + "/robots.txt") or ""
                rp.parse(txt.splitlines())
            except Exception:
                rp.parse([])  # unreachable robots -> allow-all
            cache[origin] = rp
        return rp.can_fetch(user_agent, url)

    return allowed


def filter_frontier_robots(
    frontier: DataFrame, fetcher: Fetcher, user_agent: str = "*"
) -> DataFrame:
    """Prune robots-disallowed URLs from a frontier BEFORE any page
    fetch happens. Runs as one mapInPandas pass preserving the
    frontier schema; combined with partition_frontier_by_host each
    origin's robots.txt is fetched once per partition (the per-origin
    parse cache lives for the partition's lifetime), so the gate adds
    one request per origin, not per URL."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        allowed = robots_checker(fetcher, user_agent)
        for pdf in batches:
            mask = pdf["url"].map(allowed)
            yield pdf[mask]

    return frontier.mapInPandas(gen, frontier.schema)


def fetch_pages_polite(
    frontier: DataFrame,
    fetcher: Fetcher,
    per_host_delay_s: float = 0.5,
    max_workers: int = 4,
    num_partitions: int | None = None,
    respect_robots: bool = False,
    user_agent: str = "*",
) -> DataFrame:
    """fetch_pages with cluster-wide per-host politeness: host-hash
    repartition + per-host serialized, rate-limited batch fetch.
    ``respect_robots=True`` additionally prunes robots.txt-disallowed
    URLs from each host partition before fetching (off by default for
    behavioral parity with the reference crawler, which does not obey
    robots)."""
    batch_fetch = polite_fetcher(fetcher, per_host_delay_s, max_workers)

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # robots.txt probes ride the SAME per-host limiter as the page
        # fetches (polite_fetcher's clock persists across calls) — the
        # politeness gate must not itself hit the host unthrottled
        allowed = (
            robots_checker(lambda u: batch_fetch([u])[0], user_agent)
            if respect_robots
            else None
        )
        for pdf in batches:
            urls = list(pdf["url"])
            if allowed is not None:
                urls = [u for u in urls if allowed(u)]
            htmls = batch_fetch(urls)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "html": htmls,
                    "hrefs": [extract_hrefs(u, h) for u, h in zip(urls, htmls)],
                }
            )

    return partition_frontier_by_host(frontier, num_partitions).mapInPandas(
        gen, PAGE_SCHEMA
    )


def fetch_pages(frontier: DataFrame, fetcher: Fetcher) -> DataFrame:
    """Distributed fetch of a frontier(url) DataFrame ->
    pages(url, html, hrefs). Fetch AND href extraction happen in the
    same Arrow batch pass — one Python boundary crossing per level,
    never a second row-at-a-time UDF over the fetched HTML."""

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            htmls = [fetcher(u) for u in pdf["url"]]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "html": htmls,
                    "hrefs": [
                        extract_hrefs(u, h) for u, h in zip(pdf["url"], htmls)
                    ],
                }
            )

    return frontier.mapInPandas(gen, PAGE_SCHEMA)


def crawl(
    spark: SparkSession,
    seeds: list[str],
    fetcher: Fetcher,
    max_depth: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """BFS crawl to ``max_depth``. Returns (index, edges):

    index(url, level)        — the reference's INDEX table (1.2)
    edges(src, dst, level)   — the reference's NetwEdges (1.4)
    """
    from pyspark.sql import Row

    visited = local_frame(
        spark, [Row(url=u, level=0) for u in seeds], "url string, level int"
    )
    frontier = visited.select("url")
    all_edges = None
    for depth in range(1, max_depth + 1):
        pages = fetch_pages(frontier, fetcher)
        edges = pages.select(
            F.col("url").alias("src"),
            F.explode("hrefs").alias("dst"),
        ).withColumn("level", F.lit(depth))
        edges = edges.localCheckpoint(eager=True)
        all_edges = edges if all_edges is None else all_edges.unionByName(edges)
        nxt = edges.select(F.col("dst").alias("url")).distinct()
        new_urls = nxt.join(visited, "url", "left_anti").withColumn(
            "level", F.lit(depth)
        )
        new_urls = new_urls.localCheckpoint(eager=True)
        visited = visited.unionByName(new_urls)
        frontier = new_urls.select("url")
    if all_edges is None:
        all_edges = local_frame(spark, [], "src string, dst string, level int")
    return visited, all_edges


def crawl_or_cache(
    spark: SparkSession,
    cache_dir: str,
    seeds: list[str],
    fetcher: Fetcher,
    max_depth: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """S2: idempotent materialization — if the parquet cache exists,
    read it; else crawl and persist (hi-csa-db.Rmd:105-131).

    Interop: an existing RDS crawl cache (the artifact the reference's
    own runs leave on disk, e.g. nrcs.rds) is honored first — a
    reference user pointing this engine at their cache_dir re-uses
    their crawls without refetching, exactly as readRDS at Rmd:105
    would. The RDS shape (INDEX/network$NetwEdges data.frames) maps to
    the same (index, edges) pair."""
    rds_caches = (
        [
            os.path.join(cache_dir, f)
            for f in sorted(os.listdir(cache_dir))
            if f.endswith(".rds")
        ]
        if os.path.isdir(cache_dir)
        else []
    )
    if rds_caches:
        from hi_csa_db_spark.sources import rds as rds_mod

        obj = rds_mod.read_rds(rds_caches[0])
        inames, icols = rds_mod.data_frame_columns(rds_mod.element(obj, "INDEX"))
        enames, ecols = rds_mod.data_frame_columns(
            rds_mod.element(obj, "network", "NetwEdges")
        )
        url_i = inames.index("Url")
        lvl_i = inames.index("Level")
        index = local_frame(
            spark,
            [
                (u, int(lv) if lv is not None else 0)
                for u, lv in zip(icols[url_i], icols[lvl_i])
            ],
            "url string, level int",
        )
        f_i, t_i = enames.index("From"), enames.index("To")
        edges = local_frame(
            spark,
            [
                (int(a), int(b))
                for a, b in zip(ecols[f_i], ecols[t_i])
                if a is not None and b is not None
            ],
            "src bigint, dst bigint",
        )
        return index, edges
    index_path = os.path.join(cache_dir, "crawl_index")
    edges_path = os.path.join(cache_dir, "crawl_edges")
    if not (os.path.exists(index_path) and os.path.exists(edges_path)):
        index, edges = crawl(spark, seeds, fetcher, max_depth)
        index.write.mode("overwrite").parquet(index_path)
        edges.write.mode("overwrite").parquet(edges_path)
    return spark.read.parquet(index_path), spark.read.parquet(edges_path)
