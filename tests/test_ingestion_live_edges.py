"""End-to-end exercises of the live-ish ingestion edges (VERDICT r7
item 7): the BFS crawl frontier against a REAL local HTTP server at
depth 2 (the reference's ATTRA config — MaxDepth=2, 4 connections,
hi-csa-db.Rmd:299-304), and the Sheets REST reader's client-side
row-window pagination against a canned API transcript. Real sockets,
zero external network.

The crawl fixture site is shaped like the reference's measured
artifacts (BASELINE.md "pages fetched"): a hub page fanning out to
topic pages, topics fanning out to overlapping detail pages plus
back-links — so depth-level accounting, href dedup across parents,
and frontier anti-joins all carry weight.
"""

from __future__ import annotations

import json
import re
import threading
import urllib.parse
import urllib.request
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from hi_csa_db_spark.sources import crawl
from hi_csa_db_spark.sources.sheets_rest import fetch_values_paged

# ---------------------------------------------------------------- crawl

N_TOPICS = 12
DETAILS_PER_TOPIC = 4  # /p{4i}../p{4i+3}, plus shared /common + hub link


def _site_html(path: str) -> str | None:
    """Deterministic ATTRA-shaped site: / -> 12 topics -> 4 details
    each + a shared /common + a back-link to / (already-visited URLs
    and cross-parent duplicates must not re-enter the frontier)."""
    if path == "/":
        links = "".join(f'<a href="/t{i}">topic {i}</a>' for i in range(N_TOPICS))
        return f"<html><body><h1>hub</h1>{links}</body></html>"
    m = re.fullmatch(r"/t(\d+)", path)
    if m and int(m.group(1)) < N_TOPICS:
        i = int(m.group(1))
        links = "".join(
            f'<a href="/p{i * DETAILS_PER_TOPIC + j}">doc</a>'
            for j in range(DETAILS_PER_TOPIC)
        )
        return (
            f"<html><body>{links}"
            '<a href="/common">shared</a><a href="/">home</a></body></html>'
        )
    if re.fullmatch(r"/p\d+", path) or path == "/common":
        return "<html><body>leaf</body></html>"
    return None


class _SiteHandler(BaseHTTPRequestHandler):
    hits: list[str] = []
    lock = threading.Lock()

    def do_GET(self):  # noqa: N802
        with type(self).lock:
            type(self).hits.append(self.path)
        html = _site_html(self.path)
        if html is None:
            self.send_response(404)
            self.end_headers()
            return
        body = html.encode()
        self.send_response(200)
        self.send_header("Content-Type", "text/html")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture()
def site_server():
    _SiteHandler.hits = []
    srv = HTTPServer(("127.0.0.1", 0), _SiteHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", _SiteHandler
    srv.shutdown()


# a lambda, NOT a module-level def: cloudpickle ships lambdas by VALUE
# into the mapInPandas closure; a named test-module function would be
# pickled by reference and fail to import on executors.
_http_fetcher = lambda url: (  # noqa: E731
    urllib.request.urlopen(url, timeout=10).read().decode("utf-8")
)


def test_crawl_depth2_over_live_http(spark, site_server):
    """ATTRA config (depth 2) against a real HTTP origin, fetches
    running inside mapInPandas on executors. Exact INDEX/edge
    accounting in the shape of the reference's measured artifacts."""
    base, handler = site_server
    index, edges = crawl.crawl(
        spark, [base + "/"], _http_fetcher, max_depth=2
    )
    by_level = {
        r["level"]: r["n"]
        for r in index.groupBy("level").count().withColumnRenamed("count", "n").collect()
    }
    # level 0: the seed; level 1: 12 topics; level 2: 48 details +
    # /common discovered (the hub back-link is already visited).
    assert by_level == {
        0: 1,
        1: N_TOPICS,
        2: N_TOPICS * DETAILS_PER_TOPIC + 1,
    }
    # edges: 12 hub->topic at level 1; each topic emits 4 details +
    # common + hub = 6 at level 2 (edges record every href, visited or
    # not — the reference's NetwEdges does the same).
    lv = {r["level"]: r["n"] for r in edges.groupBy("level").count().withColumnRenamed("count", "n").collect()}
    assert lv == {1: N_TOPICS, 2: N_TOPICS * (DETAILS_PER_TOPIC + 2)}
    # the crawler fetched ONLY the frontier (seed + topics): level-2
    # discoveries are recorded, not fetched (MaxDepth honored).
    assert sorted(set(handler.hits)) == sorted(
        ["/"] + [f"/t{i}" for i in range(N_TOPICS)]
    )


def test_crawl_or_cache_live_http_is_idempotent(spark, site_server, tmp_path):
    """Second crawl_or_cache call serves from parquet — the origin
    sees ZERO additional requests (the reference's readRDS guard)."""
    base, handler = site_server
    d = str(tmp_path / "cache")
    i1, e1 = crawl.crawl_or_cache(
        spark, d, [base + "/"], _http_fetcher, max_depth=2
    )
    n_index, n_edges = i1.count(), e1.count()
    hits_after_first = len(handler.hits)
    assert hits_after_first > 0
    i2, e2 = crawl.crawl_or_cache(
        spark, d, [base + "/"], _http_fetcher, max_depth=2
    )
    assert (i2.count(), e2.count()) == (n_index, n_edges)
    assert len(handler.hits) == hits_after_first  # no refetch


# --------------------------------------------------------------- sheets

SHEET_ROWS = [["practice", "score"]] + [
    [f"p{i}", str(i)] for i in range(1, 26)  # 25 data rows + header
]


class _PagedSheetHandler(BaseHTTPRequestHandler):
    calls: list[str] = []

    def do_GET(self):  # noqa: N802
        type(self).calls.append(self.path)
        # /v4/spreadsheets/{id}/values/{range}; range A{r1}:ZZ{r2}
        rng = urllib.parse.unquote(self.path.rsplit("/", 1)[-1].split("?")[0])
        m = re.fullmatch(r"[^!]+!A(\d+):[A-Z]+(\d+)", rng)
        if m:
            lo, hi = int(m.group(1)), int(m.group(2))
            vals = SHEET_ROWS[lo - 1 : hi]
        else:
            vals = SHEET_ROWS
        body = json.dumps(
            {"range": rng, "majorDimension": "ROWS", "values": vals}
        ).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


@pytest.fixture()
def paged_sheet_server():
    _PagedSheetHandler.calls = []
    srv = HTTPServer(("127.0.0.1", 0), _PagedSheetHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", _PagedSheetHandler
    srv.shutdown()


def test_paged_fetch_requests_expected_windows(paged_sheet_server):
    base, handler = paged_sheet_server
    payload = fetch_values_paged(
        "sheet-id", sheet="Sheet1", page_rows=10, endpoint=base
    )
    # 26 rows / windows of 10 -> A1:ZZ10, A11:ZZ20, A21:ZZ30 (short)
    ranges = [
        urllib.parse.unquote(p.rsplit("/", 1)[-1]) for p in handler.calls
    ]
    assert ranges == ["Sheet1!A1:ZZ10", "Sheet1!A11:ZZ20", "Sheet1!A21:ZZ30"]
    assert payload["pages"] == 3
    assert payload["values"] == SHEET_ROWS


def test_paged_fetch_exact_multiple_costs_one_probe(paged_sheet_server):
    """25 data rows + header = 26 = 2 x 13: the stop rule needs one
    empty probe window to observe the end."""
    base, handler = paged_sheet_server
    payload = fetch_values_paged(
        "sheet-id", sheet="Sheet1", page_rows=13, endpoint=base
    )
    assert payload["pages"] == 3  # 13 + 13 + empty probe
    assert payload["values"] == SHEET_ROWS
    assert len(handler.calls) == 3
