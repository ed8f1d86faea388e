"""Live sheet ingest over the public Google Sheets REST API (v4).

The reference's primary data source is googlesheets4::read_sheet on
three workbooks (hi-csa-db.Rmd:15-16, 470-471, 490, 554). This module
implements the live half that sources/sheets.py (export files) leaves
out: the ``GET /v4/spreadsheets/{id}/values/{range}`` endpoint of the
public Sheets API, with API-key or Bearer-token auth, bounded retry
with backoff on 429/5xx, and ragged-row handling (the API omits
trailing empty cells per row).

Scale contract: a sheet is a DIMENSION table (the API hard-caps cells
per workbook in the low millions), so the fetch is a driver-side HTTP
GET and the result is created as a local DataFrame — the broadcast
side of downstream joins, never a distributed scan. Fan-out over MANY
sheets belongs in the crawl tier (sources/crawl.py politeness applies);
a single sheet read is one request plus retries.

The endpoint is injectable so tests (tests/test_sheets_rest.py) run
against a local http.server with canned API-shaped JSON — no network,
no credentials; the URL/payload contract is pinned from the public API
docs."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hi_csa_db_spark.sources.sheets import (
    align_to_schema,
    _blank_strings_to_null,
    normalize_headers,
)

DEFAULT_ENDPOINT = "https://sheets.googleapis.com"
DEFAULT_TOKEN_ENDPOINT = "https://oauth2.googleapis.com/token"


class OAuthTokenProvider:
    """OAuth 2.0 access-token acquisition/refresh for the Sheets API —
    parity with the reference's ``gs4_auth()`` interactive token flow
    (hi-csa-db.Rmd:15-16), reduced to the non-interactive
    refresh-token grant a headless pipeline actually uses (the public
    'OAuth 2.0 for Web Server Applications' contract: POST
    ``grant_type=refresh_token`` to the token endpoint, receive
    ``access_token`` + ``expires_in``).

    The provider caches the access token and refreshes it when absent,
    within ``skew_s`` of expiry, or when a caller reports a 401
    (``get(force_refresh=True)``). The token endpoint is injectable so
    tests exercise acquisition, expiry refresh, and the 401->refresh->
    retry path against a local http.server — no network, no real
    credentials."""

    def __init__(
        self,
        client_id: str,
        client_secret: str,
        refresh_token: str,
        token_endpoint: str = DEFAULT_TOKEN_ENDPOINT,
        timeout: float = 30.0,
        skew_s: float = 60.0,
    ):
        self.client_id = client_id
        self.client_secret = client_secret
        self.refresh_token = refresh_token
        self.token_endpoint = token_endpoint
        self.timeout = timeout
        self.skew_s = skew_s
        self._access_token: str | None = None
        self._expires_at: float = 0.0
        self.refresh_count = 0  # observability + test pin

    def _refresh(self) -> None:
        body = urllib.parse.urlencode(
            {
                "client_id": self.client_id,
                "client_secret": self.client_secret,
                "refresh_token": self.refresh_token,
                "grant_type": "refresh_token",
            }
        ).encode("ascii")
        req = urllib.request.Request(
            self.token_endpoint,
            data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"},
            method="POST",
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            payload = json.loads(resp.read().decode("utf-8"))
        if "access_token" not in payload:
            raise RuntimeError(f"token endpoint returned no access_token: {payload}")
        self._access_token = payload["access_token"]
        self._expires_at = time.time() + float(payload.get("expires_in", 3600))
        self.refresh_count += 1

    def get(self, force_refresh: bool = False) -> str:
        if (
            force_refresh
            or self._access_token is None
            or time.time() >= self._expires_at - self.skew_s
        ):
            self._refresh()
        assert self._access_token is not None
        return self._access_token


def fetch_values(
    spreadsheet_id: str,
    a1_range: str,
    api_key: str | None = None,
    token: str | None = None,
    endpoint: str = DEFAULT_ENDPOINT,
    timeout: float = 30.0,
    max_retries: int = 3,
    backoff_s: float = 0.5,
    token_provider: "OAuthTokenProvider | None" = None,
) -> dict:
    """GET one values range; returns the decoded API payload
    (``{"range": ..., "majorDimension": "ROWS", "values": [[...]]}``).
    Retries 429/5xx with exponential backoff; 4xx (other than 429 and
    401-with-provider) raise immediately — they are caller errors, not
    transient. With ``token_provider`` set, auth is OAuth: the Bearer
    token comes from the provider, and ONE 401 triggers a forced
    refresh + retry (the expired-access-token path); a second 401
    raises (bad credentials, not expiry)."""
    url = "{}/v4/spreadsheets/{}/values/{}".format(
        endpoint.rstrip("/"),
        urllib.parse.quote(spreadsheet_id, safe=""),
        urllib.parse.quote(a1_range, safe="!:"),
    )
    if api_key:
        url += "?" + urllib.parse.urlencode({"key": api_key})
    last: Exception | None = None
    refreshed_on_401 = False
    for attempt in range(max_retries + 1):
        headers = {"Accept": "application/json"}
        bearer = token_provider.get() if token_provider is not None else token
        if bearer:
            headers["Authorization"] = f"Bearer {bearer}"
        req = urllib.request.Request(url, headers=headers)
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return json.loads(resp.read().decode("utf-8"))
        except urllib.error.HTTPError as exc:
            if (
                exc.code == 401
                and token_provider is not None
                and not refreshed_on_401
            ):
                # expired/revoked access token: refresh once, retry
                # immediately (no backoff — this is not rate limiting)
                token_provider.get(force_refresh=True)
                refreshed_on_401 = True
                last = exc
                continue
            if exc.code != 429 and exc.code < 500:
                raise
            last = exc
        except urllib.error.URLError as exc:
            last = exc
        if attempt < max_retries:
            time.sleep(backoff_s * (2**attempt))
    raise RuntimeError(
        f"sheets fetch failed after {max_retries + 1} attempts: {last}"
    )


def fetch_values_paged(
    spreadsheet_id: str,
    sheet: str = "Sheet1",
    page_rows: int = 1000,
    start_row: int = 1,
    last_col: str = "ZZ",
    max_pages: int = 10000,
    **fetch_kwargs,
) -> dict:
    """Whole-sheet read in row-window pages (VERDICT r7 item 7).

    ``values.get`` has no server-side pagination — the API returns the
    full requested range — so large-sheet ingest pages CLIENT-side:
    GET ``{sheet}!A{r}:{last_col}{r+page_rows-1}`` windows until one
    comes back short (fewer rows than requested) or empty. Returns one
    merged payload in the same shape as ``fetch_values`` plus a
    ``pages`` count, so ``values_to_dataframe`` consumes it unchanged.

    Each window rides ``fetch_values``' retry/auth path; a sheet whose
    row count is an exact multiple of ``page_rows`` costs one extra
    (empty) probe window — the stop rule needs to SEE the short page.
    ``max_pages`` bounds a pathological server that echoes full pages
    forever."""
    if page_rows < 1:
        raise ValueError("page_rows must be >= 1")
    merged: list[list] = []
    row = start_row
    pages = 0
    while pages < max_pages:
        rng = f"{sheet}!A{row}:{last_col}{row + page_rows - 1}"
        payload = fetch_values(spreadsheet_id, rng, **fetch_kwargs)
        vals = payload.get("values") or []
        merged.extend(vals)
        pages += 1
        if len(vals) < page_rows:
            break
        row += page_rows
    else:
        raise RuntimeError(
            f"sheet exceeded max_pages={max_pages} windows of {page_rows} rows"
        )
    return {
        "range": f"{sheet}!A{start_row}",
        "majorDimension": "ROWS",
        "values": merged,
        "pages": pages,
    }


def values_to_dataframe(
    spark: SparkSession,
    payload: dict,
    header: bool = True,
    rename: dict[str, str] | None = None,
    target_schema: T.StructType | str | None = None,
) -> DataFrame:
    """API values payload -> typed, schema-stable DataFrame.

    The API returns ROWS-major lists with trailing empty cells OMITTED
    per row — rows are padded to the header width (extra cells beyond
    the header are dropped, matching the export reader's behavior).
    Empty strings become NULL; headers are slugged/renamed and the
    result optionally drift-aligned, identically to read_sheet_export
    so the two ingest paths are interchangeable downstream."""
    values: list[list] = payload.get("values") or []
    if not values:
        if target_schema is not None:
            return spark.createDataFrame([], schema=target_schema)
        raise ValueError("empty sheet range and no target_schema given")
    if header:
        cols, rows = values[0], values[1:]
    else:
        width = max(len(r) for r in values)
        cols, rows = [f"col_{i}" for i in range(width)], values
    width = len(cols)
    padded = [
        [str(c) if c is not None else None for c in r[:width]]
        + [None] * (width - len(r))
        for r in rows
    ]
    df = spark.createDataFrame(
        padded, schema=T.StructType([T.StructField(str(c), T.StringType()) for c in cols])
    )
    df = normalize_headers(df, rename)
    df = _blank_strings_to_null(df)
    if target_schema is not None:
        df = align_to_schema(df, target_schema)
    return df


def read_sheet_rest(
    spark: SparkSession,
    spreadsheet_id: str,
    a1_range: str,
    api_key: str | None = None,
    token: str | None = None,
    endpoint: str = DEFAULT_ENDPOINT,
    rename: dict[str, str] | None = None,
    target_schema: T.StructType | str | None = None,
    **fetch_kwargs,
) -> DataFrame:
    """The live twin of read_sheet_export: one REST fetch -> the same
    normalized/aligned DataFrame contract."""
    payload = fetch_values(
        spreadsheet_id,
        a1_range,
        api_key=api_key,
        token=token,
        endpoint=endpoint,
        **fetch_kwargs,
    )
    return values_to_dataframe(
        spark, payload, header=True, rename=rename, target_schema=target_schema
    )
