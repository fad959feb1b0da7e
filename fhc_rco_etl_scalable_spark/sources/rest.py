"""Paginated REST source adapter (S1/S2 in SURVEY §2.1).

The reference pulls downtime/production reports page-by-page from the
"MDC" REST API, following ``_links.next`` with ``rowSize=9999``, then
json-normalizes and unions the pages (reference:
App/mdc/__init__.py:151-217, paging loop :192-212; hierarchy lookups
:14-148).

Spark-first adapter: pagination is a DRIVER-side iterator of raw JSON
payloads (the API is inherently sequential), but parsing, flattening
and everything downstream is executor-side — pages land as a JSON
string RDD fed to ``spark.read.json``, so a 10k-page extract never
materializes rows in driver memory beyond the raw byte payloads.
For production-scale ingestion the same adapter writes pages straight
to object storage and the engine reads parquet; this class covers the
direct path and the fixtures path (``pages`` injected, no HTTP client
needed in tests or in this container).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from .json_flatten import flatten_structs

# Reference page size (App/mdc/__init__.py:177).
DEFAULT_ROW_SIZE = 9999


def _query_url(base_url: str, path: str, params: dict) -> str:
    """``base_url/path?query`` with every key and value URL-encoded, so
    a site key like ``'Lima SUD'`` (a space) or one holding ``&`` reaches
    the server as one intact value. ``:`` and ``,`` stay literal — the
    URL shape the reference emits for ``prOption=PR In:`` and id lists.
    The one query builder of every REST reader here and in
    ``rest_datasource``."""
    from urllib.parse import quote, urlencode

    return f"{base_url}/{path}?" + urlencode(params, quote_via=quote, safe=":,")


def _send_with_retries(req, timeout: float, retries: int, backoff: float) -> str:
    """Send ``req`` (a ``urllib.request.Request``) and return the
    decoded response body, retrying transient failures with exponential
    backoff: 5xx, 429 rate limiting (honoring ``Retry-After`` when the
    server sends one, clamped to 60 s) and connection resets. Other
    4xx raise immediately: retrying a bad request only hides the bug.
    The one retry policy of the GET (:func:`default_fetch`) and POST
    (``rest_datasource._post_json``) paths."""
    import time as _time
    import urllib.error
    import urllib.request

    if retries < 0:
        raise ValueError("retries must be >= 0")
    last: Exception | None = None
    for attempt in range(retries + 1):
        retry_after: float | None = None
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return resp.read().decode("utf-8")
        except urllib.error.HTTPError as exc:
            # 429 is the MOST common transient failure for paginated
            # ingest — treat it like 5xx, not like a client bug
            if exc.code < 500 and exc.code != 429:
                raise
            if exc.code == 429:
                ra = (exc.headers or {}).get("Retry-After")
                try:
                    retry_after = float(ra) if ra is not None else None
                except ValueError:
                    retry_after = None  # HTTP-date form: fall back to backoff
                if retry_after is not None:
                    # clamp: a misbehaving server must not park the
                    # driver for hours (or crash sleep with a negative)
                    retry_after = min(max(retry_after, 0.0), 60.0)
            last = exc
        except (urllib.error.URLError, TimeoutError, ConnectionError) as exc:
            last = exc
        if attempt < retries:
            _time.sleep(
                retry_after if retry_after is not None else backoff * (2 ** attempt)
            )
    raise last  # type: ignore[misc]


def default_fetch(
    url: str,
    timeout: float = 30.0,
    retries: int = 3,
    backoff: float = 0.5,
    headers: dict[str, str] | None = None,
) -> dict:
    """Production HTTP fetcher for ``rest_scan``: urllib GET with
    timeout and the transient-failure retries of
    :func:`_send_with_retries`. Injectable ``fetch`` callables remain
    the test/fixture path; this is the live one."""
    import urllib.request

    req = urllib.request.Request(url, headers=headers or {})
    return json.loads(_send_with_retries(req, timeout, retries, backoff))


def iter_pages(
    fetch: Callable[[str], dict],
    first_url: str,
    max_pages: int = 100_000,
) -> Iterator[dict]:
    """Follow ``_links.next`` from ``first_url`` (reference paging
    protocol). ``fetch`` maps a URL to a parsed JSON dict — inject an
    HTTP client in production, a fixture lookup in tests."""
    url = first_url
    for _ in range(max_pages):
        page = fetch(url)
        yield page
        nxt = (page.get("_links") or {}).get("next")
        if not nxt:
            return
        url = nxt.get("href") if isinstance(nxt, dict) else nxt
        if not url:
            return


def pages_to_dataframe(
    spark: SparkSession,
    pages: Iterator[dict],
    record_path: str = "items",
) -> DataFrame:
    """Union all pages' ``record_path`` arrays into one flat DataFrame.

    Records are re-serialized as JSON lines and parsed by
    ``spark.read.json`` executor-side (schema inference + parse off
    the driver), then struct columns are flattened to dotted names —
    the ``json_normalize`` equivalent (reference App/mdc/__init__.py:198).
    """
    lines = [
        json.dumps(rec)
        for page in pages
        for rec in (page.get(record_path) or [])
    ]
    if not lines:
        return spark.createDataFrame([], "placeholder string").limit(0).drop("placeholder")
    rdd = spark.sparkContext.parallelize(lines, max(1, len(lines) // 50_000 + 1))
    df = spark.read.json(rdd)
    return flatten_structs(df)


def kpi_scan(
    spark: SparkSession,
    fetch: Callable[[str], dict | list],
    base_url: str,
    start_date: str,
    end_date: str,
    line_ids: str,
    kpi: str = "ScheduleTime",
    pr_option: str = "PR In:",
) -> DataFrame:
    """S5: the ``GetProductionDaysKpis`` KPI endpoint adapter
    (reference ref/RCO_ProficyiODS_orchestrator.R:177-181,220-228):
    one GET per analysis window, day-level KPI records (``StartTime``,
    ``PLId``, ``<kpi>``) parsed executor-side like every other page
    payload. The endpoint is not paginated — the reference issues a
    single request and ``fromJSON(flatten=TRUE)``s the body; records
    may arrive as a bare top-level array or under ``items``.

    Downstream: join the lines dim on PLId and aggregate per day —
    ``operators.aggregate.runtime_per_day`` (A3, reference :240).
    """
    url = _query_url(
        base_url,
        "API-iODS/api/Kpi/GetProductionDaysKpis",
        {
            "startTime": start_date, "endTime": end_date,
            "filterType": "lines", "ids": line_ids,
            "kpi": kpi, "prOption": pr_option,
        },
    )
    payload = fetch(url)
    page = {"items": payload} if isinstance(payload, list) else payload
    return pages_to_dataframe(spark, iter([page]))


def rest_scan(
    spark: SparkSession,
    fetch: Callable[[str], dict],
    base_url: str,
    table: str,
    site: str,
    start_date: str,
    row_size: int = DEFAULT_ROW_SIZE,
    record_path: str = "items",
    **params: str,
) -> DataFrame:
    """The ``get_raw_data`` surface (reference App/mdc/__init__.py:151-181):
    report table in {'pe','dt','po'}, site + date-window params become
    query args (server-side predicate pushdown)."""
    query = {"site": site, "startDate": start_date, "rowSize": row_size, **params}
    first_url = _query_url(base_url, table, query)
    return pages_to_dataframe(spark, iter_pages(fetch, first_url), record_path)
