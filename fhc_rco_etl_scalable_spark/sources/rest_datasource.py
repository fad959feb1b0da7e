"""A real Spark DataSource for the paginated REST protocol (S1).

``sources/rest.py`` drives paging from the driver (pages fetched
serially, then parallelized for parsing); this module promotes the
same protocol to a first-class Spark 4 Python DataSource, so ingest
reads like any other source:

    spark.read.format("paged_rest")
        .schema("id string, site string, machine string")
        .option("base_url", "http://host/api")
        .option("entity", "downtimes")
        .option("sites", "S1,S2,S3")
        .option("start_date", "2024-01-01")
        .load()

Engine properties the driver-side helper cannot offer:

- **partition-parallel ingest**: one InputPartition per site — each
  EXECUTOR walks its own site's page chain concurrently (the reference
  orchestrators loop sites serially; RCO_Maple_orchestrator.R:96-140).
- **pushdown**: ``pushFilters`` consumes EqualTo/In filters on the
  partition column (``site_col``, default "site") and prunes whole
  site partitions before any HTTP request; all other filters are
  returned to Spark to evaluate post-scan.
- **schema projection**: values are extracted per the user schema's
  top-level field names (dotted names address nested dicts), so the
  scan materializes only requested columns.

The page-walk protocol (``items`` + ``_links.next``) and the retrying
fetcher are shared with sources/rest.py — one protocol, two surfaces.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    In,
    InputPartition,
)
from pyspark.sql.types import StructType


class SitePartition(InputPartition):
    def __init__(self, site: str):
        self.site = site


def _dig(obj, dotted: str):
    """Resolve 'a.b.c' through nested dicts; None on any miss."""
    cur = obj
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


class PagedRestReader(DataSourceReader):
    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.base_url = options.get("base_url")
        if not self.base_url:
            raise ValueError("paged_rest: base_url option is required")
        self.entity = options.get("entity", "items")
        self.site_col = options.get("site_col", "site")
        self.start_date = options.get("start_date", "")
        self.row_size = int(options.get("row_size", "500"))
        sites = options.get("sites", "")
        self.sites = [s for s in (x.strip() for x in sites.split(",")) if s]
        if not self.sites:
            raise ValueError("paged_rest: sites option is required (comma list)")

    def pushFilters(self, filters):
        """Prune site partitions from EqualTo/In on the site column —
        the filter disappears from the plan AND from the network, one
        page chain per surviving site. Everything else is unsupported
        (yield it back; Spark evaluates it after the scan)."""
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == (self.site_col,):
                self.sites = [s for s in self.sites if s == f.value]
            elif isinstance(f, In) and f.attribute == (self.site_col,):
                wanted = set(f.value)
                self.sites = [s for s in self.sites if s in wanted]
            else:
                yield f

    def partitions(self):
        # Never return an empty list: when pushed filters prune every
        # site, PySpark substitutes [None] for an empty partitions()
        # result and read(None) would crash — emit one empty-marker
        # partition instead so the query returns zero rows.
        if not self.sites:
            return [SitePartition(None)]
        return [SitePartition(s) for s in self.sites]

    def read(self, partition: SitePartition) -> Iterator[tuple]:
        # Executor-side: walk THIS site's page chain. Import here —
        # the reader is pickled to executors.
        if partition is None or partition.site is None:
            return  # all partitions pruned by pushdown: zero rows
        from fhc_rco_etl_scalable_spark.sources.rest import (
            _query_url,
            default_fetch,
            iter_pages,
        )

        url = _query_url(
            self.base_url,
            self.entity,
            {
                "site": partition.site,
                "startDate": self.start_date,
                "rowSize": self.row_size,
            },
        )
        names = [f.name for f in self.schema.fields]
        for page in iter_pages(default_fetch, url):
            for item in page.get("items", []):
                yield tuple(
                    partition.site if n == self.site_col else _dig(item, n)
                    for n in names
                )


class PagedRestDataSource(DataSource):
    """spark.read.format("paged_rest") — register with
    ``spark.dataSource.register(PagedRestDataSource)``."""

    @classmethod
    def name(cls):
        return "paged_rest"

    def schema(self):
        raise ValueError(
            "paged_rest: an explicit .schema(...) is required (the JSON "
            "payload is schemaless; name nested fields with dots)"
        )

    def reader(self, schema: StructType) -> PagedRestReader:
        return PagedRestReader(schema, self.options)


# ---------------------------------------------------------------------------
# Streaming sibling: incremental cursor polling as a Spark Structured
# Streaming source. Offsets are {"cursor": N} over a monotone sequence
# field in the feed (the standard incremental-REST pattern); Spark's
# checkpoint persists the cursor, so restarts resume exactly where the
# last committed micro-batch ended — exactly-once delivery into any
# checkpointed sink with no bookkeeping in user code.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader


class RestCursorStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self.schema = schema
        self.base_url = options.get("base_url")
        if not self.base_url:
            raise ValueError("rest_cursor_stream: base_url option is required")
        self.entity = options.get("entity", "items")
        self.site = options.get("site", "")
        self.cursor_field = options.get("cursor_field", "seq")
        self.cursor_param = options.get("cursor_param", "afterSeq")
        self.end_param = options.get("end_param", "uptoSeq")
        self.start_cursor = int(options.get("start_cursor", "0"))

    def initialOffset(self) -> dict:
        return {"cursor": self.start_cursor}

    def _fetch(self, after: int, upto: int | None):
        from fhc_rco_etl_scalable_spark.sources.rest import (
            _query_url,
            default_fetch,
            iter_pages,
        )

        params = {"site": self.site, self.cursor_param: after}
        if upto is not None:
            params[self.end_param] = upto
        url = _query_url(self.base_url, self.entity, params)
        names = [f.name for f in self.schema.fields]
        rows, hi = [], after
        for page in iter_pages(default_fetch, url):
            for item in page.get("items", []):
                seq = item.get(self.cursor_field)
                if seq is not None and seq > hi:
                    hi = seq
                rows.append(tuple(_dig(item, n) for n in names))
        return rows, hi

    def read(self, start: dict):
        rows, hi = self._fetch(start["cursor"], None)
        return iter(rows), {"cursor": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay of a committed range after restart
        rows, _ = self._fetch(start["cursor"], end["cursor"])
        return iter(rows)


class RestCursorStreamDataSource(DataSource):
    """spark.readStream.format("rest_cursor_stream") — incremental
    cursor-paged REST polling with checkpointed exactly-once offsets."""

    @classmethod
    def name(cls):
        return "rest_cursor_stream"

    def schema(self):
        raise ValueError(
            "rest_cursor_stream: an explicit .schema(...) is required"
        )

    def simpleStreamReader(self, schema: StructType) -> RestCursorStreamReader:
        return RestCursorStreamReader(schema, self.options)


# ---------------------------------------------------------------------------
# Writer: REST POST sink with the DataSource two-phase commit protocol.
# The reference pushes run-log rows back over HTTP one request per row
# from a single process; here every PARTITION posts its rows as one
# staged batch (executor-parallel), and the driver finalizes all
# staged batches in commit() — if any task fails, abort() voids the
# staged batches instead of leaving a half-written log.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage


class _StagedBatch(WriterCommitMessage):
    def __init__(self, batch_id: str, n_rows: int):
        self.batch_id = batch_id
        self.n_rows = n_rows


def _post_json(
    url: str,
    payload: dict,
    timeout: float = 30.0,
    retries: int = 4,
    backoff: float = 0.5,
) -> dict:
    """POST with the read path's transient-failure policy
    (``rest._send_with_retries``: 5xx/429/connection errors retried,
    429 waiting ``Retry-After``, other 4xx raise immediately) — a
    momentary throttle on one partition's stage call must not fail the
    job. Safe to retry: stage is idempotent per batch_id, and
    commit/abort are idempotent per job_id."""
    import json as _json
    import urllib.request

    from fhc_rco_etl_scalable_spark.sources.rest import _send_with_retries

    req = urllib.request.Request(
        url,
        data=_json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    body = _send_with_retries(req, timeout, retries, backoff)
    return _json.loads(body) if body else {}


class RestBatchWriter(DataSourceWriter):
    def __init__(self, schema: StructType, options, overwrite: bool):
        import uuid as _uuid

        if overwrite:
            raise ValueError("rest_batch sink is append-only")
        self.base_url = options.get("base_url")
        if not self.base_url:
            raise ValueError("rest_batch: base_url option is required")
        self.entity = options.get("entity", "items")
        self.names = [f.name for f in schema.fields]
        # Staging is JOB-scoped, not just batch-scoped: a cancelled
        # job's still-running tasks may stage AFTER abort() fires, so
        # abort must void the whole job's staging area by id — naming
        # only the batches whose tasks reported back would leak the
        # racers (observed in the two-phase-commit test under local
        # job cancellation).
        self.job_id = _uuid.uuid4().hex

    def write(self, iterator) -> _StagedBatch:
        # executor-side: stage THIS partition's rows as one batch
        import uuid as _uuid

        batch_id = _uuid.uuid4().hex
        rows = [dict(zip(self.names, tuple(r))) for r in iterator]
        _post_json(
            f"{self.base_url}/{self.entity}/stage",
            {"job_id": self.job_id, "batch_id": batch_id, "rows": rows},
        )
        return _StagedBatch(batch_id, len(rows))

    def commit(self, messages) -> None:
        # driver-side: one finalize call naming every WINNING batch —
        # the server flips exactly those visible and VOIDS any other
        # batch staged under this job_id (a task retry or speculative
        # attempt that staged before dying never reports its message,
        # and abort() does not run for a successful job — commit is
        # the only place those orphans can be reclaimed).
        _post_json(
            f"{self.base_url}/{self.entity}/commit",
            {
                "job_id": self.job_id,
                "batch_ids": [m.batch_id for m in messages if m is not None],
            },
        )

    def abort(self, messages) -> None:
        # void EVERYTHING this job staged or ever stages (see __init__)
        _post_json(
            f"{self.base_url}/{self.entity}/abort", {"job_id": self.job_id}
        )


class RestBatchSinkDataSource(DataSource):
    """df.write.format("rest_batch") — staged-batch POST sink with
    all-or-nothing visibility via the driver commit."""

    @classmethod
    def name(cls):
        return "rest_batch"

    def writer(self, schema: StructType, overwrite: bool) -> RestBatchWriter:
        return RestBatchWriter(schema, self.options, overwrite)
