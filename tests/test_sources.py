"""Source adapters: paginated REST (fixture fetch), JSON flattening,
JDBC scan construction."""

import pytest

from fhc_rco_etl_scalable_spark.sources.jdbc import JdbcWindowScan
from fhc_rco_etl_scalable_spark.sources.json_flatten import (
    explode_records,
    flatten_structs,
)
from fhc_rco_etl_scalable_spark.sources.rest import iter_pages, rest_scan

PAGES = {
    "http://api/dt?site=S1&startDate=2024-01-01&rowSize=2": {
        "items": [
            {"id": "a", "detail": {"cause": {"l1": "Planned"}, "machine": "M1"}},
            {"id": "b", "detail": {"cause": {"l1": "Idle"}, "machine": "M2"}},
        ],
        "_links": {"next": {"href": "http://api/dt?page=2"}},
    },
    "http://api/dt?page=2": {
        "items": [{"id": "c", "detail": {"cause": {"l1": "Unplanned"}, "machine": "M1"}}],
        "_links": {},
    },
}


def test_rest_scan_pages_and_flattens(spark):
    df = rest_scan(
        spark, PAGES.get, "http://api", "dt", site="S1",
        start_date="2024-01-01", row_size=2,
    )
    rows = {r["id"]: r for r in df.collect()}
    assert set(rows) == {"a", "b", "c"}  # both pages unioned
    assert "detail.cause.l1" in df.columns  # recursive dotted flatten
    assert rows["a"]["detail.cause.l1"] == "Planned"


def test_iter_pages_stops_without_next():
    pages = list(iter_pages(PAGES.get, "http://api/dt?page=2"))
    assert len(pages) == 1


def test_rest_scan_empty(spark):
    df = rest_scan(
        spark, lambda url: {"items": [], "_links": {}}, "http://api", "dt",
        site="S1", start_date="2024-01-01",
    )
    assert df.count() == 0


def test_explode_records(spark):
    df = spark.createDataFrame(
        [("site1", [{"x": 1}, {"x": 2}])],
        "site string, items array<struct<x:int>>",
    )
    out = explode_records(df, "items")
    assert [(r.site, r.x) for r in out.collect()] == [("site1", 1), ("site1", 2)]


def test_flatten_structs_nested(spark):
    df = spark.createDataFrame(
        [((("deep",),),)], "a struct<b:struct<c:string>>"
    )
    out = flatten_structs(df)
    assert out.columns == ["a.b.c"]
    assert out.first()["a.b.c"] == "deep"


def test_jdbc_query_construction():
    scan = JdbcWindowScan(
        url="jdbc:sqlserver://host;db=x",
        table="LINE_DOWNTIME",
        columns=["START_TIME", "DOWNTIME", "LINE"],
        ts_col="START_TIME",
        start="2024-01-01 00:00:00",
        end="2024-01-08 00:00:00",
        extra_predicates=["IS_EXCLUDED = 0"],
    )
    q = scan.query()
    assert q.startswith("SELECT START_TIME, DOWNTIME, LINE FROM LINE_DOWNTIME")
    assert "START_TIME > '2024-01-01 00:00:00'" in q
    assert "IS_EXCLUDED = 0" in q


def test_jdbc_numeric_window_unquoted():
    # quote_bounds=False: numeric windows (epoch seconds, surrogate keys)
    # must emit bare literals — strict engines reject BIGINT-vs-CHAR.
    scan = JdbcWindowScan(
        url="jdbc:derby:memory:x", table="t", columns=["A"],
        ts_col="EPOCH_S", start="1700000000", end="1700086400",
        quote_bounds=False,
    )
    q = scan.query()
    assert "EPOCH_S > 1700000000" in q and "'" not in q


def test_jdbc_reader_builds(spark):
    scan = JdbcWindowScan(
        url="jdbc:postgresql://nohost/db", table="t", columns=[],
        ts_col="ts", start="2024-01-01", end="2024-01-02", num_partitions=4,
    )
    assert scan.reader(spark) is not None  # construction only, no connect


def test_kpi_scan_builds_url_and_parses(spark):
    # S5 (VERDICT r3 item 8): GetProductionDaysKpis-shaped adapter
    # (ref/RCO_ProficyiODS_orchestrator.R:177-181) — URL construction,
    # bare-array payload, executor-side parse + flatten.
    from fhc_rco_etl_scalable_spark.sources.rest import kpi_scan

    seen = {}

    def fetch(url):
        seen["url"] = url
        return [
            {"PLId": 7, "StartTime": "2024-01-01T06:00:00", "ScheduleTime": 720.0},
            {"PLId": 7, "StartTime": "2024-01-02T06:00:00", "ScheduleTime": 700.0},
            {"PLId": 9, "StartTime": "2024-01-01T06:30:00", "ScheduleTime": 480.0},
        ]

    df = kpi_scan(
        spark, fetch, "http://srv", start_date="2024-01-01",
        end_date="2024-01-03", line_ids="7,9",
    )
    assert seen["url"] == (
        "http://srv/API-iODS/api/Kpi/GetProductionDaysKpis"
        "?startTime=2024-01-01&endTime=2024-01-03"
        "&filterType=lines&ids=7,9&kpi=ScheduleTime&prOption=PR%20In:"
    )
    rows = sorted((r.PLId, r.ScheduleTime) for r in df.collect())
    assert rows == [(7, 700.0), (7, 720.0), (9, 480.0)]


def test_kpi_scan_items_wrapped_payload(spark):
    from fhc_rco_etl_scalable_spark.sources.rest import kpi_scan

    df = kpi_scan(
        spark,
        lambda url: {"items": [{"PLId": 1, "ScheduleTime": 60.0}]},
        "http://srv", start_date="2024-01-01", end_date="2024-01-02",
        line_ids="1",
    )
    assert df.count() == 1


def test_rest_scan_live_http_server(spark):
    """End-to-end over a real HTTP socket: default_fetch + pagination +
    retry (first hit of page 2 returns 500 once)."""
    import http.server
    import json as _json
    import threading

    from fhc_rco_etl_scalable_spark.sources.rest import default_fetch, rest_scan

    state = {"page2_failures": 1}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path.startswith("/dt") and "page=2" not in self.path:
                body = {
                    "items": [{"id": 1, "line": "L1"}, {"id": 2, "line": "L2"}],
                    "_links": {"next": {"href": f"http://{self.headers['Host']}/dt?page=2"}},
                }
            elif "page=2" in self.path:
                if state["page2_failures"] > 0:
                    state["page2_failures"] -= 1
                    self.send_response(503)
                    self.end_headers()
                    return
                body = {"items": [{"id": 3, "line": "L1"}], "_links": {}}
            else:
                self.send_response(404)
                self.end_headers()
                return
            payload = _json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        df = rest_scan(
            spark,
            lambda url: default_fetch(url, retries=2, backoff=0.05),
            base,
            "dt",
            site="S1",
            start_date="2024-01-01",
        )
        rows = sorted((r.id, r.line) for r in df.collect())
        assert rows == [(1, "L1"), (2, "L2"), (3, "L1")]
        assert state["page2_failures"] == 0  # the 503 was retried
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.mark.parametrize("method", ["GET", "POST"])
def test_default_fetch_retries_429_and_honors_retry_after(method):
    """429 (rate limiting) is the most common transient failure for
    paginated ingest: it must be retried like 5xx — waiting the
    server's Retry-After when present — while other 4xx still raise
    immediately. The read path (GET, ``default_fetch``) and the sink
    path (POST, ``_post_json``) share one retry policy."""
    import http.server
    import json as _json
    import threading
    import time as _time
    import urllib.error

    from fhc_rco_etl_scalable_spark.sources.rest import default_fetch
    from fhc_rco_etl_scalable_spark.sources.rest_datasource import _post_json

    def call(url):
        if method == "GET":
            return default_fetch(url, retries=2, backoff=0.001)
        return _post_json(url, {}, retries=2, backoff=0.001)

    state = {"throttles_left": 1, "throttled_at": 0.0, "served_at": 0.0}

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            if self.path == "/bad":
                self.send_response(404)
                self.end_headers()
                return
            if state["throttles_left"] > 0:
                state["throttles_left"] -= 1
                state["throttled_at"] = _time.monotonic()
                self.send_response(429)
                self.send_header("Retry-After", "1")
                self.end_headers()
                return
            state["served_at"] = _time.monotonic()
            payload = _json.dumps({"items": [{"id": 1}]}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        do_POST = do_GET

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        # backoff tiny so a pass proves the 1 s wait came from Retry-After
        out = call(f"{base}/ok")
        assert out == {"items": [{"id": 1}]}
        assert state["throttles_left"] == 0
        assert state["served_at"] - state["throttled_at"] >= 0.9
        # other 4xx still fail fast
        with pytest.raises(urllib.error.HTTPError):
            call(f"{base}/bad")
    finally:
        srv.shutdown()
        srv.server_close()


def test_jdbc_live_roundtrip_derby(spark, tmp_path):
    """Live JDBC end-to-end against embedded Derby (ships in Spark's
    own jars — no network, no extra install): seed a table through the
    JDBC writer, read it back through JdbcWindowScan, and check that
    the window predicate + column list reach the database and that the
    partitioned form produces a parallel range read."""
    from fhc_rco_etl_scalable_spark.sources.jdbc import JdbcWindowScan

    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # Derby folds unquoted identifiers to uppercase while Spark's JDBC
    # writer quotes the DataFrame's names verbatim — seed uppercase so
    # the scan's unquoted column list resolves.
    seed = spark.range(0, 48).selectExpr(
        "id AS ID",
        "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, id, 0, 0) AS TS",
        "cast(id % 7 as double) AS V",
    )
    (
        seed.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "events")
        .options(**props)
        .save()
    )

    scan = JdbcWindowScan(
        url=url,
        table="events",
        columns=["ID", "TS"],
        ts_col="TS",
        start="2024-01-01 10:00:00",
        end="2024-01-02 00:00:00",
        properties=props,
    )
    df = scan.load(spark)
    # projection pushed by construction: only the requested columns exist
    assert [c.lower() for c in df.columns] == ["id", "ts"]  # projection pushed
    got = sorted(r[0] for r in df.collect())
    assert got == list(range(11, 24))  # ts > 10:00 and ts < next midnight

    part = JdbcWindowScan(
        url=url,
        table="events",
        columns=["ID", "TS", "V"],
        ts_col="TS",
        start="2024-01-01 00:30:00",
        end="2024-01-02 23:30:00",
        num_partitions=4,
        properties=props,
    )
    pdf = part.load(spark)
    assert pdf.rdd.getNumPartitions() == 4  # parallel range extraction
    assert pdf.count() == 47  # ids 1..47 (strictly inside the window)
    plan = pdf._jdf.queryExecution().executedPlan().toString()
    assert "JDBCRelation" in plan and "numPartitions=4" in plan


def test_paged_rest_datasource_live(spark):
    """The Spark 4 Python DataSource surface for the paging protocol:
    spark.read.format("paged_rest") against a real local HTTP server —
    one input partition per site (executor-parallel page chains),
    EqualTo site filter prunes whole partitions BEFORE any request,
    dotted schema names project nested fields."""
    import http.server
    import json as _json
    import threading

    from pyspark.sql import functions as F

    from fhc_rco_etl_scalable_spark.sources.rest_datasource import (
        PagedRestDataSource,
    )

    hits = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits.append(self.path)
            if "site=S1" in self.path and "page" not in self.path:
                body = {
                    "items": [
                        {"id": "a", "detail": {"machine": "M1"}},
                        {"id": "b", "detail": {"machine": "M2"}},
                    ],
                    "_links": {"next": {"href": f"http://{self.headers['Host']}/dt?site=S1&page=2"}},
                }
            elif "site=S1" in self.path:
                body = {"items": [{"id": "c", "detail": {"machine": "M1"}}], "_links": {}}
            else:  # S2 and anything else: one page
                body = {"items": [{"id": "z", "detail": {"machine": "M9"}}], "_links": {}}
            payload = _json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(PagedRestDataSource)
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        reader = (
            spark.read.format("paged_rest")
            .schema("id string, site string, `detail.machine` string")
            .option("base_url", base)
            .option("entity", "dt")
            .option("sites", "S1,S2")
            .option("start_date", "2024-01-01")
        )
        df = reader.load()
        assert df.rdd.getNumPartitions() == 2  # one partition per site
        rows = sorted(
            (r["id"], r["site"], r["detail.machine"]) for r in df.collect()
        )
        assert rows == [
            ("a", "S1", "M1"), ("b", "S1", "M2"),
            ("c", "S1", "M1"), ("z", "S2", "M9"),
        ]

        # site filter pushdown: S2's partition (and its HTTP traffic)
        # disappears entirely
        hits.clear()
        only = reader.load().filter(F.col("site") == "S1")
        assert sorted(r["id"] for r in only.collect()) == ["a", "b", "c"]
        assert not any("site=S2" in h for h in hits)  # pruned pre-network
    finally:
        srv.shutdown()
        srv.server_close()


def test_rest_cursor_stream_resumes_from_checkpoint(spark, tmp_path):
    """Streaming REST source (rest_cursor_stream): micro-batches pull
    items after the committed cursor; the checkpoint persists the
    offset, so a RESTART reads only what arrived since the last run —
    exactly-once across restarts with zero user bookkeeping."""
    import http.server
    import json as _json
    import threading

    from fhc_rco_etl_scalable_spark.sources.rest_datasource import (
        RestCursorStreamDataSource,
    )

    feed = [{"seq": 1, "line": "L1"}, {"seq": 2, "line": "L2"}]

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            from urllib.parse import parse_qs, urlparse

            q = parse_qs(urlparse(self.path).query)
            after = int(q.get("afterSeq", ["0"])[0])
            upto = int(q["uptoSeq"][0]) if "uptoSeq" in q else None
            items = [
                it for it in feed
                if it["seq"] > after and (upto is None or it["seq"] <= upto)
            ]
            payload = _json.dumps({"items": items, "_links": {}}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        spark.dataSource.register(RestCursorStreamDataSource)
        stream = (
            spark.readStream.format("rest_cursor_stream")
            .schema("seq long, line string")
            .option("base_url", f"http://127.0.0.1:{srv.server_address[1]}")
            .option("entity", "dt")
            .option("site", "S1")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    try:
        run_once()
        first = sorted(r.seq for r in spark.read.parquet(out).collect())
        assert first == [1, 2]
        feed.append({"seq": 3, "line": "L1"})  # arrives between runs
        run_once()
        second = sorted(r.seq for r in spark.read.parquet(out).collect())
        assert second == [1, 2, 3]  # only the new item was appended
    finally:
        srv.shutdown()
        srv.server_close()


def test_rest_batch_sink_two_phase_commit(spark):
    """REST POST sink (rest_batch): every partition stages its rows as
    one batch executor-side; the driver's commit() flips all staged
    batches visible atomically — and a mid-write task failure leads to
    abort(), leaving NOTHING visible (all-or-nothing run-log writes)."""
    import http.server
    import json as _json
    import threading

    import pytest

    from fhc_rco_etl_scalable_spark.sources.rest_datasource import (
        RestBatchSinkDataSource,
    )

    staged, visible, dead_jobs, orphan = {}, [], set(), []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = _json.loads(
                self.rfile.read(int(self.headers["Content-Length"]))
            )
            if self.path.endswith("/stage"):
                # a batch staged by an already-aborted job is dead on
                # arrival (job-scoped staging, see RestBatchWriter)
                if body["job_id"] not in dead_jobs:
                    staged[body["batch_id"]] = (body["job_id"], body["rows"])
                    # simulate a dead first ATTEMPT: the first stage
                    # call plants an unreported orphan under the same
                    # job — commit must void it, not publish it
                    if not orphan and body["rows"]:
                        orphan.append("orphan-" + body["job_id"])
                        staged[orphan[0]] = (
                            body["job_id"],
                            [{"run_id": "ghost", "status": "dead-attempt"}],
                        )
            elif self.path.endswith("/commit"):
                for bid in body["batch_ids"]:
                    visible.extend(staged.pop(bid)[1])
                # commit closes the job's staging area: void retry
                # orphans that never reported a commit message
                for bid in [b for b, (j, _) in list(staged.items())
                            if j == body["job_id"]]:
                    staged.pop(bid)
            elif self.path.endswith("/abort"):
                dead_jobs.add(body["job_id"])
                for bid in [b for b, (j, _) in staged.items() if j == body["job_id"]]:
                    staged.pop(bid)
            payload = b"{}"
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        spark.dataSource.register(RestBatchSinkDataSource)
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        df = spark.createDataFrame(
            [("r1", "ok"), ("r2", "ok"), ("r3", "ok")], "run_id string, status string"
        ).repartition(2)
        (
            df.write.format("rest_batch")
            .option("base_url", base)
            .option("entity", "runlog")
            .mode("append")
            .save()
        )
        assert sorted(r["run_id"] for r in visible) == ["r1", "r2", "r3"]
        assert not staged  # finalized AND the retry orphan was voided
        assert orphan and not any(r["run_id"] == "ghost" for r in visible)

        # failing write: the poison row kills one task -> abort() voids
        # the OTHER partition's staged batch too
        visible.clear()
        from pyspark.sql import functions as F

        poison = spark.createDataFrame(
            [(1, "fine"), (0, "boom")], "d int, status string"
        ).repartition(2).select(
            (F.lit(10) / F.col("d")).cast("string").alias("run_id"),
            "status",
        )
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try:
            with pytest.raises(Exception):
                (
                    poison.write.format("rest_batch")
                    .option("base_url", base)
                    .option("entity", "runlog")
                    .mode("append")
                    .save()
                )
        finally:
            spark.conf.unset("spark.sql.ansi.enabled")
        import time as _t
        _t.sleep(1.0)  # let any cancelled-job racer finish staging
        assert visible == [] and not staged  # nothing half-written
    finally:
        srv.shutdown()
        srv.server_close()


def test_paged_rest_all_partitions_pruned_returns_zero_rows(spark):
    """A pushed site filter that prunes EVERY configured site must
    yield an empty result, not crash (PySpark substitutes [None] for an
    empty partitions() list)."""
    from pyspark.sql import functions as F

    from fhc_rco_etl_scalable_spark.sources.rest_datasource import (
        PagedRestDataSource,
    )

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PagedRestDataSource)
    df = (
        spark.read.format("paged_rest")
        .schema("id string, site string")
        .option("base_url", "http://127.0.0.1:1")  # never contacted
        .option("entity", "dt")
        .option("sites", "S1,S2")
        .load()
        .filter(F.col("site") == "S3")
    )
    assert df.count() == 0


def test_sharepoint_config_frames_drop_metadata_and_type(spark, tmp_path):
    """S6 (sources/config.py): Graph-list payloads project to exactly
    the declared columns — metadata ('@odata.etag', LinkTitle, ids,
    createdDateTime) dropped, numerics typed even when the list
    renders them as strings, and the optional list_item_id retained
    for LookupId joins."""
    import json

    payload = {"value": [
        {"@odata.etag": '"7"', "id": "7",
         "createdDateTime": "2024-01-01T00:00:00Z",
         "fields": {"@odata.etag": '"7"', "id": "7", "LinkTitle": "S",
                    "Edit": "", "Title": "SRV1", "SiteName": "SiteA",
                    "CO_Trigger_Parameter": "12.5",
                    "Run_Machine_Level_Analysis": "Yes",
                    "Run_First_Stop_After_CO_Analysis": "No",
                    "Run_Multi_Constraint_Analysis": "No",
                    "Split_COs_based_on_Cause_Model": "No",
                    "SUD_specific_RCO_script": "No",
                    "changeover_query_single_line": "q",
                    "changeover_query_multi_line": None}},
    ]}
    p = tmp_path / "site.json"
    p.write_text(json.dumps(payload))

    from fhc_rco_etl_scalable_spark.sources.config import (
        SITE_CONFIG_COLUMNS,
        site_config_frame,
    )

    raw = spark.read.option("multiLine", "true").json(str(p))
    cfg = site_config_frame(raw, item_id=True)
    assert cfg.columns == ["list_item_id"] + list(SITE_CONFIG_COLUMNS.values())
    row = cfg.first()
    assert row.list_item_id == 7
    assert row.Server == "SRV1"
    assert row.CO_Trigger_Parameter == 12.5  # string in the payload
    assert dict(cfg.dtypes)["CO_Trigger_Parameter"] == "double"
