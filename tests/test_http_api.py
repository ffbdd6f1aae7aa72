"""InfluxDB 1.x HTTP wire API (sources/http_api.py): /query result
JSON shape, epoch precisions, multi-statement + per-measurement
series, /write with precision rescale + type inference + conflicts,
auth mapping to 401/403, and one real socket round-trip through the
stdlib server."""

from __future__ import annotations

import datetime as dt
import json
import os
import threading

import pytest

from ciws_server_spark.sources import sinks
from ciws_server_spark.sources.http_api import (
    InfluxHTTPApi,
    serve,
    split_statements,
)


@pytest.fixture()
def api(spark, tmp_path):
    td = str(tmp_path)
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 6, 0), "A", 2.5),
            (dt.datetime(2024, 1, 1, 6, 30), "B", 7.5),
        ],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, td, "campus_flow")
    return InfluxHTTPApi(spark, td)


def test_split_statements():
    assert split_statements(
        "SELECT a FROM m; SELECT b FROM m WHERE s = 'x;y';"
    ) == ["SELECT a FROM m", "SELECT b FROM m WHERE s = 'x;y'"]


def test_ping(api):
    assert api.handle_ping() == (204, None)


def test_query_series_shape(api):
    status, body = api.handle_query(
        {"q": "SELECT flowRate FROM campus_flow"}
    )
    assert status == 200
    (res,) = body["results"]
    assert res["statement_id"] == 0
    (series,) = res["series"]
    assert series["name"] == "campus_flow"
    assert series["columns"] == ["time", "flowRate"]
    assert sorted(series["values"]) == [
        ["2024-01-01T06:00:00Z", 2.5],
        ["2024-01-01T06:30:00Z", 7.5],
    ]
    json.dumps(body)  # wire-serializable


def test_query_epoch_and_aggregate(api):
    status, body = api.handle_query(
        {
            "q": "SELECT mean(flowRate) FROM campus_flow "
            "GROUP BY time(1h)",
            "epoch": "s",
        }
    )
    (res,) = body["results"]
    (series,) = res["series"]
    assert series["columns"] == ["time", "mean_flowRate"]
    assert series["values"] == [[1704088800, 5.0]]


def test_query_multi_statement_and_inline_error(api):
    status, body = api.handle_query(
        {"q": "SELECT flowRate FROM campus_flow; SELECT nope( FROM x"}
    )
    assert status == 200
    r0, r1 = body["results"]
    assert "series" in r0
    assert r1["statement_id"] == 1 and "error" in r1


def test_query_regex_from_one_series_per_measurement(api, spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 7, 0), "C", 1.0)],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, api.table_dir, "campus_b")
    status, body = api.handle_query(
        {"q": "SELECT flowRate FROM /^campus/"}
    )
    (res,) = body["results"]
    names = [s["name"] for s in res["series"]]
    assert names == ["campus_b", "campus_flow"]


def test_query_empty_and_write_class(api):
    status, body = api.handle_query(
        {"q": "SELECT flowRate FROM campus_flow WHERE time < '2000-01-01'"}
    )
    (res,) = body["results"]
    assert "series" not in res
    status, body = api.handle_query(
        {"q": "DELETE FROM campus_flow WHERE buildingID = 'Z'"}
    )
    assert body["results"] == [{"statement_id": 0}]


def test_query_auth_codes(api, spark):
    from ciws_server_spark.plans.influxql import run_influxql

    run_influxql(
        spark, {}, "CREATE USER reader WITH PASSWORD 'p'",
        table_dir=api.table_dir,
    )
    run_influxql(
        spark, {}, "GRANT READ ON ciws TO reader",
        table_dir=api.table_dir,
    )
    status, body = api.handle_query(
        {"q": "SELECT flowRate FROM campus_flow", "u": "reader",
         "p": "WRONG"}
    )
    assert status == 401
    status, body = api.handle_query(
        {"q": "DELETE FROM campus_flow", "u": "reader", "p": "p"}
    )
    assert status == 403
    status, body = api.handle_query(
        {"q": "SELECT flowRate FROM campus_flow", "u": "reader",
         "p": "p"}
    )
    assert status == 200


def test_write_infer_types_and_precision(api, spark):
    body = (
        "weather,city=SF temp=21.5,hits=3i,ok=true,note=\"hi\" "
        "1704085200\n"
        "weather,city=LA temp=25.0 1704085260\n"
    ).encode()
    status, resp = api.handle_write({"precision": "s"}, body)
    assert status == 204, resp
    got = sinks.read_table(spark, api.table_dir, "weather")
    # weather has no PARTITIONING entry: tags persist as plain
    # string columns (never dropped), plus the typed fields and the
    # rescaled second-precision timestamps
    rows = sorted(got.collect(), key=lambda r: r["time"])
    assert [r["time"] for r in rows] == [
        dt.datetime(2024, 1, 1, 5, 0), dt.datetime(2024, 1, 1, 5, 1)
    ]
    assert [r["city"] for r in rows] == ["SF", "LA"]
    assert rows[0]["temp"] == 21.5 and rows[0]["hits"] == 3
    assert rows[0]["ok"] is True and rows[0]["note"] == "hi"
    assert rows[1]["temp"] == 25.0 and rows[1]["hits"] is None


def test_write_type_conflict_and_garbage(api):
    status, resp = api.handle_write(
        {}, b"m f=1.5 1\nm f=2i 2\n"
    )
    assert status == 400 and "conflict" in resp["error"]
    status, resp = api.handle_write({}, b"not line protocol at all")
    assert status == 400
    status, resp = api.handle_write({}, b"")
    assert status == 400
    status, resp = api.handle_write({"precision": "x"}, b"m f=1")
    assert status == 400


def test_real_socket_round_trip(api):
    import http.client

    srv = serve(api)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        host, port = srv.server_address
        conn = http.client.HTTPConnection(host, port, timeout=30)
        conn.request("GET", "/ping")
        r = conn.getresponse()
        assert r.status == 204
        assert r.getheader("X-Influxdb-Version")
        r.read()
        # the exact GET the reference's client library issues
        conn.request(
            "GET",
            "/query?q=SELECT+mean(flowRate)+FROM+campus_flow"
            "&db=ciws&epoch=s",
        )
        r = conn.getresponse()
        assert r.status == 200
        body = json.loads(r.read())
        # ungrouped mean: single row, no time column on the wire
        assert body["results"][0]["series"][0]["values"] == [[5.0]]
        # POST /write then read it back over the wire
        conn.request(
            "POST",
            "/write?precision=s",
            body=b"wire_m v=1.25 1704085200\n",
        )
        r = conn.getresponse()
        assert r.status == 204
        r.read()
        conn.request("GET", "/query?q=SELECT+v+FROM+wire_m")
        body = json.loads(conn.getresponse().read())
        assert body["results"][0]["series"][0]["values"] == [
            ["2024-01-01T05:00:00Z", 1.25]
        ]
    finally:
        srv.shutdown()
        srv.server_close()


def test_write_forwards_to_subscriptions(api, spark, tmp_path):
    from ciws_server_spark.plans.influxql import run_influxql

    dest = str(tmp_path / "subdest")
    run_influxql(
        spark, {},
        f'CREATE SUBSCRIPTION "s" ON ciws."autogen" '
        f"DESTINATIONS ALL 'file://{dest}'",
        table_dir=api.table_dir,
    )
    status, _ = api.handle_write(
        {"precision": "s"}, b"wm v=2.5 1704085200\n"
    )
    assert status == 204
    import glob as _glob

    files = _glob.glob(os.path.join(dest, "*.lp"))
    assert files
    content = open(files[0]).read()
    assert content.startswith("wm v=2.5 ")


def test_wire_totality_fuzz(api):
    """Every statement the grammar fuzz can draw must come back as
    wire-serializable JSON with an expected status — the HTTP layer
    inherits the dispatcher's total-function contract (NaN/Inf and
    arrays have no JSON form; the serializer must handle them, never
    json.dumps-crash or 500)."""
    import random
    import sys

    sys.path.insert(0, "tests")
    from test_influxql_statement_fuzz import gen_statement

    for seed in range(120):
        stmt = gen_statement(random.Random(seed))
        status, body = api.handle_query({"q": stmt})
        assert status in (200, 400, 401, 403), (stmt, status)
        json.dumps(body)  # serializable, whatever came back
        if status == 200:
            for res in body["results"]:
                assert "statement_id" in res


def test_query_invalid_epoch_is_400(api):
    status, body = api.handle_query(
        {"q": "SELECT flowRate FROM campus_flow", "epoch": "centuries"}
    )
    assert status == 400 and "epoch" in body["error"]


def test_split_statements_escaped_quote():
    # InfluxQL \' escape inside a string literal must not flip the
    # in-string state (r12 ADVICE): the ; inside the literal is data
    assert split_statements(
        "SELECT a FROM m WHERE s = 'it\\'s; fine'; SELECT b FROM m"
    ) == ["SELECT a FROM m WHERE s = 'it\\'s; fine'", "SELECT b FROM m"]


def test_auth_required_when_users_registered(api, spark):
    """Credential-LESS requests are 401 the moment a user exists —
    the upstream auth-enabled contract (r12 ADVICE high: omitting
    'u' must never bypass the gate)."""
    from ciws_server_spark.plans.influxql import run_influxql

    # auth disabled (empty registry): anonymous access passes
    status, _ = api.handle_query({"q": "SELECT flowRate FROM campus_flow"})
    assert status == 200
    status, _ = api.handle_write({}, b"m f=1 1704085200000000000\n")
    assert status == 204

    run_influxql(
        spark, {}, "CREATE USER boss WITH PASSWORD 'pw' WITH ALL PRIVILEGES",
        table_dir=api.table_dir,
    )
    # now: no credentials -> 401 on BOTH endpoints, read or admin
    status, body = api.handle_query({"q": "SELECT flowRate FROM campus_flow"})
    assert status == 401, body
    status, body = api.handle_query({"q": "DROP DATABASE ciws"})
    assert status == 401, body
    status, body = api.handle_write({}, b"m f=2 1704085200000000000\n")
    assert status == 401, body
    # valid credentials still pass
    status, _ = api.handle_query(
        {"q": "SELECT flowRate FROM campus_flow", "u": "boss", "p": "pw"}
    )
    assert status == 200
    status, _ = api.handle_write(
        {"u": "boss", "p": "pw"}, b"m f=3 1704085200000000000\n"
    )
    assert status == 204


def test_write_persists_unregistered_tags(api, spark):
    """Tags outside the measurement's PARTITIONING list (or on a
    measurement with no entry at all) persist as string columns —
    never silently dropped (r12 ADVICE medium)."""
    body = (
        "campus_flow,buildingID=C,host=h1 flowRate=1.5 1704085200\n"
        "campus_flow,buildingID=C flowRate=2.5 1704085260\n"
    ).encode()
    status, resp = api.handle_write({"precision": "s"}, body)
    assert status == 204, resp
    got = sinks.read_table(spark, api.table_dir, "campus_flow")
    rows = {r["flowRate"]: r for r in got.collect() if r["flowRate"] in (1.5, 2.5)}
    assert rows[1.5]["buildingID"] == "C" and rows[1.5]["host"] == "h1"
    assert rows[2.5]["host"] is None  # absent tag -> null, row kept


def test_json_time_pre1970_floor():
    """Epoch conversion floors (r12 ADVICE): a pre-1970 sub-second
    timestamp must not round toward zero."""
    from ciws_server_spark.sources.http_api import _json_time

    v = dt.datetime(1969, 12, 31, 23, 59, 59, 500000)
    assert _json_time(v, "ns") == -500_000_000
    assert _json_time(v, "s") == -1  # floor, not trunc-to-0
    v2 = dt.datetime(1970, 1, 1, 0, 0, 0, 250000)
    assert _json_time(v2, "ms") == 250
    assert _json_time(v2, "s") == 0


def test_query_chunked_streams_large_result(api, spark):
    """r12 VERDICT ask #4: chunked=true streams a >=100k-row result
    through serialize_frame_chunks (toLocalIterator) without
    materializing it; chunk boundaries and partial flags follow
    upstream's shape."""
    import pyspark.sql.functions as F

    big = spark.range(120_000).select(
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("time"),
        F.col("id").cast("double").alias("v"),
    )
    sinks.append_points(big, api.table_dir, "big_m")
    status, chunks = api.handle_query_chunked(
        {"q": "SELECT v FROM big_m", "chunk_size": "10000"}
    )
    assert status == 200
    n_rows, n_chunks, partials = 0, 0, []
    v_sum, v_min, v_max = 0.0, None, None
    for env in chunks:
        (res,) = env["results"]
        assert res["statement_id"] == 0
        (s,) = res["series"]
        assert s["name"] == "big_m"
        assert s["columns"] == ["time", "v"]
        assert len(s["values"]) <= 10000
        vs = [row[1] for row in s["values"]]
        v_sum += sum(vs)
        v_min = min(vs) if v_min is None else min(v_min, min(vs))
        v_max = max(vs) if v_max is None else max(v_max, max(vs))
        n_rows += len(s["values"])
        n_chunks += 1
        partials.append(bool(s.get("partial")))
        json.dumps(env)
    assert n_rows == 120_000 and n_chunks == 12
    # every chunk but the last continues the same series
    assert partials == [True] * 11 + [False]
    # every row arrived exactly once (sum pins the multiset)
    assert (v_min, v_max) == (0.0, 119999.0)
    assert v_sum == 119999.0 * 120000 / 2


def test_query_chunked_semantics(api, spark):
    """Chunk cuts at series boundaries (regex fan-out), empty
    results, statement errors in-stream, request-level auth up
    front."""
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 7, 0), "C", 1.0)],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, api.table_dir, "campus_b")
    # regex fan-out: one chunk per measurement, never mixed
    status, chunks = api.handle_query_chunked(
        {"q": "SELECT flowRate FROM /^campus/", "chunk_size": "10000"}
    )
    assert status == 200
    names = []
    for env in chunks:
        (res,) = env["results"]
        for s in res["series"]:
            names.append(s["name"])
            assert not s.get("partial")
    assert names == ["campus_b", "campus_flow"]
    # empty result -> one bare result object
    status, chunks = api.handle_query_chunked(
        {"q": "SELECT flowRate FROM campus_flow WHERE time < '2000-01-01'"}
    )
    assert [e["results"][0] for e in chunks] == [{"statement_id": 0}]
    # statement error streams in-body; later statements still run
    status, chunks = api.handle_query_chunked(
        {"q": "SELECT nope( FROM x; SELECT flowRate FROM campus_flow"}
    )
    got = list(chunks)
    assert "error" in got[0]["results"][0]
    assert got[1]["results"][0]["series"][0]["name"] == "campus_flow"
    # bad chunk_size / epoch are request-level 400s
    status, body = api.handle_query_chunked(
        {"q": "SELECT flowRate FROM campus_flow", "chunk_size": "zero"}
    )
    assert status == 400 and "chunk_size" in next(iter(body))["error"]
    status, body = api.handle_query_chunked(
        {"q": "SELECT flowRate FROM campus_flow", "epoch": "eons"}
    )
    assert status == 400


def _query(api, params: dict, chunked: bool):
    """One /query in either mode as ``(status, body)``; a chunked 200
    body is folded into one ``{"results": [...]}`` in stream order."""
    if not chunked:
        return api.handle_query(params)
    status, chunks = api.handle_query_chunked(params)
    envs = list(chunks)
    if status != 200:
        (body,) = envs
        return status, body
    return status, {"results": [r for env in envs for r in env["results"]]}


def _per_statement(body: dict) -> dict:
    """statement_id → its values concatenated across series and chunks,
    and its in-body error."""
    out: dict = {}
    for res in body["results"]:
        got = out.setdefault(
            res["statement_id"], {"values": [], "error": None}
        )
        for s in res.get("series", []):
            got["values"] += s["values"]
        if "error" in res:
            got["error"] = res["error"]
    return out


_ADMIN = {"u": "admin", "p": "a"}
_DELETE_THEN_SELECT = (
    "DELETE FROM campus_flow WHERE buildingID = 'A'; "
    "SELECT flowRate FROM campus_flow"
)
REQUEST_CASES = [
    ("missing_q", dict(_ADMIN), 400, "missing required parameter 'q'"),
    ("bad_epoch_empty_result",
     {"q": "SELECT flowRate FROM campus_flow WHERE time < '2000-01-01'",
      "epoch": "eons", **_ADMIN},
     400, "invalid epoch precision: 'eons'"),
    ("bad_epoch_after_delete",
     {"q": _DELETE_THEN_SELECT, "epoch": "eons", **_ADMIN},
     400, "invalid epoch precision: 'eons'"),
    ("empty_epoch_is_rfc3339",
     {"q": "SELECT flowRate FROM campus_flow ORDER BY time", "epoch": "",
      **_ADMIN},
     200, None),
    ("no_credentials", {"q": "SELECT flowRate FROM campus_flow"},
     401, "authentication failed: credentials required"),
    ("wrong_password",
     {"q": "SELECT flowRate FROM campus_flow", "u": "reader", "p": "WRONG"},
     401, "authentication failed for user 'reader'"),
    ("second_statement_denied",
     {"q": _DELETE_THEN_SELECT, "u": "writer", "p": "w"},
     403, "permission denied: 'writer' lacks READ on 'ciwsdb'"),
    ("registered_database_grant",
     {"q": "SELECT flowRate FROM campus_flow ORDER BY time",
      "u": "reader", "p": "p"},
     200, None),
]


@pytest.mark.parametrize(
    "params,status,error",
    [c[1:] for c in REQUEST_CASES],
    ids=[c[0] for c in REQUEST_CASES],
)
def test_query_request_cases_agree_across_modes(
    api, spark, params, status, error
):
    """Buffered and chunked /query answer every request-level case
    with the same status and body. The request is validated and every
    statement authorized, against the store's registered database,
    before any statement runs: a rejected request leaves the store
    untouched."""
    from ciws_server_spark.plans.influxql import run_influxql

    for stmt in (
        "CREATE DATABASE ciwsdb",
        "CREATE USER admin WITH PASSWORD 'a' WITH ALL PRIVILEGES",
        "CREATE USER reader WITH PASSWORD 'p'",
        "GRANT READ ON ciwsdb TO reader",
        "CREATE USER writer WITH PASSWORD 'w'",
        "GRANT WRITE ON ciwsdb TO writer",
    ):
        run_influxql(spark, {}, stmt, table_dir=api.table_dir)
    bodies = []
    for chunked in (False, True):
        got_status, body = _query(api, dict(params), chunked)
        assert got_status == status, (chunked, body)
        if error is not None:
            assert body == {"error": error}, chunked
        rows = sinks.read_table(spark, api.table_dir, "campus_flow").count()
        assert rows == 2, chunked
        bodies.append(body)
    assert bodies[0] == bodies[1]


def test_query_statement_results_agree_across_modes(api):
    """One read-only multi-statement request gives the same values and
    in-body errors per statement_id in both modes: a good SELECT (two
    one-row chunks), an unknown measurement (InfluxQLError), a plan
    Spark cannot analyze (AnalysisException) and a plan that fails
    while it runs (ANSI cast of a string tag to a number; one building,
    so the failing value is the same in both modes) — the last one
    mid-stream in chunked mode."""
    params = {
        "q": "SELECT flowRate FROM campus_flow ORDER BY time; "
             "SELECT v FROM nope; SELECT date + 1 FROM campus_flow; "
             "SELECT flowRate + buildingID FROM campus_flow"
             " WHERE buildingID = 'B'",
        "chunk_size": "1",
    }
    got = {}
    for chunked in (False, True):
        status, body = _query(api, dict(params), chunked)
        assert status == 200, body
        got[chunked] = _per_statement(body)
    assert got[False] == got[True]
    assert got[False][0] == {
        "values": [["2024-01-01T06:00:00Z", 2.5],
                   ["2024-01-01T06:30:00Z", 7.5]],
        "error": None,
    }
    assert got[False][1] == {
        "values": [], "error": "unknown measurement: 'nope'"
    }
    assert got[False][2]["error"].startswith("invalid statement: ")
    assert got[False][3]["values"] == []
    assert got[False][3]["error"].startswith("[CAST_INVALID_INPUT] ")


CONTENTION_CASES = [
    # a table dir with no sidecar and no files: every registry load
    # fails with UNABLE_TO_INFER_SCHEMA, a snapshot-race marker, while
    # no table version moves — a permanent error, not contention
    ("marker_but_storage_still", False,
     "invalid statement: [UNABLE_TO_INFER_SCHEMA] "),
    ("race_while_storage_moved", True, "storage contention persisted: "),
]


@pytest.mark.parametrize(
    "moved,prefix",
    [c[1:] for c in CONTENTION_CASES],
    ids=[c[0] for c in CONTENTION_CASES],
)
def test_contention_label_needs_storage_movement(
    api, monkeypatch, moved, prefix
):
    """Both modes label a statement error as storage contention only
    when the retry layer saw storage move on every attempt; an error
    whose text merely resembles a snapshot race is reported as what
    it is."""
    from ciws_server_spark.sources import http_api

    if moved:
        ticks = iter(range(1_000))
        monkeypatch.setattr(
            http_api, "_snapshot_fingerprint", lambda _td: next(ticks)
        )

        def race(*_a, **_k):
            raise FileNotFoundError("No such file or directory: 'part-0'")

        monkeypatch.setattr(http_api, "run_influxql", race)
    else:
        os.makedirs(os.path.join(api.table_dir, "ghost"))
    for chunked in (False, True):
        status, body = _query(
            api, {"q": "SELECT flowRate FROM campus_flow"}, chunked
        )
        assert status == 200, body
        (res,) = body["results"]
        assert res["statement_id"] == 0 and "series" not in res
        assert res["error"].startswith(prefix), (chunked, res)


def test_write_authorizes_against_registered_database(api, spark):
    """/write checks the WRITE grant on the store's registered database
    when the request names none, as /query does."""
    from ciws_server_spark.plans.influxql import run_influxql

    for stmt in (
        "CREATE DATABASE ciwsdb",
        "CREATE USER writer WITH PASSWORD 'w'",
        "GRANT WRITE ON ciwsdb TO writer",
    ):
        run_influxql(spark, {}, stmt, table_dir=api.table_dir)
    status, resp = api.handle_write(
        {"u": "writer", "p": "w", "precision": "s"},
        b"campus_flow,buildingID=C flowRate=1.5 1704085200\n",
    )
    assert status == 204, resp


def test_query_chunked_over_socket(api):
    import http.client
    import threading as _t

    srv = serve(api)
    t = _t.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        host, port = srv.server_address
        conn = http.client.HTTPConnection(host, port, timeout=60)
        conn.request(
            "GET",
            "/query?q=SELECT+flowRate+FROM+campus_flow"
            "&chunked=true&chunk_size=1",
        )
        r = conn.getresponse()
        assert r.status == 200
        lines = [ln for ln in r.read().decode().splitlines() if ln]
        envs = [json.loads(ln) for ln in lines]
        assert len(envs) == 2  # 2 rows, chunk_size=1
        assert envs[0]["results"][0]["series"][0]["partial"] is True
        assert "partial" not in envs[1]["results"][0]["series"][0]
    finally:
        srv.shutdown()
        srv.server_close()


def test_write_rejects_half_malformed_pairs(api):
    """Wire-fuzz finds (r12): a field fragment without '=' or an
    empty tag pair rejects the LINE (400), never mints a bogus
    column; out-of-int64-ns timestamps are 400s."""
    status, resp = api.handle_write(
        {}, b"weather,buildingID=A w=-2,,9.568,flowRate=36i 1347688299\n"
    )
    assert status == 400 and "parse" in resp["error"]
    status, resp = api.handle_write({}, b"m,host= v=1\n")
    assert status == 400
    status, resp = api.handle_write({}, b"m,=x v=1\n")
    assert status == 400
    status, resp = api.handle_write({}, b"m v=\n")
    assert status == 400
    status, resp = api.handle_write(
        {"precision": "h"}, b"m v=1 1999999999\n"
    )
    assert status == 400 and "out of range" in resp["error"]


def test_write_survives_dead_subscription_endpoint(api, spark):
    """Wire-fuzz find (r12): an unreachable subscription destination
    must never fail the write — upstream's subscriber service drops
    and logs; the 204 stands and failed posts are counted."""
    from ciws_server_spark.plans.influxql import run_influxql
    from ciws_server_spark.streaming.subscriptions import forward_batch

    run_influxql(
        spark, {},
        'CREATE SUBSCRIPTION "dead" ON ciws."autogen" '
        "DESTINATIONS ALL 'http://127.0.0.1:1/nope'",
        table_dir=api.table_dir,
    )
    status, resp = api.handle_write(
        {"precision": "s"}, b"sub_m v=7.5 1704085200\n"
    )
    assert status == 204, resp
    got = sinks.read_table(spark, api.table_dir, "sub_m")
    assert [r["v"] for r in got.collect()] == [7.5]
    # the counts surface the failure
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 6, 0), 1.0)], "time timestamp, v double"
    ).coalesce(1)
    totals = forward_batch(
        df, 0, table_dir=api.table_dir, measurement="sub_m",
        tag_cols=[], field_cols=["v"],
    )
    assert totals["failed_posts"] >= 1 and totals["posts"] == 0


def test_write_db_not_found_and_partial_write(api, spark):
    """Upstream /write parity (r12): an unknown db param is a 404
    'database not found'; a type conflict AFTER earlier measurements
    of the batch appended reports 'partial write:'."""
    status, resp = api.handle_write(
        {"db": "nope"}, b"m f=1 1704067200000000000\n"
    )
    assert status == 404 and "database not found" in resp["error"]
    status, _ = api.handle_write(
        {"db": "ciws", "precision": "s"}, b"pw_m f=1.5 1704067200\n"
    )
    assert status == 204
    # batch touching two measurements: aaa_m appends cleanly first
    # (sorted order), then pw_m's int write conflicts with its float
    status, resp = api.handle_write(
        {"precision": "s"},
        b"aaa_m v=1 1704067300\npw_m f=2i 1704067300\n",
    )
    assert status == 400
    assert resp["error"].startswith("partial write: "), resp
    got = sinks.read_table(spark, api.table_dir, "aaa_m").count()
    assert got == 1  # the partial write landed, as upstream


def test_write_rejects_path_hostile_measurement(api):
    """Wire-fuzz find (r12): a line-protocol measurement containing a
    path separator is a 400, never a nested directory in the store."""
    status, resp = api.handle_write({}, b"tar/get v=1 1704067200000000000\n")
    assert status == 400 and "invalid measurement" in resp["error"]
    import os

    assert not os.path.lexists(os.path.join(api.table_dir, "tar"))


def test_max_row_limit_truncates_unchunked(api, spark):
    """r12 VERDICT ask #7: upstream's httpd ``max-row-limit`` parity.
    A non-chunked /query caps the response at the configured row
    count and stamps the truncated series ``"partial": true``
    (upstream's truncation marker); chunked=true is exempt; 0 means
    unlimited. The cap is a plan-level LIMIT — the driver never
    buffers more than cap+1 rows."""
    capped = InfluxHTTPApi(spark, api.table_dir, max_row_limit=1)
    status, body = capped.handle_query(
        {"q": "SELECT flowRate FROM campus_flow"}
    )
    assert status == 200
    (res,) = body["results"]
    (series,) = res["series"]
    assert len(series["values"]) == 1
    assert series["partial"] is True
    json.dumps(body)
    # a result at or under the cap carries no partial marker
    roomy = InfluxHTTPApi(spark, api.table_dir, max_row_limit=2)
    status, body = roomy.handle_query(
        {"q": "SELECT flowRate FROM campus_flow"}
    )
    (series,) = body["results"][0]["series"]
    assert len(series["values"]) == 2 and "partial" not in series
    # 0 = unlimited (upstream default): identical to the uncapped api
    unlimited = InfluxHTTPApi(spark, api.table_dir, max_row_limit=0)
    status, body = unlimited.handle_query(
        {"q": "SELECT flowRate FROM campus_flow"}
    )
    (series,) = body["results"][0]["series"]
    assert len(series["values"]) == 2 and "partial" not in series
    # chunked=true is exempt — streaming is the sanctioned big-result
    # path, exactly upstream's contract
    status, chunks = capped.handle_query_chunked(
        {"q": "SELECT flowRate FROM campus_flow", "chunk_size": "10"}
    )
    rows = sum(
        len(s["values"])
        for env in chunks
        for s in env["results"][0].get("series", [])
    )
    assert rows == 2


def test_max_row_limit_regex_fanout_cut(api, spark):
    """With a regex fan-out, the capped result is measurement-ordered
    so the cut lands in the LAST series: earlier series arrive whole,
    exactly one series is marked partial."""
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 7, 0), "C", 1.0),
            (dt.datetime(2024, 1, 1, 7, 30), "D", 2.0),
        ],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, api.table_dir, "campus_b")
    capped = InfluxHTTPApi(spark, api.table_dir, max_row_limit=3)
    status, body = capped.handle_query(
        {"q": "SELECT flowRate FROM /^campus/"}
    )
    (res,) = body["results"]
    assert [s["name"] for s in res["series"]] == [
        "campus_b", "campus_flow",
    ]
    first, last = res["series"]
    assert len(first["values"]) == 2 and "partial" not in first
    assert len(last["values"]) == 1 and last["partial"] is True


def test_chunked_client_disconnect_mid_stream(api, spark):
    """r12 VERDICT ask #4: a client that drops mid-stream must not
    wedge the server or leak the running toLocalIterator job. Reads
    two chunks of a large chunked result over a raw socket, closes
    the connection, then asserts (a) the server thread survives and
    keeps serving, and (b) Spark's active jobs drain to zero — the
    abandoned stream's job is cancelled/drained, not left running."""
    import pyspark.sql.functions as F
    import socket as _socket
    import time as _time

    big = spark.range(200_000).select(
        F.timestamp_seconds(F.lit(1704067200) + F.col("id")).alias("time"),
        F.col("id").cast("double").alias("v"),
    )
    sinks.append_points(big, api.table_dir, "drop_m")
    srv = serve(api)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        host, port = srv.server_address
        s = _socket.create_connection((host, port), timeout=60)
        s.sendall(
            b"GET /query?q=SELECT+v+FROM+drop_m&chunked=true"
            b"&chunk_size=500 HTTP/1.1\r\n"
            b"Host: x\r\nConnection: close\r\n\r\n"
        )
        # read ~2 chunks' worth of bytes, then hang up mid-stream
        got = b""
        while got.count(b"\n") < 6:  # headers + >=2 body lines
            got += s.recv(4096)
        s.close()
        # (a) the server keeps serving subsequent requests
        import http.client

        deadline = _time.time() + 30
        ok = False
        while _time.time() < deadline:
            try:
                conn = http.client.HTTPConnection(host, port, timeout=30)
                conn.request("GET", "/ping")
                if conn.getresponse().status == 204:
                    ok = True
                    break
            except OSError:
                _time.sleep(0.2)
        assert ok, "server stopped serving after client disconnect"
        conn.request("GET", "/query?q=SELECT+flowRate+FROM+campus_flow")
        r = conn.getresponse()
        assert r.status == 200
        assert json.loads(r.read())["results"][0]["series"]
        # (b) the abandoned stream's Spark job drains bounded
        tracker = spark.sparkContext.statusTracker()
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if not tracker.getActiveJobsIds():
                break
            _time.sleep(0.5)
        assert not tracker.getActiveJobsIds(), (
            "toLocalIterator job leaked after client disconnect"
        )
    finally:
        srv.shutdown()
        srv.server_close()


def test_max_row_limit_preserves_time_order_within_series(api, spark):
    """Advisor r13 (medium): the measurement-first sort under
    ``max-row-limit`` must not scramble time order WITHIN a series.
    Spark's sort is unstable, so ``orderBy("measurement")`` alone can
    interleave a multi-partition series arbitrarily — upstream always
    returns points time-ordered within a series. The serializers sort
    on the composite (measurement, time) key instead."""
    rows = [
        (dt.datetime(2024, 2, 1, 0, 0) + dt.timedelta(minutes=i), "E", float(i))
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows, "time timestamp, buildingID string, flowRate double"
    ).repartition(8)  # multiple files → multiple scan partitions
    sinks.append_points(df, api.table_dir, "campus_wide")
    capped = InfluxHTTPApi(spark, api.table_dir, max_row_limit=100)
    status, body = capped.handle_query(
        {"q": "SELECT flowRate FROM /^campus_(wide|flow)/", "epoch": "s"}
    )
    assert status == 200
    for series in body["results"][0]["series"]:
        times = [v[0] for v in series["values"]]
        assert times == sorted(times), (
            f"series {series['name']} not time-ordered under row cap"
        )


def test_max_row_limit_boundary_cut_marks_next_series(api, spark):
    """Advisor r13: when the cut lands exactly ON a series boundary,
    the last kept series is complete — stamping IT partial points the
    marker at the wrong series. The truncated (absent) series appears
    as an empty ``partial: true`` stub instead."""
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 7, 0), "C", 1.0),
            (dt.datetime(2024, 1, 1, 7, 30), "D", 2.0),
        ],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, api.table_dir, "campus_b")
    # campus_b sorts first and has exactly 2 rows = the cap: the kept
    # rows are ALL of campus_b, campus_flow is cut off entirely
    capped = InfluxHTTPApi(spark, api.table_dir, max_row_limit=2)
    status, body = capped.handle_query(
        {"q": "SELECT flowRate FROM /^campus/"}
    )
    assert status == 200
    series = body["results"][0]["series"]
    assert [s["name"] for s in series] == ["campus_b", "campus_flow"]
    complete, stub = series
    assert len(complete["values"]) == 2 and "partial" not in complete
    assert stub["values"] == [] and stub["partial"] is True


def test_snapshot_race_retry_requires_storage_movement(tmp_path):
    """r13 VERDICT ask #7: a marker-matching error message alone no
    longer triggers a silent re-run — the retry path additionally
    requires the storage fingerprint (table → pinned version realpath)
    to have MOVED while the statement ran. A genuine user error whose
    text resembles a race re-raises on the first attempt."""
    from ciws_server_spark.sources.http_api import (
        _run_with_contention_retry,
        _snapshot_fingerprint,
    )

    td = tmp_path / "tables"
    td.mkdir()
    v1 = td / "m.v000001"
    v1.mkdir()
    (td / "m").symlink_to("m.v000001")

    # 1) marker text, storage static → NO retry (one call, re-raised)
    calls = {"n": 0}

    def genuine_error():
        calls["n"] += 1
        raise FileNotFoundError(
            "No such file or directory: '/etc/ciws/missing-sidecar'"
        )

    with pytest.raises(FileNotFoundError):
        _run_with_contention_retry(genuine_error, str(td))
    assert calls["n"] == 1

    # 2) same marker text, but a compaction swapped the snapshot while
    #    the statement ran → retried, succeeds second time
    calls["n"] = 0

    def racing_read():
        calls["n"] += 1
        if calls["n"] == 1:
            v2 = td / "m.v000002"
            v2.mkdir()
            tmp = td / "m.swap"
            tmp.symlink_to("m.v000002")
            os.rename(tmp, td / "m")
            raise FileNotFoundError(
                "No such file or directory: part-0000.parquet"
            )
        return "ok"

    assert _run_with_contention_retry(racing_read, str(td)) == "ok"
    assert calls["n"] == 2

    # fingerprint witnesses create/drop too, not just swaps
    fp = _snapshot_fingerprint(str(td))
    (td / "m2.v000001").mkdir()
    (td / "m2").symlink_to("m2.v000001")
    assert _snapshot_fingerprint(str(td)) != fp


def test_query_multi_measurement_order_desc(api, spark):
    """ORDER BY time DESC must survive the serializers' composite
    (measurement, time) re-sort on multi-measurement frames — the
    forced-ASC re-sort silently inverted the requested direction for
    regex/comma FROM queries (advisor r14)."""
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 7, 0), "C", 1.0),
            (dt.datetime(2024, 1, 1, 7, 30), "C", 3.0),
        ],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, api.table_dir, "campus_b")
    q = "SELECT flowRate FROM /^campus/ ORDER BY time DESC"
    status, body = api.handle_query({"q": q})
    assert status == 200
    (res,) = body["results"]
    assert len(res["series"]) == 2
    for s in res["series"]:
        times = [v[0] for v in s["values"]]
        assert times == sorted(times, reverse=True), s["name"]
    # the chunked serializer honors the same direction
    status, chunks = api.handle_query_chunked({"q": q, "chunk_size": "10"})
    per_series: dict[str, list] = {}
    for env in chunks:
        (obj,) = env["results"]
        for s in obj.get("series") or []:
            per_series.setdefault(s["name"], []).extend(
                v[0] for v in s["values"]
            )
    assert len(per_series) == 2
    for times in per_series.values():
        assert times == sorted(times, reverse=True)


def test_max_row_limit_desc_keeps_newest(api, spark):
    """Under max-row-limit, an ORDER BY time DESC result must keep the
    NEWEST rows (the cut truncates the tail of the requested order,
    as upstream) — the forced-ASC re-sort kept the oldest."""
    capped = InfluxHTTPApi(spark, api.table_dir, max_row_limit=1)
    status, body = capped.handle_query(
        {"q": "SELECT flowRate FROM /^campus_f/ ORDER BY time DESC"}
    )
    assert status == 200
    (res,) = body["results"]
    (series,) = res["series"]
    assert series["partial"] is True
    assert series["values"][0][0] == "2024-01-01T06:30:00Z"


def test_statement_order_desc_outer_only():
    """The serializer's order hint reads the OUTER statement's ORDER
    BY; an inner subquery's DESC must not leak out."""
    from ciws_server_spark.plans.influxql import statement_order_desc

    assert statement_order_desc("SELECT f FROM m ORDER BY time DESC")
    assert statement_order_desc("select f from m order by time desc")
    assert not statement_order_desc("SELECT f FROM m ORDER BY time ASC")
    assert not statement_order_desc("SELECT f FROM m")
    assert not statement_order_desc(
        "SELECT mean(f) FROM (SELECT f FROM m ORDER BY time DESC) "
        "GROUP BY time(1m)"
    )
    assert statement_order_desc(
        "SELECT mean(f) FROM (SELECT f FROM m) GROUP BY time(1m) "
        "ORDER BY time DESC"
    )


def test_chunked_stream_holds_reader_lease(api, spark):
    """While a chunked stream is mid-drain, the pinned snapshot version
    must still be LEASED: the leases weakref the exact frames
    _read_current returned, and the result frame holds no Python
    reference to them — the handler keeps the loaded-tables dict alive
    in the generator frame for the stream's duration (advisor r14)."""
    import gc as _gc

    status, chunks = api.handle_query_chunked(
        {"q": "SELECT flowRate FROM campus_flow", "chunk_size": "1"}
    )
    assert status == 200
    it = iter(chunks)
    next(it)  # stream is now mid-drain
    _gc.collect()  # any ref the handler failed to hold is gone now
    root = os.path.realpath(os.path.join(api.table_dir, "campus_flow"))
    with sinks._LEASES_LOCK:
        live = {d for d, refs in sinks._LEASES.items() if len(refs)}
    assert root in live
    list(it)  # drain
