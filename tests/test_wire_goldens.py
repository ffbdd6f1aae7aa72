"""Golden /query response fixtures (VERDICT r11 ask #6): the wire
serializer's claim is "what influxdb-python speaks" — these pin the
exact response BYTES (json.dumps, sorted keys, compact separators)
for the documented upstream shapes: RFC3339 + sub-second timestamps,
every epoch integer form, per-measurement series from a regex FROM,
SHOW metadata series, multi-statement ids, in-body statement errors,
empty results, write-class acks, 400/401/403 bodies, and the chunked
envelope with its partial flag.

SHOW TAG KEYS / FIELD KEYS / TAG VALUES serialize as upstream does:
one series PER MEASUREMENT, named after it (r12 — the engine's SHOW
frames carry the measurement dimension and the serializer splits on
it, replacing the earlier flattened convention).

Documented divergences from upstream 1.x, pinned as OUR bytes:
* SHOW SERIES carries a series name ("series"); upstream emits an
  unnamed series.
* Raw selects serialize in plan order; goldens use the explicit
  ``ORDER BY time`` form (upstream sorts raw selects by time
  implicitly).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest

from ciws_server_spark.sources import sinks
from ciws_server_spark.sources.http_api import InfluxHTTPApi


def _dumps(body) -> str:
    return json.dumps(body, sort_keys=True, separators=(",", ":"))


@pytest.fixture(scope="module")
def gapi(spark, tmp_path_factory):
    td = str(tmp_path_factory.mktemp("goldens"))
    df = spark.createDataFrame(
        [
            (dt.datetime(2024, 1, 1, 6, 0), "A", 2.5),
            (dt.datetime(2024, 1, 1, 6, 30, 0, 250000), "B", 7.5),
        ],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, td, "campus_flow")
    df2 = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 7, 0), "h1", 1.0)],
        "time timestamp, host string, load double",
    )
    sinks.append_points(df2, td, "sys_load")
    return InfluxHTTPApi(spark, td)


GOLDENS = [
    ("select_raw_rfc3339_subsecond",
     {"q": "SELECT flowRate FROM campus_flow ORDER BY time"}, 200,
     '{"results":[{"series":[{"columns":["time","flowRate"],"name":"campus_flow","values":[["2024-01-01T06:00:00Z",2.5],["2024-01-01T06:30:00.25Z",7.5]]}],"statement_id":0}]}'),
    ("select_epoch_ms",
     {"q": "SELECT flowRate FROM campus_flow ORDER BY time",
      "epoch": "ms"}, 200,
     '{"results":[{"series":[{"columns":["time","flowRate"],"name":"campus_flow","values":[[1704088800000,2.5],[1704090600250,7.5]]}],"statement_id":0}]}'),
    ("select_epoch_s",
     {"q": "SELECT flowRate FROM campus_flow ORDER BY time",
      "epoch": "s"}, 200,
     '{"results":[{"series":[{"columns":["time","flowRate"],"name":"campus_flow","values":[[1704088800,2.5],[1704090600,7.5]]}],"statement_id":0}]}'),
    ("agg_group_by_time",
     {"q": "SELECT mean(flowRate) FROM campus_flow GROUP BY time(1h)"},
     200,
     '{"results":[{"series":[{"columns":["time","mean_flowRate"],"name":"campus_flow","values":[["2024-01-01T06:00:00Z",5.0]]}],"statement_id":0}]}'),
    ("show_measurements", {"q": "SHOW MEASUREMENTS"}, 200,
     '{"results":[{"series":[{"columns":["name"],"name":"measurements","values":[["campus_flow"],["sys_load"]]}],"statement_id":0}]}'),
    ("show_tag_keys", {"q": "SHOW TAG KEYS"}, 200,
     '{"results":[{"series":[{"columns":["tagKey"],"name":"campus_flow","values":[["buildingID"]]},{"columns":["tagKey"],"name":"sys_load","values":[["host"]]}],"statement_id":0}]}'),
    ("show_field_keys", {"q": "SHOW FIELD KEYS"}, 200,
     '{"results":[{"series":[{"columns":["fieldKey","fieldType"],"name":"campus_flow","values":[["flowRate","float"]]},{"columns":["fieldKey","fieldType"],"name":"sys_load","values":[["load","float"]]}],"statement_id":0}]}'),
    ("show_tag_values",
     {"q": 'SHOW TAG VALUES WITH KEY = "buildingID"'}, 200,
     '{"results":[{"series":[{"columns":["key","value"],"name":"campus_flow","values":[["buildingID","A"],["buildingID","B"]]}],"statement_id":0}]}'),
    ("show_retention_policies", {"q": "SHOW RETENTION POLICIES"}, 200,
     '{"results":[{"series":[{"columns":["name","duration","shardGroupDuration","replicaN","default"],"name":"retention_policies","values":[["autogen","0s","168h0m0s",1,true]]}],"statement_id":0}]}'),
    ("show_series", {"q": "SHOW SERIES"}, 200,
     '{"results":[{"series":[{"columns":["key"],"name":"series","values":[["campus_flow,buildingID=A"],["campus_flow,buildingID=B"],["sys_load,host=h1"]]}],"statement_id":0}]}'),
    ("multi_statement_ids",
     {"q": "SELECT flowRate FROM campus_flow ORDER BY time; "
           "SHOW MEASUREMENTS"}, 200,
     '{"results":[{"series":[{"columns":["time","flowRate"],"name":"campus_flow","values":[["2024-01-01T06:00:00Z",2.5],["2024-01-01T06:30:00.25Z",7.5]]}],"statement_id":0},{"series":[{"columns":["name"],"name":"measurements","values":[["campus_flow"],["sys_load"]]}],"statement_id":1}]}'),
    ("statement_error_in_body", {"q": "SELECT nope( FROM x"}, 200,
     '{"results":[{"error":"unknown measurement: \'x\'","statement_id":0}]}'),
    ("empty_result",
     {"q": "SELECT flowRate FROM campus_flow WHERE time < '2000-01-01'"},
     200, '{"results":[{"statement_id":0}]}'),
    ("write_class_ack",
     {"q": "DELETE FROM campus_flow WHERE buildingID = 'Z'"}, 200,
     '{"results":[{"statement_id":0}]}'),
    ("regex_fanout_select_star",
     {"q": "SELECT * FROM /^(campus_flow|sys_load)$/ ORDER BY time"},
     200,
     '{"results":[{"series":[{"columns":["time","flowRate","buildingID","date","host","load"],"name":"campus_flow","values":[["2024-01-01T06:00:00Z",2.5,"A","2024-01-01",null,null],["2024-01-01T06:30:00.25Z",7.5,"B","2024-01-01",null,null]]},{"columns":["time","flowRate","buildingID","date","host","load"],"name":"sys_load","values":[["2024-01-01T07:00:00Z",null,null,null,"h1",1.0]]}],"statement_id":0}]}'),
    # a series is named after its measurement — the key influxdb-python's
    # get_points(measurement=...) looks it up by: qualifiers stripped,
    # and a subquery's series named after the inner statement's
    ("select_qualified_from_name",
     {"q": 'SELECT flowRate FROM "ciws"."autogen"."campus_flow" '
           "ORDER BY time"}, 200,
     '{"results":[{"series":[{"columns":["time","flowRate"],"name":"campus_flow","values":[["2024-01-01T06:00:00Z",2.5],["2024-01-01T06:30:00.25Z",7.5]]}],"statement_id":0}]}'),
    ("subquery_name",
     {"q": "SELECT mean(flowRate) FROM (SELECT flowRate FROM campus_flow)"},
     200,
     '{"results":[{"series":[{"columns":["mean_flowRate"],"name":"campus_flow","values":[[5.0]]}],"statement_id":0}]}'),
    ("invalid_epoch_400",
     {"q": "SELECT flowRate FROM campus_flow", "epoch": "eons"}, 400,
     '{"error":"invalid epoch precision: \'eons\'"}'),
]

AUTH_GOLDENS = [
    ("missing_credentials_401",
     {"q": "SELECT flowRate FROM campus_flow"}, 401,
     '{"error":"authentication failed: credentials required"}'),
    ("bad_password_401",
     {"q": "SELECT flowRate FROM campus_flow", "u": "reader",
      "p": "x"}, 401,
     '{"error":"authentication failed for user \'reader\'"}'),
    ("permission_denied_403",
     {"q": "DELETE FROM campus_flow", "u": "reader", "p": "p"}, 403,
     '{"error":"permission denied: \'reader\' lacks WRITE on \'ciws\'"}'),
]


@pytest.mark.parametrize(
    "name,params,status,golden", GOLDENS, ids=[g[0] for g in GOLDENS]
)
def test_golden(gapi, name, params, status, golden):
    got_status, body = gapi.handle_query(dict(params))
    assert got_status == status, (name, body)
    assert _dumps(body) == golden, name


def test_auth_goldens(gapi, spark):
    from ciws_server_spark.plans.influxql import run_influxql

    run_influxql(
        spark, {}, "CREATE USER reader WITH PASSWORD 'p'",
        table_dir=gapi.table_dir,
    )
    run_influxql(
        spark, {}, "GRANT READ ON ciws TO reader",
        table_dir=gapi.table_dir,
    )
    try:
        for name, params, status, golden in AUTH_GOLDENS:
            got_status, body = gapi.handle_query(dict(params))
            assert got_status == status, (name, body)
            assert _dumps(body) == golden, name
    finally:
        run_influxql(
            spark, {}, "DROP USER reader", table_dir=gapi.table_dir,
        )


def test_chunked_envelope_golden(gapi):
    """Chunked envelopes: complete response objects per line with the
    partial flag on a continuing series (upstream's chunked shape)."""
    status, chunks = gapi.handle_query_chunked(
        {"q": "SELECT flowRate FROM campus_flow ORDER BY time",
         "chunk_size": "1"}
    )
    assert status == 200
    got = [_dumps(env) for env in chunks]
    assert got == [
        '{"results":[{"series":[{"columns":["time","flowRate"],"name":"campus_flow","partial":true,"values":[["2024-01-01T06:00:00Z",2.5]]}],"statement_id":0}]}',
        '{"results":[{"series":[{"columns":["time","flowRate"],"name":"campus_flow","values":[["2024-01-01T06:30:00.25Z",7.5]]}],"statement_id":0}]}',
    ]


@pytest.mark.parametrize(
    "name", ["select_qualified_from_name", "subquery_name"]
)
def test_chunked_series_name_golden(gapi, name):
    """The chunked mode names a qualified-FROM and a subquery series
    exactly as the buffered goldens do."""
    (params, golden) = next(
        (g[1], g[3]) for g in GOLDENS if g[0] == name
    )
    status, chunks = gapi.handle_query_chunked(dict(params))
    assert status == 200
    assert [_dumps(env) for env in chunks] == [golden]


def test_write_timestamp_bounds_golden(gapi):
    """/write enforces upstream's int64-nanosecond timestamp domain
    (wire-fuzz find, r12): rescale overflow and raw out-of-range are
    400s; the int64-ns boundary value is accepted."""
    status, resp = gapi.handle_write(
        {"precision": "h"}, b"gm v=1 1999999999\n"
    )
    assert status == 400 and "out of range" in resp["error"]
    status, resp = gapi.handle_write(
        {}, b"gm v=1 9999999999999999999999\n"
    )
    assert status == 400 and "out of range" in resp["error"]
    status, resp = gapi.handle_write(
        {}, b"gm v=1 9223372036854775806\n"
    )
    assert status == 204
