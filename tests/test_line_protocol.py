"""InfluxDB line-protocol parser and its two arrival paths
(plans/line_protocol.py; ``/write`` and the line-protocol stream) — the
reference's S8 write format accepted as text (transfer_manager.py:123-164
writes it via the client lib)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from pyspark.sql import functions as F

from ciws_server_spark.plans.line_protocol import parse_lines, typed_fields


@pytest.fixture()
def parsed(spark):
    lines = spark.createDataFrame(
        [
            ("flow,buildingID=A hotOutFlowRate=1.5,count=3i "
             "1614556800000000000",),
            ("flow,buildingID=B\\ East hotOutFlowRate=2.5 "
             "1614556860000000000",),
            ('temp,room=r1,floor=2 celsius=21.5,ok=true,note="hi"',),
            ("nofields_here",),
            ("# a comment",),
            ("",),
            ("weird\\,name,tag\\=x=y\\,z v=1 1614556800000000000",),
        ],
        "value STRING",
    )
    return parse_lines(lines)


def test_parse_structure(parsed):
    rows = {r["raw_line"]: r for r in parsed.collect()}
    assert len(rows) == 5  # comment + blank dropped
    a = next(r for r in rows.values() if r["tags"] == {"buildingID": "A"})
    assert a["measurement"] == "flow"
    assert a["fields"] == {"hotOutFlowRate": "1.5", "count": "3i"}
    assert a["ts"] == dt.datetime(2021, 3, 1, 0, 0)  # ns → µs, UTC

    # identifier escapes: \, \= \space in measurement/tag names+values
    w = next(r for r in rows.values() if r["measurement"] == "weird,name")
    assert w["tags"] == {"tag=x": "y,z"}
    b = next(
        r for r in rows.values() if r["tags"] == {"buildingID": "B East"}
    )
    assert b["fields"] == {"hotOutFlowRate": "2.5"}

    # no field set → null maps (quarantine-routable, not poisonous)
    bad = rows["nofields_here"]
    assert bad["fields"] is None and bad["ts"] is None


def test_typed_projection(parsed):
    flow = typed_fields(
        parsed, "flow", {"hotOutFlowRate": "float", "count": "integer"}
    ).collect()
    by_tag = {r["tags"]["buildingID"]: r for r in flow}
    assert by_tag["A"]["hotOutFlowRate"] == 1.5
    assert by_tag["A"]["count"] == 3  # 3i integer suffix stripped
    assert by_tag["B East"]["count"] is None  # absent field → null

    temp = typed_fields(
        parsed,
        "temp",
        {"celsius": "float", "ok": "boolean", "note": "string"},
    ).collect()[0]
    assert temp["celsius"] == 21.5
    assert temp["ok"] is True
    assert temp["note"] == "hi"  # quotes stripped
    assert temp["ts"] is None  # timestamp omitted on the line

    # type mismatches null out instead of raising (ANSI-safe):
    # 'true' as float, quoted string as integer
    mis = typed_fields(
        parsed, "temp", {"ok": "float", "note": "integer"}
    ).collect()[0]
    assert mis["ok"] is None and mis["note"] is None


def test_ingest_job_routes_to_partitioned_table(spark, tmp_path):
    from ciws_server_spark.streaming.ingest import run_line_protocol_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "batch1.lp").write_text(
        "campus_flow,buildingID=A hotOutFlowRate=1.5,coldInFlowRate=2.0 "
        "1614556800000000000\n"
        "campus_flow,buildingID=B hotOutFlowRate=0.5,coldInFlowRate=1.0 "
        "1614643260000000000\n"
        "garbage line without fields\n"
        "campus_flow,buildingID=C hotOutFlowRate\n"  # no field value
    )
    tables = tmp_path / "tables"
    run_line_protocol_pass(
        spark,
        str(landing),
        str(tables),
        str(tmp_path / "ckpt"),
        {"campus_flow": {"hotOutFlowRate": "float",
                         "coldInFlowRate": "float"}},
    )
    out = spark.read.parquet(str(tables / "campus_flow"))
    rows = {r["buildingID"]: r for r in out.collect()}
    assert len(rows) == 2 and out.count() == 2
    assert rows["A"]["hotOutFlowRate"] == 1.5
    assert rows["B"]["date"] == dt.date(2021, 3, 2)  # day partition
    # tag+date partition directories exist (pruning layout, S8)
    assert os.path.isdir(
        str(tables / "campus_flow" / "buildingID=A" / "date=2021-03-01")
    )
    # malformed lines land no point; they quarantine their source file
    q = spark.read.parquet(str(tables / "quarantine_files")).collect()
    assert [r["src_file"].endswith("batch1.lp") for r in q] == [True]


def test_parser_stays_codegen(spark, parsed):
    """No Python UDF / BatchEvalPython anywhere in the parse plan."""
    plan = parsed._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_streaming_line_protocol_pass(spark, tmp_path):
    """Streaming .lp ingest: checkpointed discovery (no double-ingest
    on replay), idempotent batch writes, malformed lines → quarantine
    manifest."""
    from ciws_server_spark.streaming.ingest import run_line_protocol_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    tables = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")
    schemas = {"campus_flow": {"hotOutFlowRate": "float"}}

    (landing / "b1.lp").write_text(
        "campus_flow,buildingID=A hotOutFlowRate=1.5 1614556800000000000\n"
        "this is not line protocol\n"
    )
    run_line_protocol_pass(spark, str(landing), tables, ckpt, schemas)
    flow = spark.read.parquet(os.path.join(tables, "campus_flow"))
    assert flow.count() == 1
    q = spark.read.parquet(os.path.join(tables, "quarantine_files"))
    assert q.count() == 1
    assert q.collect()[0]["src_file"].endswith("b1.lp")

    # second file, same checkpoint: only the new points land
    (landing / "b2.lp").write_text(
        "campus_flow,buildingID=B hotOutFlowRate=2.5 1614643200000000000\n"
    )
    run_line_protocol_pass(spark, str(landing), tables, ckpt, schemas)
    flow = spark.read.parquet(os.path.join(tables, "campus_flow"))
    assert flow.count() == 2
    assert {r["buildingID"] for r in flow.collect()} == {"A", "B"}

    # replay with nothing new: no growth (checkpoint + idempotence)
    run_line_protocol_pass(spark, str(landing), tables, ckpt, schemas)
    assert spark.read.parquet(
        os.path.join(tables, "campus_flow")
    ).count() == 2


def test_render_roundtrip(spark):
    """render_lines ∘ parse_lines is the identity on typed points."""
    import datetime as dt

    from ciws_server_spark.plans.line_protocol import render_lines

    rows = [
        (dt.datetime(2021, 3, 1, 0, 0), "A East", 1.5, 3, True, 'say "hi"'),
        (dt.datetime(2021, 3, 1, 0, 1), "B,x=y", 2.5, -7, False, "plain"),
    ]
    df = spark.createDataFrame(
        rows, "time TIMESTAMP, b STRING, f DOUBLE, n BIGINT, ok BOOLEAN, s STRING"
    )
    lines = render_lines(df, "flow m", ["b"], ["f", "n", "ok", "s"])
    texts = [r["line"] for r in lines.collect()]
    assert texts[0].startswith("flow\\ m,b=A\\ East ")
    assert "n=3i" in texts[0] and 'ok=true' in texts[0]

    back = parse_lines(lines, col="line")
    got = typed_fields(
        back, "flow m",
        {"f": "float", "n": "integer", "ok": "boolean", "s": "string"},
    ).collect()
    by_tag = {r["tags"]["b"]: r for r in got}
    assert by_tag["A East"]["f"] == 1.5
    assert by_tag["A East"]["n"] == 3
    assert by_tag["A East"]["ok"] is True
    assert by_tag["A East"]["ts"] == dt.datetime(2021, 3, 1, 0, 0)
    assert by_tag["B,x=y"]["n"] == -7
    assert by_tag["B,x=y"]["ok"] is False
    assert by_tag["B,x=y"]["s"] == "plain"


def test_export_import_cycle(spark, tmp_path):
    """/write → partitioned table → render_lines → /write: the second
    table equals the first (full format symmetry)."""
    from ciws_server_spark.plans.line_protocol import render_lines
    from ciws_server_spark.sources.http_api import InfluxHTTPApi

    body = (
        b"campus_flow,buildingID=A hotOutFlowRate=1.5 1614556800000000000\n"
        b"campus_flow,buildingID=B hotOutFlowRate=2.5 1614643260000000000\n"
    )
    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    assert InfluxHTTPApi(spark, t1).handle_write({}, body) == (204, None)

    first = spark.read.parquet(os.path.join(t1, "campus_flow"))
    lines = [
        r["line"]
        for r in render_lines(
            first, "campus_flow", ["buildingID"], ["hotOutFlowRate"]
        ).collect()
    ]
    assert len(lines) == 2
    rendered = "\n".join(lines).encode()
    assert InfluxHTTPApi(spark, t2).handle_write({}, rendered) == (204, None)

    k = lambda r: (r["buildingID"], str(r["time"]))  # noqa: E731
    rows1 = sorted(first.collect(), key=k)
    rows2 = sorted(
        spark.read.parquet(os.path.join(t2, "campus_flow")).collect(), key=k
    )
    assert [r.asDict() for r in rows1] == [r.asDict() for r in rows2]


def test_duplicate_keys_last_win_not_exception(spark):
    """A duplicated tag/field key keeps the LAST value (InfluxDB
    server behavior) instead of tripping Spark's default
    mapKeyDedupPolicy=EXCEPTION and failing the whole batch."""
    lines = spark.createDataFrame(
        [
            ("m f=1,f=2 1614556800000000000",),
            ("m,t=a,t=b f=9",),
            ("ok f=5",),
        ],
        "value STRING",
    )
    rows = {r["raw_line"]: r for r in parse_lines(lines).collect()}
    assert rows["m f=1,f=2 1614556800000000000"]["fields"] == {"f": "2"}
    assert rows["m,t=a,t=b f=9"]["tags"] == {"t": "b"}
    assert rows["ok f=5"]["fields"] == {"f": "5"}


def test_render_null_tags_and_all_null_fields(spark):
    """A null tag value drops just that tag pair (not the whole line
    head); a row whose field values are all null is dropped from the
    export instead of rendering an unparseable empty-body line."""
    import datetime as dt

    from ciws_server_spark.plans.line_protocol import render_lines

    rows = [
        (dt.datetime(2021, 3, 1), None, "r1", 1.5),
        (dt.datetime(2021, 3, 1, 0, 1), "B", None, 2.5),
        (dt.datetime(2021, 3, 1, 0, 2), "C", "r2", None),
    ]
    df = spark.createDataFrame(
        rows, "time TIMESTAMP, b STRING, room STRING, f DOUBLE"
    )
    texts = [
        r["line"]
        for r in render_lines(df, "m", ["b", "room"], ["f"]).collect()
    ]
    # all-null-fields row dropped
    assert len(texts) == 2
    assert texts[0].startswith("m,room=r1 f=1.5 ")
    assert texts[1].startswith("m,b=B f=2.5 ")
    # every emitted line parses back cleanly
    back = parse_lines(
        spark.createDataFrame([(t,) for t in texts], "value STRING")
    ).collect()
    assert all(r["fields"] == {"f": r["fields"]["f"]} for r in back)


def test_missing_timestamp_stamped_with_arrival_time(spark, tmp_path):
    """A well-formed point with no timestamp is stamped with the
    arrival time (InfluxDB server behavior) on BOTH arrival paths —
    ``/write`` and the streaming pass — never silently dropped, never
    written to a null time/date partition."""
    from ciws_server_spark.sources.http_api import InfluxHTTPApi
    from ciws_server_spark.streaming.ingest import run_line_protocol_pass

    body = (
        "campus_flow,buildingID=A hotOutFlowRate=1.0 1614556800000000000\n"
        "campus_flow,buildingID=B hotOutFlowRate=2.0\n"  # no timestamp
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.lp").write_text(body)
    schemas = {"campus_flow": {"hotOutFlowRate": "float"}}

    before = dt.datetime.now() - dt.timedelta(minutes=5)
    api = InfluxHTTPApi(spark, str(tmp_path / "write"))
    assert api.handle_write({}, body.encode()) == (204, None)
    run_line_protocol_pass(
        spark, str(landing), str(tmp_path / "stream"),
        str(tmp_path / "ckpt"), schemas,
    )
    for side in ("write", "stream"):
        rows = {
            r["buildingID"]: r
            for r in spark.read.parquet(
                str(tmp_path / side / "campus_flow")
            ).collect()
        }
        assert rows["A"]["time"] == dt.datetime(2021, 3, 1, 0, 0), side
        assert rows["B"]["time"] is not None, side
        assert rows["B"]["time"] > before, side


def test_write_and_stream_arrivals_agree(spark, tmp_path):
    """One body through ``/write`` and through the line-protocol
    stream lands the same tables: same columns (the stream adds only
    its ``batch_id`` level), same rows. A non-partition tag (``room``)
    is a string column on both paths; only the arrival stamp of the
    line with no timestamp may differ."""
    from ciws_server_spark.sources.http_api import InfluxHTTPApi
    from ciws_server_spark.streaming.ingest import run_line_protocol_pass

    body = (
        "campus_flow,buildingID=A,room=r1 hotOutFlowRate=1.5 "
        "1614556800000000000\n"
        "campus_flow,buildingID=B hotOutFlowRate=2.5\n"  # no timestamp
        "raw_data,siteID=S1 pulses=3i 1614556800000000000\n"
    )
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "a.lp").write_text(body)
    before = dt.datetime.now() - dt.timedelta(minutes=5)
    api = InfluxHTTPApi(spark, str(tmp_path / "write"))
    assert api.handle_write({}, body.encode()) == (204, None)
    run_line_protocol_pass(
        spark, str(landing), str(tmp_path / "stream"), str(tmp_path / "ckpt"),
        {"campus_flow": {"hotOutFlowRate": "float"},
         "raw_data": {"pulses": "integer"}},
    )

    def table(side, name):
        df = spark.read.parquet(str(tmp_path / side / name))
        rows = []
        for r in df.collect():
            d = r.asDict()
            d.pop("batch_id", None)
            if d["time"] > before:  # arrival-stamped: time and its day
                d["time"] = d["date"] = "arrival"
            rows.append(d)
        cols = [c for c in df.columns if c != "batch_id"]
        return cols, sorted(rows, key=lambda d: sorted(map(str, d.items())))

    for name in ("campus_flow", "raw_data"):
        assert table("write", name) == table("stream", name), name
    cols, rows = table("stream", "campus_flow")
    assert "room" in cols
    assert {d["buildingID"]: d["room"] for d in rows} == {"A": "r1", "B": None}
    assert [d["time"] for d in rows if d["buildingID"] == "B"] == ["arrival"]
