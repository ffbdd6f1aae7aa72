"""InfluxQL user management (plans/users.py): the credentials
registry the reference's deployment needs — its clients pass a
database user/password (reference get_hot_intake_interval.py:109-115,
transfer_manager.py:76). Full lifecycle through run_influxql, the
authenticate() hook, and the upstream error/idempotence semantics."""

from __future__ import annotations

import json
import os

import pytest

from ciws_server_spark.plans.influxql import InfluxQLError, run_influxql
from ciws_server_spark.plans.users import authenticate


def _run(spark, td, stmt):
    return run_influxql(spark, {}, stmt, table_dir=td)


def test_user_lifecycle(spark, tmp_path):
    td = str(tmp_path)
    _run(spark, td, "CREATE DATABASE water")
    assert _run(spark, td, "CREATE USER alice WITH PASSWORD 's3cret'") == (
        "alice"
    )
    _run(
        spark, td,
        "CREATE USER admin WITH PASSWORD 'root' WITH ALL PRIVILEGES",
    )

    got = _run(spark, td, "SHOW USERS").collect()
    assert [(r["user"], r["admin"]) for r in got] == [
        ("admin", True),
        ("alice", False),
    ]

    # the hook the front-end calls with the client's credentials
    assert authenticate(td, "alice", "s3cret")
    assert not authenticate(td, "alice", "wrong")
    assert not authenticate(td, "ghost", "s3cret")

    _run(spark, td, "SET PASSWORD FOR alice = 'newpw'")
    assert authenticate(td, "alice", "newpw")
    assert not authenticate(td, "alice", "s3cret")

    # passwords never stored in the clear
    raw = open(os.path.join(td, "_users.json")).read()
    assert "newpw" not in raw and "root" not in raw

    # grants: db-scoped, one privilege per (user, db), upgrade replaces
    _run(spark, td, "GRANT READ ON water TO alice")
    _run(spark, td, "GRANT WRITE ON water TO alice")
    got = _run(spark, td, "SHOW GRANTS FOR alice").collect()
    assert [(r["database"], r["privilege"]) for r in got] == [
        ("water", "WRITE")
    ]
    # revoke is idempotent (no-op on a privilege not held)
    _run(spark, td, "REVOKE ALL ON water FROM alice")
    _run(spark, td, "REVOKE ALL ON water FROM alice")
    assert _run(spark, td, "SHOW GRANTS FOR alice").count() == 0

    # admin toggle via un-scoped ALL PRIVILEGES
    _run(spark, td, "GRANT ALL PRIVILEGES TO alice")
    got = _run(spark, td, "SHOW USERS").collect()
    assert dict((r["user"], r["admin"]) for r in got)["alice"] is True
    got = _run(spark, td, "SHOW GRANTS FOR alice").collect()
    assert got[0]["privilege"] == "ALL PRIVILEGES"
    _run(spark, td, "REVOKE ALL PRIVILEGES FROM alice")

    assert _run(spark, td, "DROP USER alice") is True
    assert [r["user"] for r in _run(spark, td, "SHOW USERS").collect()] == [
        "admin"
    ]


def test_user_named_errors(spark, tmp_path):
    td = str(tmp_path)
    _run(spark, td, "CREATE DATABASE water")
    _run(spark, td, "CREATE USER u WITH PASSWORD 'p'")
    with pytest.raises(InfluxQLError, match="already exists"):
        _run(spark, td, "CREATE USER u WITH PASSWORD 'q'")
    for stmt in (
        "SET PASSWORD FOR ghost = 'x'",
        "DROP USER ghost",
        "GRANT READ ON water TO ghost",
        "SHOW GRANTS FOR ghost",
    ):
        with pytest.raises(InfluxQLError, match="user not found"):
            _run(spark, td, stmt)
    with pytest.raises(InfluxQLError, match="unknown database"):
        _run(spark, td, "GRANT READ ON nosuch TO u")
    with pytest.raises(InfluxQLError, match="database-scoped"):
        _run(spark, td, "GRANT READ TO u")
    with pytest.raises(InfluxQLError, match="requires a table_dir"):
        run_influxql(spark, {}, "SHOW USERS")


def test_user_registry_survives_process_boundary(spark, tmp_path):
    td = str(tmp_path)
    _run(spark, td, "CREATE USER u WITH PASSWORD 'p'")
    # simulate another process: the registry is a file, re-read per call
    state = json.load(open(os.path.join(td, "_users.json")))
    assert set(state) == {"u"}
    assert authenticate(td, "u", "p")


def test_revoke_demotes_all(spark, tmp_path):
    """REVOKE READ from an ALL holder demotes to WRITE (and vice
    versa) — privileges are single-valued per (user, db), upstream."""
    td = str(tmp_path)
    _run(spark, td, "CREATE DATABASE water")
    _run(spark, td, "CREATE USER u WITH PASSWORD 'p'")
    _run(spark, td, "GRANT ALL ON water TO u")
    _run(spark, td, "REVOKE READ ON water FROM u")
    got = _run(spark, td, "SHOW GRANTS FOR u").collect()
    assert [(r["database"], r["privilege"]) for r in got] == [
        ("water", "WRITE")
    ]
    _run(spark, td, "GRANT ALL ON water TO u")
    _run(spark, td, "REVOKE WRITE ON water FROM u")
    got = _run(spark, td, "SHOW GRANTS FOR u").collect()
    assert [(r["database"], r["privilege"]) for r in got] == [
        ("water", "READ")
    ]


def test_front_door_enforcement(spark, tmp_path):
    """run_influxql(credentials=...): authenticate + READ/WRITE/admin
    privilege by statement class (upstream 401/403 semantics as named
    errors); empty registry = auth disabled."""
    import datetime as dt

    from ciws_server_spark.plans.influxql import run_influxql
    from ciws_server_spark.sources import sinks

    td = str(tmp_path)
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 6), "A", 1.0)],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, td, "campus_flow")
    tabs = sinks.load_tables(spark, td)

    # auth-disabled: no users registered → any credentials pass
    assert run_influxql(
        spark, tabs, "SELECT flowRate FROM campus_flow",
        table_dir=td, credentials=("nobody", "x"),
    ).count() == 1

    run_influxql(spark, {}, "CREATE USER root WITH PASSWORD 'r' "
                 "WITH ALL PRIVILEGES", table_dir=td)
    run_influxql(spark, {}, "CREATE USER reader WITH PASSWORD 'p'",
                 table_dir=td)
    run_influxql(spark, {}, "GRANT READ ON ciws TO reader", table_dir=td)
    run_influxql(spark, {}, "CREATE USER writer WITH PASSWORD 'w'",
                 table_dir=td)
    run_influxql(spark, {}, "GRANT WRITE ON ciws TO writer", table_dir=td)

    q = "SELECT flowRate FROM campus_flow"
    # wrong password → authentication failed
    with pytest.raises(InfluxQLError, match="authentication failed"):
        run_influxql(spark, tabs, q, table_dir=td,
                     credentials=("reader", "WRONG"))
    # reader reads, cannot write or admin
    assert run_influxql(
        spark, tabs, q, table_dir=td, credentials=("reader", "p")
    ).count() == 1
    with pytest.raises(InfluxQLError, match="lacks WRITE"):
        run_influxql(spark, tabs, "DELETE FROM campus_flow",
                     table_dir=td, credentials=("reader", "p"))
    with pytest.raises(InfluxQLError, match="not admin"):
        run_influxql(spark, tabs, "SHOW USERS", table_dir=td,
                     credentials=("reader", "p"))
    # writer writes (WRITE does not imply READ, as upstream)
    assert run_influxql(
        spark, tabs,
        "DELETE FROM campus_flow WHERE buildingID = 'Z'",
        table_dir=td, credentials=("writer", "w"),
    ) == 0
    with pytest.raises(InfluxQLError, match="lacks READ"):
        run_influxql(spark, tabs, q, table_dir=td,
                     credentials=("writer", "w"))
    # INTO is a write
    with pytest.raises(InfluxQLError, match="lacks WRITE"):
        run_influxql(
            spark, tabs,
            "SELECT mean(flowRate) INTO r FROM campus_flow "
            "GROUP BY time(1h)",
            table_dir=td, credentials=("reader", "p"),
        )
    # admin does everything
    assert run_influxql(
        spark, tabs, "SHOW USERS", table_dir=td,
        credentials=("root", "r"),
    ).count() == 3


def _reader_api(spark, td):
    import datetime as dt

    from ciws_server_spark.sources import sinks
    from ciws_server_spark.sources.http_api import InfluxHTTPApi

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1, 6), "A", 1.0)],
        "time timestamp, buildingID string, flowRate double",
    )
    sinks.append_points(df, td, "campus_flow")
    _run(spark, td, "CREATE USER reader WITH PASSWORD 'p'")
    _run(spark, td, "GRANT READ ON ciws TO reader")
    return InfluxHTTPApi(spark, td)


def test_read_user_privilege_comes_from_parsed_into(spark, tmp_path):
    """WRITE is needed for a parsed INTO clause — the statement's own or
    a subquery's — not for the word INTO in a string or an identifier."""
    api = _reader_api(spark, str(tmp_path))
    reader = {"u": "reader", "p": "p"}
    for q in (
        "SELECT flowRate FROM campus_flow WHERE buildingID = 'INTO'",
        'SELECT "into" FROM campus_flow',
    ):
        status, body = api.handle_query({"q": q, **reader})
        assert status == 200, (q, body)
        assert "error" not in body["results"][0], (q, body)
    for q in (
        "SELECT mean(flowRate) INTO r FROM campus_flow GROUP BY time(1h)",
        "SELECT mean(flowRate) FROM "
        "(SELECT flowRate INTO r FROM campus_flow) GROUP BY time(1h)",
    ):
        status, body = api.handle_query({"q": q, **reader})
        assert (status, body) == (
            403, {"error": "permission denied: 'reader' lacks WRITE on 'ciws'"}
        ), q


#: One statement of every kind the dispatcher runs, with the privilege
#: class it needs (InfluxDB 1.x's split: server management is admin,
#: data writes are WRITE on the database, queries are READ on it).
KIND_TABLE = [
    ("CREATE DATABASE ciws", "create_database", "admin"),
    ("DROP DATABASE ciws", "drop_database", "admin"),
    ("CREATE RETENTION POLICY rp ON ciws DURATION 1d REPLICATION 1",
     "create_retention_policy", "admin"),
    ("ALTER RETENTION POLICY rp ON ciws DURATION 2d",
     "alter_retention_policy", "admin"),
    ("DROP RETENTION POLICY rp ON ciws", "drop_retention_policy", "admin"),
    ("SHOW RETENTION POLICIES ON ciws", "show_retention_policies", "READ"),
    ("CREATE USER u WITH PASSWORD 'p'", "create_user", "admin"),
    ("SET PASSWORD FOR u = 'q'", "set_password", "admin"),
    ("DROP USER u", "drop_user", "admin"),
    ("GRANT READ ON ciws TO u", "grant", "admin"),
    ("REVOKE READ ON ciws FROM u", "revoke", "admin"),
    ("SHOW USERS", "show_users", "admin"),
    ("SHOW GRANTS FOR u", "show_grants", "admin"),
    ("CREATE CONTINUOUS QUERY cq ON ciws BEGIN SELECT mean(v) INTO r "
     "FROM m GROUP BY time(1h) END", "create_continuous_query", "admin"),
    ("DROP CONTINUOUS QUERY cq ON ciws", "drop_continuous_query", "admin"),
    ("SHOW CONTINUOUS QUERIES", "show_continuous_queries", "READ"),
    ("SHOW SHARDS", "show_shards", "admin"),
    ("SHOW SHARD GROUPS", "show_shard_groups", "admin"),
    ("DROP SHARD 1", "drop_shard", "admin"),
    ("SHOW QUERIES", "show_queries", "admin"),
    ("KILL QUERY 1", "kill_query", "admin"),
    ("SHOW STATS", "show_stats", "admin"),
    ("SHOW DIAGNOSTICS", "show_diagnostics", "admin"),
    ("CREATE SUBSCRIPTION s ON ciws.autogen DESTINATIONS ALL 'http://h:1'",
     "create_subscription", "admin"),
    ("DROP SUBSCRIPTION s ON ciws.autogen", "drop_subscription", "admin"),
    ("SHOW SUBSCRIPTIONS", "show_subscriptions", "admin"),
    ("DROP SERIES FROM m WHERE a = 'x'", "drop_series", "WRITE"),
    ("DROP MEASUREMENT m", "drop_measurement", "WRITE"),
    ("DELETE FROM m WHERE time < '2024-01-01'", "delete", "WRITE"),
    ("SELECT mean(v) INTO r FROM m GROUP BY time(1h)", "into", "WRITE"),
    ("EXPLAIN SELECT v FROM m", "explain", "READ"),
    ("SHOW MEASUREMENTS", "show", "READ"),
    ("SELECT v FROM m", "select", "READ"),
]


def test_parsed_kind_is_the_kind_that_runs(spark, tmp_path, monkeypatch):
    """For every dispatcher kind, ``parse(s).kind`` names the handler
    run_influxql runs, and ``parse(s).privilege`` is its class."""
    from ciws_server_spark.plans import influxql

    table = influxql._kinds()
    assert {k for _, k, _ in KIND_TABLE} == set(table) | {
        "explain", "show", "select"
    }
    ran = []
    monkeypatch.setattr(influxql, "_kinds", lambda: {
        k: row[:4] + ((lambda c, s, k=k: ran.append(k)),)
        for k, row in table.items()
    })
    monkeypatch.setattr(
        influxql, "query_measurement",
        lambda spark, tables, stmt, *a, **kw: ran.append(stmt.kind),
    )
    for stmt, kind, privilege in KIND_TABLE:
        parsed = influxql.parse(stmt)
        assert (parsed.kind, parsed.privilege) == (kind, privilege), stmt
        ran.clear()
        run_influxql(spark, {}, stmt, table_dir=str(tmp_path))
        assert ran == [kind], stmt


def test_unmatched_statement_kind_from_leading_keywords():
    """A statement no regex matches keeps its leading keywords' class,
    and still runs into the unparseable error."""
    from ciws_server_spark.plans.influxql import parse

    for stmt, privilege in (
        ("CREATE DATABASE a b", "admin"),
        ("SHOW GRANTS", "admin"),
        ("DROP MEASUREMENT a b", "WRITE"),
        ("SELECT v INTO", "READ"),
    ):
        parsed = parse(stmt)
        assert (parsed.privilege, parsed.match) == (privilege, None), stmt
        with pytest.raises(InfluxQLError, match="unparseable InfluxQL"):
            run_influxql(None, {}, stmt)
