"""Campus streaming ingest parity + small-file compaction + partition
pruning evidence."""

from __future__ import annotations

import glob
import os

CSV_A = """Campus Meter Logger
Date,coldInFlowRate,hotInFlowRate,hotOutFlowRate,hotInTemp,hotOutTemp,coldInTemp
2021-03-01 00:00:01,0.53,0.20,0.18,48.9,41.2,12.7
"""

CSV_B = """Campus Meter Logger
Date,coldInFlowRate,hotInFlowRate,hotOutFlowRate
2021-03-02 00:00:01,0.50,0.21,0.00
"""


def test_campus_streaming_and_compaction(spark, tmp_path):
    from ciws_server_spark.sources import sinks
    from ciws_server_spark.streaming.ingest import run_campus_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")

    # two passes → two appends → multiple small files
    (landing / "a.csv").write_text(CSV_A)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")
    (landing / "b.csv").write_text(CSV_B)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")

    flow = spark.read.parquet(os.path.join(table_dir, "campus_flow"))
    assert flow.count() == 2
    assert {str(r["buildingID"]) for r in flow.collect()} == {"E"}

    n_before = len(
        glob.glob(
            os.path.join(table_dir, "campus_flow", "**", "*.parquet"),
            recursive=True,
        )
    )
    n_after = sinks.compact_table(spark, table_dir, "campus_flow")
    assert n_after <= n_before
    flow2 = spark.read.parquet(os.path.join(table_dir, "campus_flow"))
    assert flow2.count() == 2  # same data, fewer files


def test_clean_passes_keep_query_working(spark, tmp_path):
    """A campus pass and a line-protocol pass that quarantine nothing
    still register ``quarantine_files`` with its schema: /query keeps
    answering, and the table reads as empty instead of as a schemaless
    dir that fails every registry load."""
    from ciws_server_spark.sources import sinks
    from ciws_server_spark.sources.http_api import InfluxHTTPApi
    from ciws_server_spark.streaming.ingest import (
        run_campus_pass,
        run_line_protocol_pass,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")
    api = InfluxHTTPApi(spark, table_dir)

    def count(field, measurement):
        status, body = api.handle_query(
            {"q": f"SELECT count({field}) FROM {measurement}"}
        )
        assert status == 200, body
        (res,) = body["results"]
        assert "error" not in res, res
        assert res["series"][0]["columns"] == [f"count_{field}"]
        return res["series"][0]["values"][0][0]

    (landing / "a.csv").write_text(CSV_A)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")
    assert count("coldInFlowRate", "campus_flow") == 1
    (landing / "b.lp").write_text(
        "lp_flow,buildingID=E v=0.5 1614643201000000000\n"
        "lp_flow,buildingID=E v=0.7 1614643202000000000\n"
    )
    run_line_protocol_pass(
        spark, str(landing), table_dir, ckpt, {"lp_flow": {"v": "float"}}
    )
    assert count("v", "lp_flow") == 2
    assert count("coldInFlowRate", "campus_flow") == 1
    tables = sinks.load_tables(spark, table_dir)
    assert tables["quarantine_files"].count() == 0


def test_compaction_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames used to strand the table
    in <table>.compact.old with nothing at the table path; the
    completion-marker protocol heals every intermediate state on the
    next call."""
    import os as _os
    import shutil as _shutil

    from ciws_server_spark.sources import sinks
    from ciws_server_spark.streaming.ingest import run_campus_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    (landing / "a.csv").write_text(CSV_A)
    run_campus_pass(spark, str(landing), table_dir, str(tmp_path / "ckpt"),
                    building="e")
    root = _os.path.join(table_dir, "campus_flow")
    n = spark.read.parquet(root).count()

    # devolve to the LEGACY r7-era real-dir layout first — engine
    # tables are snapshot-native from birth as of r13, but this test
    # covers the pre-snapshot protocol's crash states, which only a
    # real-dir store exhibits
    if _os.path.islink(root):
        real = _os.path.realpath(root)
        _os.remove(root)
        _os.rename(real, root)
        for d in sinks._version_dirs(root):
            _shutil.rmtree(d)
    assert not _os.path.islink(root)

    # simulate: rewrite finished (.compact.new), live dir moved aside
    # (.compact.old), then CRASH before new→live — the worst state:
    # no live table directory at all
    _shutil.copytree(root, root + ".compact.new")
    _os.rename(root, root + ".compact.old")
    assert not _os.path.isdir(root)

    assert sinks.recover_compaction(table_dir, "campus_flow") == (
        "completed interrupted swap"
    )
    assert spark.read.parquet(root).count() == n
    assert not _os.path.isdir(root + ".compact.old")

    # a stale tmp (crash mid-rewrite) is dropped, table untouched
    _os.makedirs(root + ".compact.tmp")
    assert sinks.compact_table(spark, table_dir, "campus_flow") > 0
    assert spark.read.parquet(root).count() == n
    assert not _os.path.isdir(root + ".compact.tmp")


def test_partition_pruning_on_tag_and_date(spark, tmp_path):
    """Tag+date layout prunes partitions: a siteID+date predicate
    reads ONLY the matching partition directory (PartitionFilters in
    the scan, one file touched) — the InfluxDB tag-index equivalent."""
    from ciws_server_spark.sources import residential, sinks
    import pyspark.sql.functions as F

    landing = tmp_path / "landing"
    landing.mkdir()
    for site, day in [("0042", "01"), ("0042", "02"), ("0077", "01")]:
        (landing / f"s{site}_d{day}.csv").write_text(
            f"Site #: {site}\nDatalogger #: 0007\nMeter #: 0001\n"
            f"Time,Pulses\n2021-03-{day} 00:00:04,1\n"
        )
    table_dir = str(tmp_path / "tables")
    points, manifest = residential.parse(spark, str(landing))
    sinks.route_residential(points, manifest, table_dir)

    df = spark.read.parquet(os.path.join(table_dir, "raw_data")).where(
        (F.col("siteID") == "42") & (F.col("date") == "2021-03-01")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.count() == 1
    # files actually read: exactly the one matching partition
    scanned = df.select(F.input_file_name().alias("f")).distinct().collect()
    assert len(scanned) == 1
    assert "siteID=42" in scanned[0]["f"] and "date=2021-03-01" in scanned[0]["f"]

def test_compaction_between_ingest_passes_keeps_layout(spark, tmp_path):
    """Compacting a streaming-ingested table must preserve the
    batch_id partition level: a later ingest pass appends new batch
    partitions into the same directory tree, and reads spanning
    compacted + fresh data must not hit conflicting layouts."""
    import os as _os

    from ciws_server_spark.sources import sinks
    from ciws_server_spark.streaming.ingest import run_campus_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")

    (landing / "a.csv").write_text(CSV_A)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")
    sinks.compact_table(spark, table_dir, "campus_flow")

    # post-compaction ingest: new batch partitions land beside the
    # compacted ones
    (landing / "b.csv").write_text(CSV_B)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")

    root = _os.path.join(table_dir, "campus_flow")
    flow = spark.read.parquet(root)
    assert flow.count() == 2
    assert "batch_id" in flow.columns
    # both dates present and partition-pruned reads still work
    one_day = flow.where(flow.date == "2021-03-02")
    assert one_day.count() == 1


def test_compaction_strictly_drops_files_and_preserves_rows(spark, tmp_path):
    """sinks.compact_table on a table with many small files per
    partition: the file count strictly drops and the full row multiset
    (content hash) is byte-identical before and after."""
    import datetime as dt

    from ciws_server_spark.sources import sinks

    table_dir = str(tmp_path / "tables")
    # 5 separate appends into the SAME (buildingID, date) partitions →
    # ≥5 files per partition directory
    for i in range(5):
        df = spark.createDataFrame(
            [
                (dt.datetime(2021, 3, 1, 0, i), "A", float(i)),
                (dt.datetime(2021, 3, 1, 0, i), "B", float(10 + i)),
            ],
            "time TIMESTAMP, buildingID STRING, hotOutFlowRate DOUBLE",
        )
        sinks.append_points(df, table_dir, "campus_flow")

    root = os.path.join(table_dir, "campus_flow")
    n_before = len(
        glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    )
    rows_before = sorted(
        (str(r["time"]), r["buildingID"], r["hotOutFlowRate"])
        for r in spark.read.parquet(root).collect()
    )
    assert n_before >= 10

    n_after = sinks.compact_table(spark, table_dir, "campus_flow")
    assert n_after < n_before  # strict drop
    assert n_after == 2  # one file per (buildingID, date) partition

    rows_after = sorted(
        (str(r["time"]), r["buildingID"], r["hotOutFlowRate"])
        for r in spark.read.parquet(root).collect()
    )
    assert rows_after == rows_before


def test_compaction_splits_partition_across_target_files(spark, tmp_path):
    """target_files_per_partition > 1 must actually split a partition
    directory's rows across that many files — the property that lets
    the rewrite parallelize across #dirs x target tasks at 100 TB
    (hashing only the partition columns would serialize each directory
    into one task and one file)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from ciws_server_spark.sources import sinks

    table_dir = str(tmp_path / "tables")
    df = spark.range(2000).select(
        F.lit("E").alias("buildingID"),
        (F.expr("timestamp '2021-03-01 00:00:00'")
         + F.make_interval(secs=F.col("id"))).alias("time"),
        F.rand(7).alias("coldInFlowRate"),
    )
    sinks.append_points(df, table_dir, "campus_flow")

    # tiny partitions coalesce under AQE; pin it off so the salt's
    # partition split is observable at test scale
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sinks.compact_table(
            spark, table_dir, "campus_flow", target_files_per_partition=4
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    files = _glob.glob(
        os.path.join(table_dir, "campus_flow", "**", "*.parquet"),
        recursive=True,
    )
    # one (buildingID, date) directory, content-hash salt mod 4:
    # rows spread across >1 and <= 4 files
    assert 1 < len(files) <= 4
    assert spark.read.parquet(
        os.path.join(table_dir, "campus_flow")
    ).count() == 2000


def test_compaction_reader_visible_semantics(spark, tmp_path):
    """A reader concurrent with compact_table's directory swap never
    sees torn data — each interleaving is loud and unambiguous
    (compact_table docstring):

    1. listing resolved pre-swap → missing-files error at scan time
       (compacted copy has fresh file names), never partial rows;
    2. started inside the no-live-dir window → PATH_NOT_FOUND;
    3. started post-swap (or post-recovery) → the compacted table.
    """
    import os as _os
    import shutil as _shutil

    import pytest
    from pyspark.errors import AnalysisException

    from ciws_server_spark.sources import sinks
    from ciws_server_spark.streaming.ingest import run_campus_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")
    (landing / "a.csv").write_text(CSV_A)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")
    (landing / "b.csv").write_text(CSV_B)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")
    root = _os.path.join(table_dir, "campus_flow")

    # (1) a PLAIN pre-swap reader (spark.read.parquet through the
    # symlink path): its listing names files under `root/...`, which
    # the swap repoints — the scan must FAIL loudly (files gone),
    # never return a partial/mixed result. Unchanged pre-r13
    # contract for out-of-engine readers.
    stale = spark.read.parquet(root)
    assert stale.count() == 2  # listing + a full read pre-swap
    sinks.compact_table(spark, table_dir, "campus_flow")
    spark.catalog.clearCache()
    with pytest.raises(Exception) as exc_info:
        # fresh scan over the stale listing: compacted file names differ
        stale.selectExpr("sum(hash(time))").collect()
    # the failure must be the documented missing-input-files error,
    # not some unrelated crash
    assert "FileNotFound" in str(exc_info.value) or "does not exist" in str(
        exc_info.value
    ), str(exc_info.value)[:500]

    # (1b) an ENGINE pre-swap reader (sinks.read_table) under r13
    # snapshot retention: the read PINS the version dir current at
    # plan time, the swap retires that dir into the reader-grace
    # window, and the stale scan returns the complete pre-swap
    # snapshot. After grace expires (forced vacuum) the same listing
    # fails loudly — never partial.
    pinned = sinks.read_table(spark, table_dir, "campus_flow")
    assert pinned.count() == 2
    sinks.compact_table(spark, table_dir, "campus_flow")
    spark.catalog.clearCache()
    assert pinned.count() == 2  # consistent retired-snapshot read
    sinks._vacuum_versions(root, grace_s=0)
    spark.catalog.clearCache()
    with pytest.raises(Exception) as exc_info:
        pinned.selectExpr("sum(hash(time))").collect()
    assert "FileNotFound" in str(exc_info.value) or "does not exist" in str(
        exc_info.value
    ), str(exc_info.value)[:500]

    # (3) a fresh post-swap reader sees the complete compacted table
    assert spark.read.parquet(root).count() == 2

    # (2) SNAPSHOT protocol: after compaction the table path is a
    # symlink into a version dir and the repoint is one atomic
    # rename(symlink) — the pre-round-8 no-live-dir PATH_NOT_FOUND
    # window does not exist in steady state. A second compaction
    # must leave the path continuously resolvable; the superseded
    # version is RETAINED for the reader-grace window (r13 snapshot
    # isolation), then vacuumed.
    assert _os.path.islink(root)
    v_before = _os.path.realpath(root)
    sinks.compact_table(spark, table_dir, "campus_flow")
    assert _os.path.islink(root)
    assert _os.path.realpath(root) != v_before
    assert _os.path.isdir(v_before)  # retained for pinned readers
    sinks._vacuum_versions(root, grace_s=0)
    assert not _os.path.isdir(v_before)  # vacuumed after grace
    assert spark.read.parquet(root).count() == 2

    # (2b) the ONE-TIME migration window (legacy real dir → symlink):
    # simulate a crash between its two renames — root missing, .swap
    # pointing at the new version — and assert recovery completes the
    # repoint so readers see the full table again
    cur = _os.path.basename(_os.path.realpath(root))
    _os.remove(root)  # drop the symlink (the mid-migration state)
    _os.symlink(cur, root + ".swap")
    with pytest.raises(AnalysisException):
        spark.read.parquet(root).count()  # loud, unambiguous
    assert sinks.recover_compaction(table_dir, "campus_flow") == (
        "completed interrupted repoint"
    )
    assert spark.read.parquet(root).count() == 2


def test_snapshot_recovery_every_crash_state(spark, tmp_path):
    """Each distinguishable crash state of the round-8 snapshot swap
    protocol heals (recover_compaction docstring), including the
    legacy r7-era .compact.new/.old states."""
    import os as _os
    import shutil as _shutil

    from ciws_server_spark.sources import sinks
    from ciws_server_spark.streaming.ingest import run_campus_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    (landing / "a.csv").write_text(CSV_A)
    run_campus_pass(spark, str(landing), table_dir, str(tmp_path / "ckpt"),
                    building="e")
    root = _os.path.join(table_dir, "campus_flow")
    n = spark.read.parquet(root).count()
    sinks.compact_table(spark, table_dir, "campus_flow")  # → snapshot layout
    assert _os.path.islink(root)
    cur = _os.path.realpath(root)

    # state: stale tmp (crash mid-rewrite)
    _os.makedirs(root + ".compact.tmp")
    assert sinks.recover_compaction(table_dir, "campus_flow") == (
        "dropped stale tmp"
    )
    assert spark.read.parquet(root).count() == n

    # state: rewrite finished into a version dir, repoint never ran —
    # the unreferenced (stale) version must be dropped, live untouched
    _shutil.copytree(cur, root + ".v000999")
    assert sinks.recover_compaction(table_dir, "campus_flow") == (
        "dropped stale/unvacuumed versions"
    )
    assert not _os.path.isdir(root + ".v000999")
    assert spark.read.parquet(root).count() == n

    # state: same, plus the .swap link already built
    _shutil.copytree(cur, root + ".v000999")
    _os.symlink(_os.path.basename(root + ".v000999"), root + ".swap")
    act = sinks.recover_compaction(table_dir, "campus_flow")
    assert act in ("dropped stale swap link", "dropped stale/unvacuumed versions")
    assert not _os.path.lexists(root + ".swap")
    assert not _os.path.isdir(root + ".v000999")
    assert spark.read.parquet(root).count() == n

    # state: crash inside the migration window (root gone, swap built)
    cur_name = _os.path.basename(_os.path.realpath(root))
    _os.remove(root)
    _os.symlink(cur_name, root + ".swap")
    assert sinks.recover_compaction(table_dir, "campus_flow") == (
        "completed interrupted repoint"
    )
    assert _os.path.islink(root)
    assert spark.read.parquet(root).count() == n

    # state: root symlink lost entirely, versions remain
    _os.remove(root)
    assert sinks.recover_compaction(table_dir, "campus_flow") == (
        "repointed at newest version"
    )
    assert spark.read.parquet(root).count() == n

    # state: broken symlink (version dir lost out-of-band) + an older
    # intact version to fall back to
    good = _os.path.realpath(root)
    backup = root + ".v000001"
    if _os.path.realpath(root) != _os.path.realpath(backup):
        pass
    _shutil.copytree(good, root + ".v900000")  # newer intact copy
    _os.remove(root)
    _os.symlink("campus_flow.v-gone", root)  # dangling
    act = sinks.recover_compaction(table_dir, "campus_flow")
    assert act == "repointed at newest version"
    assert spark.read.parquet(root).count() == n

    # legacy r7 state: .compact.new + .compact.old, nothing live
    # (simulated on a scratch table name)
    legacy = _os.path.join(table_dir, "legacy_t")
    _shutil.copytree(_os.path.realpath(root), legacy + ".compact.new")
    _shutil.copytree(_os.path.realpath(root), legacy + ".compact.old")
    assert sinks.recover_compaction(table_dir, "legacy_t") == (
        "completed interrupted swap"
    )
    assert spark.read.parquet(legacy).count() == n
    assert not _os.path.isdir(legacy + ".compact.old")


def test_snapshot_swap_live_concurrent_readers(spark, tmp_path):
    """LIVE race, not simulated states: a reader thread hammers the
    table path while the writer thread compacts it repeatedly. Under
    the round-8 atomic symlink repoint, every read must either return
    the complete row count or fail with the documented loud
    missing-input error (stale listing) — NEVER a partial/mixed count
    and NEVER path-not-found (the pre-round-8 window)."""
    import os as _os
    import threading

    from ciws_server_spark.sources import sinks
    from ciws_server_spark.streaming.ingest import run_campus_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    (landing / "a.csv").write_text(CSV_A)
    run_campus_pass(spark, str(landing), table_dir, str(tmp_path / "ckpt"),
                    building="e")
    root = _os.path.join(table_dir, "campus_flow")
    sinks.compact_table(spark, table_dir, "campus_flow")  # snapshot layout
    expected = spark.read.parquet(root).count()

    stop = threading.Event()
    bad: list[str] = []
    counts = {"ok": 0, "stale_loud": 0}

    def reader():
        while not stop.is_set():
            try:
                n = spark.read.parquet(root).count()
            except Exception as exc:  # noqa: BLE001 — classifying
                msg = str(exc)
                if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                    bad.append(f"window observed: {msg[:200]}")
                elif "FileNotFound" in msg or "does not exist" in msg:
                    counts["stale_loud"] += 1  # documented loud mode
                else:
                    bad.append(f"unexpected: {msg[:200]}")
                continue
            if n != expected:
                bad.append(f"partial read: {n} != {expected}")
            else:
                counts["ok"] += 1

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for _ in range(8):
            sinks.compact_table(spark, table_dir, "campus_flow")
    finally:
        stop.set()
        t.join(timeout=30)
    assert not bad, bad[:5]
    assert counts["ok"] > 0  # the reader actually raced the swaps


def test_auto_compact_keeps_long_append_run_bounded(spark, tmp_path):
    """r12 VERDICT ask #8: the §52 commit-cost bound ("compact before
    ~1M files") enforced automatically. A long run of small appends
    interleaved with maintenance ticks (sinks.auto_compact at a tiny
    threshold) must keep the table's visible file count bounded by
    threshold + one append's worth of files — never growing with the
    number of appends — and preserve every row."""
    import datetime as dt

    from ciws_server_spark.sources import sinks

    td = str(tmp_path)
    threshold = 6
    max_seen, per_append = 0, None
    for i in range(24):
        df = spark.createDataFrame(
            [
                (
                    dt.datetime(2024, 1, 1, 6, 0) + dt.timedelta(minutes=i),
                    f"B{i % 2}",
                    float(i),
                )
            ],
            "time timestamp, buildingID string, flowRate double",
        )
        sinks.append_points(df, td, "campus_flow")
        n = sinks.table_file_count(td, "campus_flow")
        if per_append is None:
            per_append = n  # files one append contributes
        max_seen = max(max_seen, n)
        compacted = sinks.auto_compact(spark, td, threshold)
        if n >= threshold:
            assert "campus_flow" in compacted
        else:
            assert "campus_flow" not in compacted
    # bounded: the count right after any append never exceeds the
    # threshold plus one append's contribution (24 un-compacted
    # appends would sit at ~24× per_append)
    assert max_seen <= threshold + per_append
    # and the data survived every rewrite
    got = sinks.read_table(spark, td, "campus_flow")
    assert got.count() == 24
    assert got.agg({"flowRate": "sum"}).collect()[0][0] == sum(range(24))
    # below-threshold store: a tick is a no-op
    assert sinks.auto_compact(spark, td, 10_000) == {}
    # threshold 0 = off
    assert sinks.auto_compact(spark, td, 0) == {}


def test_tick_cli_runs_auto_compact(spark, tmp_path):
    """The maintenance tick wires the threshold through: ``tick
    --compact-threshold 1`` compacts an over-bound table."""
    import datetime as dt

    from ciws_server_spark.__main__ import main
    from ciws_server_spark.sources import sinks

    td = str(tmp_path)
    for i in range(3):
        df = spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 6, i), "A", float(i))],
            "time timestamp, buildingID string, flowRate double",
        )
        sinks.append_points(df, td, "campus_flow")
    before = sinks.table_file_count(td, "campus_flow")
    assert main(["tick", "--tables", td, "--compact-threshold", "1"]) == 0
    after = sinks.table_file_count(td, "campus_flow")
    assert after < before
    assert sinks.read_table(spark, td, "campus_flow").count() == 3
