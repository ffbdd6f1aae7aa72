"""Cron-crash-cron chaos sequence (round-8 verdict ask).

The per-surface recovery tests (test_streaming_ingest,
test_campus_streaming_and_compaction) each kill ONE mechanism at one
point. This test drives the two surfaces IN SEQUENCE the way a real
deployment fails: a pass dies mid-batch with the checkpoint intact,
the next cron run must heal it, and the next surface then operates on
the healed state.

Kill points chosen to leave the nastiest intermediate states:
* ingest — between the raw_data and qc_data writes of one batch
  (half-applied batch, nothing committed);
* compaction — between the two swap renames (NO live table directory
  on disk).
"""

from __future__ import annotations

import os

import pytest

CSV_RAW = """Site #: 0042
Datalogger #: 0007
Meter #: 0001
Time,Pulses
2021-03-01 00:00:04,1
2021-03-01 00:00:08,2
"""

CSV_QC = """Site #: 0043QC
Datalogger #: 0009
Meter #: 0001
Time,Pulses
2021-03-01 01:00:00,7
"""

CSV_RAW2 = """Site #: 0044
Datalogger #: 0011
Meter #: 0001
Time,Pulses
2021-03-02 00:00:04,3
2021-03-02 00:00:08,4
2021-03-02 00:00:12,5
"""


def _counts(spark, table_dir):
    out = {}
    for t in ("raw_data", "qc_data"):
        p = os.path.join(table_dir, t)
        out[t] = spark.read.parquet(p).count() if os.path.isdir(p) else 0
    return out


def test_cron_crash_cron_across_ingest_and_compaction(spark, tmp_path):
    from ciws_server_spark.sources import sinks
    from ciws_server_spark.streaming.ingest import run_ingest_pass

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")
    archive = str(tmp_path / "archive")
    quarantine = str(tmp_path / "quarantine")

    # ---- phase 1: ingest pass killed between the two table writes --
    (landing / "a.csv").write_text(CSV_RAW)
    (landing / "b.csv").write_text(CSV_QC)
    (landing / "junk.csv").write_text("not,a header\nat all\n")

    # r14: the residential pass stages both routes in ONE write job
    # and publishes each table's subtree in turn — the equivalent
    # mid-batch crash window is now between the raw_data and qc_data
    # subtree publishes (sinks._publish)
    real_publish = sinks._publish

    def publish_then_die(src_root, path, *a, **k):
        if path.endswith("qc_data"):  # raw_data landed; die before qc
            raise RuntimeError("injected mid-batch kill (ingest)")
        return real_publish(src_root, path, *a, **k)

    sinks._publish = publish_then_die
    try:
        with pytest.raises(Exception, match="injected mid-batch kill"):
            run_ingest_pass(
                spark, str(landing), table_dir, ckpt,
                archive_dir=archive, quarantine_dir=quarantine,
            )
    finally:
        sinks._publish = real_publish

    # half-applied: raw written, qc missing, no moves, files untouched
    assert _counts(spark, table_dir) == {"raw_data": 2, "qc_data": 0}
    assert sorted(os.listdir(landing)) == ["a.csv", "b.csv", "junk.csv"]

    # next cron run heals: batch replays, overwrite-by-batch converges
    run_ingest_pass(
        spark, str(landing), table_dir, ckpt,
        archive_dir=archive, quarantine_dir=quarantine,
    )
    assert _counts(spark, table_dir) == {"raw_data": 2, "qc_data": 1}
    assert os.listdir(landing) == []
    assert sorted(os.listdir(archive)) == ["a.csv", "b.csv"]
    assert os.listdir(quarantine) == ["junk.csv"]

    # a second clean pass accumulates more batch files (compaction prey)
    (landing / "c.csv").write_text(CSV_RAW2)
    run_ingest_pass(
        spark, str(landing), table_dir, ckpt,
        archive_dir=archive, quarantine_dir=quarantine,
    )
    assert _counts(spark, table_dir) == {"raw_data": 5, "qc_data": 1}
    before = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(table_dir, "raw_data"))
        .drop("batch_id").collect()
    }

    # ---- phase 2: compaction killed inside the one-time migration
    # ---- window (legacy real dir renamed away, repoint pending) ----
    # Engine tables are snapshot-native from birth as of r13, so the
    # migration window only exists for legacy/out-of-band real-dir
    # stores — devolve to that layout first to keep exercising it.
    root = os.path.join(table_dir, "raw_data")
    if os.path.islink(root):
        import shutil as _shutil

        _real = os.path.realpath(root)
        os.remove(root)
        os.rename(_real, root)
        for _d in sinks._version_dirs(root):
            _shutil.rmtree(_d)
    assert not os.path.islink(root)
    real_rename = os.rename
    state = {"renames": 0}

    def rename_then_die(src, dst):
        real_rename(src, dst)
        state["renames"] += 1
        if state["renames"] == 2:  # old dir moved aside; die before
            raise RuntimeError("injected mid-swap kill (compaction)")
            # the swap-symlink rename-in

    sinks.os.rename = rename_then_die
    try:
        with pytest.raises(Exception, match="injected mid-swap kill"):
            sinks.compact_table(spark, table_dir, "raw_data")
    finally:
        sinks.os.rename = real_rename

    # nastiest state: nothing at the table path — old data in
    # .v000000, compacted copy in .v000001, .swap pointing at it
    root = os.path.join(table_dir, "raw_data")
    assert not os.path.lexists(root)
    assert os.path.isdir(root + ".v000000")
    assert os.path.isdir(root + ".v000001")
    assert os.path.islink(root + ".swap")

    # next compaction run recovers (completes the repoint), then
    # compacts cleanly through the now-atomic symlink protocol
    n_files = sinks.compact_table(spark, table_dir, "raw_data")
    assert n_files > 0
    assert os.path.islink(root)
    assert not os.path.lexists(root + ".swap")
    after = {
        tuple(r)
        for r in spark.read.parquet(root).drop("batch_id").collect()
    }
    assert after == before  # exactly-once content through kill+compact
