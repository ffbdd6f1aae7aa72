"""Cron-crash-cron chaos sequence (round-8 verdict ask).

The per-surface recovery tests (test_streaming_ingest,
test_campus_streaming_and_compaction, test_streaming_neardup) each
kill ONE mechanism at one point. This test drives the three surfaces
IN SEQUENCE the way a real deployment fails: a pass dies mid-batch
with the checkpoint intact, the next cron run must heal it, and the
next surface then operates on the healed state.

Kill points chosen to leave the nastiest intermediate states:
* ingest — between the raw_data and qc_data writes of one batch
  (half-applied batch, nothing committed);
* compaction — between the two swap renames (NO live table directory
  on disk);
* near-dup — between the pairs write and the index write of a
  growing-index batch (pairs visible, index stale, uncommitted).
"""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

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


def test_cron_crash_cron_across_all_three_surfaces(spark, tmp_path):
    from ciws_server_spark.sources import sinks
    from ciws_server_spark.streaming import dedup as sdedup
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

    # ---- phase 3: near-dup growing-index pass killed between the ---
    # ---- pairs write and the index write ---------------------------
    nd_landing = tmp_path / "nd_landing"
    nd_landing.mkdir()
    nd_tables = str(tmp_path / "nd_tables")
    nd_ckpt = str(tmp_path / "nd_ckpt")
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (1, "completely different corpus text with other words"),
        ],
        "doc_id BIGINT, text STRING",
    )

    def land(name, rows):
        with open(nd_landing / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # batch 1: one near-dup of corpus doc 0, one novel doc (clean pass)
    land("b1.json", [
        # near-dup of corpus doc 0 (Jaccard 8/9 ≈ 0.89; collides in 3
        # of the 4 LSH bands under the r15 independent (a_k, b_k)
        # minhash family — the old "today" variant's 7/9 pair was a
        # coin-flip candidate that only the degenerate pre-r15 family
        # happened to catch)
        {"doc_id": 100,
         "text": "the quick brown fox jumps over the lazy dog tonight again"},
        {"doc_id": 101, "text": "novel unique sentence about spark plans"},
    ])
    sdedup.run_near_dup_pass(
        spark, str(nd_landing), corpus, nd_tables, nd_ckpt, grow_index=True
    )

    # batch 2: a dup of kept doc 101 plus a novel doc — killed between
    # the pairs write and the index write
    land("b2.json", [
        {"doc_id": 200,
         "text": "novel unique sentence about spark plans indeed"},
        {"doc_id": 201, "text": "fresh standalone document body here"},
    ])
    real_ow = sdedup._overwrite_by_batch
    state = {"writes": 0}

    def ow_then_die(df, path, batch_id):
        real_ow(df, path, batch_id)
        state["writes"] += 1
        if state["writes"] == 1:  # pairs landed; die before index write
            raise RuntimeError("injected mid-batch kill (near-dup)")

    sdedup._overwrite_by_batch = ow_then_die
    try:
        with pytest.raises(Exception, match="injected mid-batch kill"):
            sdedup.run_near_dup_pass(
                spark, str(nd_landing), corpus, nd_tables, nd_ckpt,
                grow_index=True,
            )
    finally:
        sdedup._overwrite_by_batch = real_ow

    # heal: the replayed batch must converge pairs AND write the index
    sdedup.run_near_dup_pass(
        spark, str(nd_landing), corpus, nd_tables, nd_ckpt, grow_index=True
    )
    pairs = spark.read.parquet(os.path.join(nd_tables, sdedup.NEAR_DUP_TABLE))
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (100, 0) in got      # batch-1 vs corpus
    assert (200, 101) in got    # batch-2 vs batch-1 kept doc (index!)
    # exactly-once: no pair row appears twice after the replay
    assert pairs.count() == pairs.distinct().count()
    dup_rows = (
        pairs.groupBy("doc_a", "doc_b").count().where(F.col("count") > 1)
    )
    assert dup_rows.count() == 0

    # index consistency: every kept doc appears in the index exactly
    # once per band; the duplicate (200) and near-dup (100) never enter
    idx = spark.read.parquet(os.path.join(nd_tables, sdedup.INDEX_TABLE))
    per_doc = {
        r["doc_id"]: r["n"]
        for r in idx.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    from ciws_server_spark.operators.dedup import _BANDS

    assert set(per_doc) == {101, 201}
    assert all(n == _BANDS for n in per_doc.values())

    # batch 3: a dup of batch-2's kept doc proves the healed index
    # serves later batches
    land("b3.json", [
        {"doc_id": 300, "text": "fresh standalone document body here too"},
    ])
    sdedup.run_near_dup_pass(
        spark, str(nd_landing), corpus, nd_tables, nd_ckpt, grow_index=True
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in spark.read.parquet(
            os.path.join(nd_tables, sdedup.NEAR_DUP_TABLE)
        ).collect()
    }
    assert (300, 201) in got
