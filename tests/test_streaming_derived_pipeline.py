"""Full streaming §3.3 lifecycle: flow rows stream in → stateful
pulse-pair operator → derived table append, incremental across runs."""

from __future__ import annotations

import datetime as dt
import os


def _write_batch(spark, src, name, rows):
    spark.createDataFrame(rows, ["user_id", "ts"]).coalesce(1).write.parquet(
        str(src / name)
    )


def test_streaming_derived_rate_to_table(spark, tmp_path):
    from ciws_server_spark.streaming.stateful import derived_rate_stream

    base = dt.datetime(2021, 3, 1)
    src = tmp_path / "pulses"
    out = str(tmp_path / "derived")
    ckpt = str(tmp_path / "ckpt")

    def run_pass():
        stream = (
            spark.readStream.schema("user_id BIGINT, ts TIMESTAMP")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
        )
        q = (
            derived_rate_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # pass 1: two pulses → one pair
    _write_batch(
        spark, src, "f1",
        [(7, base), (7, base + dt.timedelta(seconds=59))],
    )
    run_pass()
    rows = spark.read.parquet(out).collect()
    assert [(r["user_id"], r["rate"]) for r in rows] == [(7, 1.0)]

    # pass 2: one more pulse → exactly one NEW pair, paired against the
    # state carried in the checkpoint (last pulse of pass 1)
    _write_batch(spark, src, "f2", [(7, base + dt.timedelta(seconds=179))])
    run_pass()
    rows = sorted(
        spark.read.parquet(out).collect(), key=lambda r: r["ts"]
    )
    assert [r["rate"] for r in rows] == [1.0, round(60.0 / 121, 6)]
    assert str(rows[1]["prev_ts"]) == "2021-03-01 00:00:59"


CSV_P1 = """Campus Meter Logger
Date,coldInFlowRate,hotInFlowRate,hotOutFlowRate,hotInTemp,hotOutTemp,coldInTemp
2021-03-01 00:00:00,0.53,0.20,0.18,48.9,41.2,12.7
2021-03-01 00:00:30,0.53,0.20,0.00,48.9,41.2,12.7
2021-03-01 00:00:59,0.53,0.20,0.21,48.9,41.2,12.7
"""

CSV_P2 = """Campus Meter Logger
Date,coldInFlowRate,hotInFlowRate,hotOutFlowRate
2021-03-01 00:02:59,0.50,0.21,0.30
"""


def test_campus_lifecycle_files_to_derived_table(spark, tmp_path):
    """The reference's full §3.3 lifecycle, continuously: CSVs land →
    campus_flow ingest (hop 1) → stateful pulse-pair rate →
    derived_hot_intake (hop 2). The pulse pair SPANNING the two
    file batches must be emitted with the state carried across runs,
    and idle (rate=0) rows must not pair."""
    from ciws_server_spark.streaming.ingest import (
        run_campus_pass,
        run_derived_pass,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    table_dir = str(tmp_path / "tables")
    ckpt = str(tmp_path / "ckpt")

    (landing / "p1.csv").write_text(CSV_P1)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")
    run_derived_pass(spark, table_dir, ckpt)

    derived = os.path.join(table_dir, "derived_hot_intake")
    rows = sorted(spark.read.parquet(derived).collect(), key=lambda r: r["time"])
    # pulses at t=0 and t=59 (t=30 is idle): one pair, rate 60/(59+1)
    assert [(r["buildingID"], r["hotOutFlowRate"]) for r in rows] == [("E", 1.0)]

    # second landing batch: the new pulse pairs against the LAST pulse
    # of the previous run (t=59 → t=179: elapsed 120+1)
    (landing / "p2.csv").write_text(CSV_P2)
    run_campus_pass(spark, str(landing), table_dir, ckpt, building="e")
    run_derived_pass(spark, table_dir, ckpt)
    rows = sorted(spark.read.parquet(derived).collect(), key=lambda r: r["time"])
    assert [r["hotOutFlowRate"] for r in rows] == [1.0, round(60.0 / 121, 6)]
    # partition layout: buildingID + date
    assert os.path.isdir(os.path.join(derived, "buildingID=E"))
