"""End-to-end residential CSV ingest: F1 fixtures incl. negatives.

Replays the reference's loader contract (SURVEY.md §3.1, FIXTURES.md
F1): metadata-header parse, Raw/QC routing, partitioned append,
archive/quarantine moves.
"""

from __future__ import annotations

import os

import pytest

GOOD_RAW = """Site #: 0042
Datalogger #: 0007
Meter #: 0001
Time,Pulses
2021-03-01 00:00:04,0
2021-03-01 00:00:08,3
2021-03-01 00:00:12,1
"""

GOOD_QC = """Site #: 0042QC
Datalogger #: 0008
Meter #: 0002
Time,Pulses
2021-03-01 00:00:04,2
2021-03-02 00:00:08,5
"""

BAD_META = """Garbled nonsense without any digits
Datalogger #: 0007
Meter #: 0001
Time,Pulses
2021-03-01 00:00:04,0
"""

BAD_BODY = """Site #: 0050
Datalogger #: 0009
Meter #: 0003
Time,Pulses
2021-03-01 00:00:04,not_a_number
"""

SHORT_FILE = """Site #: 0051
Time,Pulses
"""


@pytest.fixture()
def landing(tmp_path):
    d = tmp_path / "landing"
    d.mkdir()
    (d / "good_raw.csv").write_text(GOOD_RAW)
    (d / "good_qc.CSV").write_text(GOOD_QC)  # uppercase extension variant
    (d / "bad_meta.csv").write_text(BAD_META)
    (d / "bad_body.csv").write_text(BAD_BODY)
    (d / "short.csv").write_text(SHORT_FILE)
    (d / "ignored.txt").write_text("not a csv")
    return d


def test_parse_routing(spark, landing):
    from ciws_server_spark.sources import residential

    points, manifest = residential.parse(spark, str(landing))
    m = {os.path.basename(r["src_file"]): r for r in manifest.collect()}
    assert len(m) == 5  # .txt not scanned
    assert m["good_raw.csv"]["target"] == "raw_data"
    assert m["good_qc.CSV"]["target"] == "qc_data"
    assert m["good_qc.CSV"]["is_qc"] is True
    assert m["bad_meta.csv"]["quarantine_reason"] == "missing site metadata"
    assert m["bad_body.csv"]["quarantine_reason"] == "malformed data rows"
    assert m["short.csv"]["quarantine_reason"] == "missing datalogger metadata"

    rows = points.collect()
    assert len(rows) == 5  # 3 raw + 2 qc; quarantined files contribute 0
    by_site = {(r["siteID"], r["dataloggerID"]) for r in rows}
    # reference regex strips leading zeros (the '0' in the prefix
    # class, loader.py:144) — bug-compatible
    assert by_site == {("42", "7"), ("42", "8")}


def test_route_and_move(spark, landing, tmp_path):
    from ciws_server_spark.sources import residential, sinks

    table_dir = str(tmp_path / "tables")
    archive = str(tmp_path / "archive")
    quarantine = str(tmp_path / "quarantine")

    points, manifest = residential.parse(spark, str(landing))
    counts = sinks.route_residential(points, manifest, table_dir)
    assert counts == {"raw_data": 3, "qc_data": 2}

    raw = spark.read.parquet(os.path.join(table_dir, "raw_data"))
    assert raw.count() == 3
    # partition layout: siteID + date directories exist
    assert set(raw.columns) >= {"time", "pulses", "siteID", "dataloggerID", "date"}
    site_dirs = os.listdir(os.path.join(table_dir, "raw_data"))
    assert any(s.startswith("siteID=") for s in site_dirs)

    qc = spark.read.parquet(os.path.join(table_dir, "qc_data"))
    assert qc.count() == 2

    quarantined = spark.read.parquet(os.path.join(table_dir, "quarantine_files"))
    assert quarantined.count() == 3

    moved = sinks.move_files(
        manifest.select("src_file", "quarantine_reason").collect(),
        archive,
        quarantine,
    )
    assert moved == {"archive": 2, "quarantine": 3, "skipped": 0}
    assert sorted(os.listdir(archive)) == ["good_qc.CSV", "good_raw.csv"]
    assert sorted(os.listdir(quarantine)) == [
        "bad_body.csv",
        "bad_meta.csv",
        "short.csv",
    ]
    assert os.listdir(landing) == ["ignored.txt"]


def test_retention_delete(spark, landing, tmp_path):
    from ciws_server_spark.sources import residential, sinks

    table_dir = str(tmp_path / "tables")
    points, manifest = residential.parse(spark, str(landing))
    sinks.route_residential(points, manifest, table_dir)

    # qc_data spans 2021-03-01 and 2021-03-02 → horizon drops day 1
    deleted = sinks.retention_delete(spark, table_dir, "qc_data", "2021-03-02")
    assert deleted == 1
    qc = spark.read.parquet(os.path.join(table_dir, "qc_data"))
    assert qc.count() == 1


def test_route_replay_wipes_empty_route(spark, landing, tmp_path):
    """A batch replay that produces ZERO rows for one route must still
    wipe that route table's ``batch_id=N`` leaves from the crashed
    earlier attempt — skipping the table leaves stale rows behind,
    contradicting the staged-append convergence contract (advisor
    r14). The wipe is step 3 of ``sinks._publish``, which runs even
    when the replay stages no rows for the route."""
    import pyspark.sql.functions as F

    from ciws_server_spark.sources import residential, sinks

    table_dir = str(tmp_path / "tables")
    points, manifest = residential.parse(spark, str(landing))
    counts = sinks.route_residential(points, manifest, table_dir, batch_id=7)
    assert counts["qc_data"] == 2
    assert sinks.read_table(spark, table_dir, "qc_data").count() == 2
    # replay the same batch where the attempt now yields no QC rows:
    # the earlier attempt's qc_data leaves must converge away
    sinks.route_residential(
        points.where(~F.col("is_qc")), manifest, table_dir, batch_id=7
    )
    assert sinks.read_table(spark, table_dir, "qc_data").count() == 0
    # the surviving route reflects the replay, not a duplicate append
    assert sinks.read_table(spark, table_dir, "raw_data").count() == 3
