"""The benchmark's own tests: seeded generators, percentile and
sample-count rules, span self-time arithmetic, and a tiny smoke run of
each workload through ``run.py``.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import gen, layers, stats
from perfbench import run
from perfbench.run import ROOT
from perfbench.workloads import WORKLOADS

# ------------------------------------------------------------ generators


def test_same_seed_same_write_bodies():
    a = gen.write_body(7, gen.STEPS_PER_DAY)
    assert a == gen.write_body(7, gen.STEPS_PER_DAY)
    assert a != gen.write_body(8, gen.STEPS_PER_DAY)
    lines = a.decode().splitlines()
    assert len(lines) == gen.WRITE_STEPS * gen.N_BUILDINGS == 2000
    assert lines[0] == (
        f"campus_flow,buildingID=B01 flowRate={gen.flow_rate(7, 0, 17280)!r} "
        f"{gen.EPOCH0 + 86400}"
    )


def test_same_seed_same_csvs():
    a = gen.residential_batch(3, 4)
    assert a == gen.residential_batch(3, 4)
    assert [f.text for f in a] != [f.text for f in gen.residential_batch(4, 4)]
    assert len(a) == gen.CSV_FILES_PER_PASS
    assert sum(f.qc for f in a) == gen.CSV_QC_PER_PASS
    assert sum(f.bad for f in a) == gen.CSV_BAD_PER_PASS
    assert len({f.site for f in a}) == len(a)  # one file per site
    assert len({f.name for f in a} | {f.name for f in gen.residential_batch(3, 5)}) == 50
    for f in a:
        lines = f.text.splitlines()
        assert lines[3] == "Time,Pulses"
        assert len(lines) == 4 + gen.CSV_ROWS
        assert any(ln.endswith(",n/a") for ln in lines) == f.bad


def test_site_partitions_grow_alike_for_every_seed():
    for seed in (1, 2, 3):
        raw, qc, grown = set(), set(), []
        for p in range(4):
            batch = gen.residential_batch(seed, p)
            raw |= {f.site for f in batch if not f.qc and not f.bad}
            qc |= {f.site for f in batch if f.qc}
            grown.append((len(raw), len(qc)))
        assert grown == [(19, 5), (31, 10), (37, 15), (37, 16)]


def test_dashboard_plan_is_seeded_and_keeps_the_mix():
    take = lambda seed: [next(it) for it in [gen.dashboard_ops(seed, 3)] for _ in range(40)]
    a = take(5)
    assert a == take(5) and a != take(6)
    for cycle in (a[:20], a[20:]):
        kinds = [kind for kind, _q, _expect in cycle]
        assert {k: kinds.count(k) for k in set(kinds)} == {
            "panel": 12, "raw": 4, "fleet": 3, "export": 1}


def test_expected_answers_follow_the_value_formula():
    rows = gen.expected_panel(1, 2, 0, gen.STEPS_PER_DAY)
    assert len(rows) == 24 and rows[0][0] == "2024-01-01T00:00:00Z"
    first_hour = [gen.flow_rate(1, 2, k) for k in range(720)]
    assert rows[0][1] == sum(first_hour) / 720
    # a partly written day yields only the hours that hold points
    assert len(gen.expected_panel(1, 2, 1, gen.STEPS_PER_DAY + 721)) == 2
    n, first, last, _ = gen.expected_range(1, 2, 720, 1440)
    assert (n, first, last) == (720, "2024-01-01T01:00:00Z", "2024-01-01T01:59:55Z")


def test_flow_rate_column_matches_python(spark):
    from pyspark.sql import functions as F

    df = spark.range(0, 50).select(
        gen.flow_rate_column(9, F.col("id") % 20, F.col("id") * 977).alias("v"))
    got = [r.v for r in df.collect()]
    assert got == [gen.flow_rate(9, i % 20, i * 977) for i in range(50)]


# ------------------------------------------------------------ stats


def test_tail_needs_ten_samples_beyond_it():
    assert stats.supported_tail(19) is None
    assert stats.supported_tail(40) == 75.0
    assert stats.supported_tail(99) == 75.0
    assert stats.supported_tail(100) == 90.0
    assert stats.supported_tail(200) == 95.0
    assert stats.supported_tail(1000) == 99.0
    for n in range(1, 1200):
        p = stats.supported_tail(n)
        if p is not None:
            assert n - stats.rank(p, n) >= stats.MIN_BEYOND


def test_summary_reports_count_median_and_supported_tail():
    s = stats.summarize(range(1, 101))
    assert s == {"n": 100, "p50": 50.5, "min": 1, "tail_pct": 90.0, "tail": 90}
    assert stats.summarize([3.0, 1.0, 2.0]) == {
        "n": 3, "p50": 2.0, "min": 1.0, "tail_pct": None, "tail": None}


def test_percentile_is_nearest_rank():
    xs = [10, 20, 30, 40, 50]
    assert stats.percentile(xs, 50) == 30
    assert stats.percentile(xs, 90) == 50
    assert stats.percentile(xs, 1) == 10


def test_self_time_subtracts_the_union_of_covered_intervals():
    # children overlap each other and stick out of the span
    assert stats.self_time(0, 100, [(10, 30), (20, 40), (90, 120)]) == 100 - 30 - 10
    assert stats.self_time(0, 100, []) == 100
    assert stats.self_time(0, 100, [(-5, 200)]) == 0
    assert stats.union_length([(1, 2), (3, 4), (2, 3)], 0, 10) == 3


def test_layer_aggregation_uses_children_and_job_walls():
    spans = [
        {"name": "client.panel", "start": 0, "end": 100, "parent": None, "op": 1},
        {"name": "http_api.handle_query", "start": 5, "end": 95, "parent": 0, "op": 1},
        {"name": "sinks.load_tables", "start": 10, "end": 20, "parent": 1, "op": 1},
        {"name": "influxql.run_influxql", "start": 20, "end": 30, "parent": 1, "op": 1},
        {"name": "http_api.serialize_frame", "start": 30, "end": 90, "parent": 1, "op": 1},
    ]
    op = {"id": 1, "kind": "panel", "cat": "query", "ms": 100, "cpu_ms": 4,
          "rows": 24, "nbytes": 500, "files": 60,
          "jobs": [{"start": 40, "end": 70, "tasks": 4, "run_ms": 80, "cpu_ms": 60,
                    "gc_ms": 1, "input_rows": 2400, "shuffle_bytes": 0,
                    "spill_bytes": 0}]}
    m = layers.aggregate([op], spans, bytes_on_disk=1000, overhead_frac=0.01)
    assert set(m) == set(layers.metric_names())
    assert m["http_api.handle_query.self_ms"] == 90 - 10 - 10 - 60
    assert m["http_api.serialize_frame.self_ms"] == 60 - 30
    assert m["sinks.load_tables_ms"] == 10
    assert m["spark.query.jobs_per_op"] == 1
    assert m["spark.query.job_wall_ms"] == 30
    assert m["spark.query.input_rows_per_result_row"] == 100
    assert m["spark.write.jobs_per_op"] == 0  # no write ops: idle layer
    assert m["sinks.append_points_ms"] == 0


def test_tracer_parents_callback_thread_spans_to_the_blocked_call():
    import threading
    import types

    from perfbench.trace import Tracer

    ns = types.SimpleNamespace()

    def inner():
        return 1

    def outer():  # like run_ingest_pass blocking while foreachBatch runs
        t = threading.Thread(target=ns.inner)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        return 2

    ns.inner, ns.outer = inner, outer
    tracer = Tracer()
    tracer.wrap(ns, "inner", "inner")
    tracer.wrap(ns, "outer", "outer")
    assert ns.outer() == 2 and tracer.spans == []  # inactive: no spans
    tracer.begin_op(7, "client.x")
    ns.outer()
    tracer.end_op()
    assert [s["name"] for s in tracer.spans] == ["client.x", "outer", "inner"]
    assert [s["parent"] for s in tracer.spans] == [None, 0, 1]
    assert {s["op"] for s in tracer.spans} == {7}
    tracer.restore()
    assert ns.inner is inner and ns.outer is outer


# ------------------------------------------------------------ run


def test_server_cpu_counts_the_python_workers(spark):
    from pyspark import SparkContext

    def burn(batches):  # runs in a PySpark worker, a child of the JVM
        for pdf in batches:
            t = time.process_time()
            while time.process_time() - t < 1.0:
                pass
            yield pdf

    jvm = SparkContext._gateway.proc.pid
    workers = lambda cpu: sum(ms for pid, ms in cpu.items() if pid != jvm)
    tree0, server0 = run.tree_cpu_ms(jvm), run.server_cpu_ms()[0]
    assert spark.range(2, numPartitions=2).mapInPandas(burn, "id long").count() == 2
    tree1, server1 = run.tree_cpu_ms(jvm), run.server_cpu_ms()[0]
    assert workers(tree1) - workers(tree0) >= 1500
    assert server1 - server0 >= 1500


def test_stale_work_dirs_go_and_live_ones_stay(tmp_path):
    live = tmp_path / f"write_ingest-{os.getpid()}"
    live.mkdir()
    # a pid above the kernel's maximum never names a live process
    gone = tmp_path / "dashboard_query-99999999"
    gone.mkdir()
    run.remove_stale_work(str(tmp_path))
    assert live.is_dir() and not gone.exists()


# ------------------------------------------------------------ smoke


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "11", "--seconds", "1",
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = bench["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)


def test_refuses_to_run_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard_query",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
