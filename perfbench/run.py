"""Serving-path benchmark: one command, one process, one closed-loop client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload dashboard_query --seed 1 --seconds 12 --trace 0

Workloads: ``dashboard_query`` and ``write_ingest``
(see perfbench/README.md). The run starts one Spark driver on
``local[<cores>]`` with shuffle partitions pinned to the same count,
builds a fresh seeded store several times (``setup_s`` is the median
CPU cost of a build), warms up untimed, then runs a fixed number of
cycles of the workload's operations back to back — about
``--seconds`` on an unloaded box — and checks every answer. With ``--trace 1``
the engine's layer functions are wrapped, traced and untraced
operations alternate, and the per-layer split is reported instead.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the run's detail (configuration, per-operation-type sample
counts and tail percentiles, failures).
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "2g"
SETUPS = 5  # fresh store builds per run; setup_s is the median build
CLK_TCK = os.sysconf("SC_CLK_TCK")
MAX_FAILURES_SHOWN = 5


def _engine_importable() -> str | None:
    """None when pyspark and the engine package (from this checkout)
    import, else the reason they do not."""
    try:
        import pyspark  # noqa: F401

        import ciws_server_spark
    except ImportError as exc:
        return str(exc)
    pkg = os.path.dirname(os.path.abspath(ciws_server_spark.__file__))
    if os.path.dirname(pkg) != ROOT:
        return f"ciws_server_spark resolved outside the checkout: {pkg}"
    return None


def start_spark(work: str):
    """One Spark driver whose scratch files all stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM started here, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    from ciws_server_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        driver_memory=DRIVER_MEMORY,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits
    when its stdin closes; Python workers die with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def install_tracer(tracer) -> None:
    from ciws_server_spark.sources import http_api, sinks
    from ciws_server_spark.streaming import ingest

    api = http_api.InfluxHTTPApi
    tracer.wrap(api, "handle_query", "http_api.handle_query")
    tracer.wrap(api, "handle_write", "http_api.handle_write")
    tracer.wrap(http_api, "serialize_frame", "http_api.serialize_frame")
    tracer.wrap_iter(http_api, "serialize_frame_chunks", "http_api.serialize_frame_chunks")
    tracer.wrap(http_api, "run_influxql", "influxql.run_influxql")
    for fn in ("load_tables", "append_points", "auto_compact",
               "route_residential", "apply_pending_moves"):
        tracer.wrap(sinks, fn, f"sinks.{fn}")
    tracer.wrap(ingest, "run_ingest_pass", "ingest.run_ingest_pass")


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name, so field 0
    is the state and utime, stime, cutime, cstime are fields 11-14."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def tree_cpu_ms(root: int) -> dict[int, float]:
    """CPU time (user + system, its own and that of its reaped children)
    of ``root`` and of each live descendant, by pid. The Spark driver
    JVM's descendants are the PySpark worker daemon and its workers,
    which run ``mapInPandas`` and other Python UDFs."""
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        try:
            fields = _stat_fields(f"/proc/{pid}/stat")
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:  # the process exited
            continue
        out[pid] = sum(int(f) for f in fields[11:15]) * 1000.0 / CLK_TCK
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    stack.extend(int(c) for c in fh.read().split())
            except OSError:  # the thread exited
                pass
    return out


def jit_cpu_ms(jvm: int) -> float:
    """CPU time of the JVM's JIT compiler threads (never retired: the
    JVM runs with -XX:-UseDynamicNumberOfCompilerThreads)."""
    total = 0.0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm") as fh:
                if "CompilerThre" not in fh.read():
                    continue
            fields = _stat_fields(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) * 1000.0 / CLK_TCK
    return total


def server_cpu_ms() -> tuple[float, float]:
    """(server CPU ms, JIT ms) used so far. Server CPU is that of the
    Spark driver JVM, which in local mode also runs the executors, and
    of its Python workers, less the JVM's JIT compiler threads. JIT work
    never settles here (every new query plan generates new classes) and
    its amount depends on compile timing, so it is kept apart as a
    warm-up cost; GC threads stay in."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    jit = jit_cpu_ms(jvm)
    return sum(tree_cpu_ms(jvm).values()) - jit, jit


def run_op(wl, op) -> tuple:
    """Run and check one operation: (error or None, latency ms, Python
    driver CPU ms, server CPU ms, seconds spent checking). The check runs
    after the latency is taken, and the payload is dropped once
    checked, so the client's memory does not grow with the number of
    operations."""
    srv0, cpu0, t0 = server_cpu_ms()[0], time.process_time(), time.perf_counter()
    try:
        payload, err = op.run(), None
    except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
        payload, err = None, f"{type(e).__name__}: {e}"
    t1 = time.perf_counter()
    cpu = (time.process_time() - cpu0) * 1000.0
    srv = server_cpu_ms()[0] - srv0
    if err is None:
        err = wl.verify(op, payload)
    return err, (t1 - t0) * 1000.0, cpu, srv, time.perf_counter() - t1


def benchmark(args, work: str) -> tuple[dict, dict]:
    from perfbench import layers, workloads
    from perfbench.stats import summarize

    t0 = time.perf_counter()
    spark = start_spark(work)
    jvm_s = time.perf_counter() - t0
    tracer = counters = None
    try:
        wl = workloads.WORKLOADS[args.workload](spark, args.seed)
        setup_wall, setup_cpu = [], []
        for i in range(SETUPS):
            if i:
                shutil.rmtree(os.path.join(work, f"store{i - 1}"))
            srv0, cpu0, t = server_cpu_ms()[0], time.process_time(), time.perf_counter()
            wl.setup(os.path.join(work, f"store{i}"))
            setup_wall.append(time.perf_counter() - t)
            setup_cpu.append((server_cpu_ms()[0] - srv0) / 1000.0 + time.process_time() - cpu0)

        ops = wl.ops()
        t_warm = time.perf_counter()
        done = []  # (op, error, ms, py_cpu_ms, server_cpu_ms, check_s, trace record | None)
        # untimed warm-up cycles: they hold the cold first call of every
        # operation type, e.g. the first ingest pass, and let the JIT
        # compile the hot paths
        for _ in range(wl.WARMUP_CYCLES * wl.CYCLE_OPS):
            op = next(ops)
            done.append((op, *run_op(wl, op), None))
        n_warm = len(done)
        warm_s = time.perf_counter() - t_warm
        points0 = wl.points()

        if args.trace:
            from perfbench.trace import SparkCounters, Tracer

            tracer, counters = Tracer(), SparkCounters(spark)
            install_tracer(tracer)
        seen: dict[str, int] = {}
        # a fixed number of whole cycles, sized so the timed phase lasts
        # about --seconds on an unloaded reference box: every run times
        # the same operations, however busy the box is
        cycles = max(1, round(args.seconds / wl.CYCLE_S))
        cycle_cpu, wall, jit0 = [], 0.0, server_cpu_ms()[1]
        for _ in range(cycles):
            first = len(done)
            srv0, t_cycle = server_cpu_ms()[0], time.perf_counter()
            for _ in range(wl.CYCLE_OPS):
                op = next(ops)
                # traced and untraced operations of each kind alternate,
                # so the overhead comparison sees the same warm-up state;
                # the first is traced, so a kind run once per cycle is
                # traced
                traced = bool(args.trace) and seen.get(op.kind, 0) % 2 == 0
                seen[op.kind] = seen.get(op.kind, 0) + 1
                if traced:
                    counters.mark()
                    tracer.begin_op(len(done), f"client.{op.kind}")
                res = run_op(wl, op)
                rec = None
                if traced:
                    tracer.end_op()
                    rec = {"id": len(done), "kind": op.kind, "cat": op.cat,
                           "ms": res[1], "cpu_ms": res[2], "jobs": counters.collect(),
                           "files": wl.visible_files()}
                done.append((op, *res, rec))
            # the client's own checking is not the system's time
            wall += time.perf_counter() - t_cycle - sum(t[5] for t in done[first:])
            cycle_cpu.append(server_cpu_ms()[0] - srv0 + sum(t[3] for t in done[first:]))
        timed = done[n_warm:]
        jit_ms = server_cpu_ms()[1] - jit0
        timed_points = wl.points() - points0

        failures = [f"{op.kind}: {err}" for op, err, *_ in done if err]
        final = wl.final_check()
        ok_ms, ok_cpu = {}, {}
        for op, err, ms, py_cpu, srv_cpu, *_ in timed:
            if err is None:
                ok_ms.setdefault(op.kind, []).append(ms)
                ok_cpu.setdefault(op.kind, []).append(py_cpu + srv_cpu)
        n_ok = sum(map(len, ok_ms.values()))
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": f"local[{CORES}]",
            "shuffle_partitions": CORES, "driver_memory": DRIVER_MEMORY,
            "jvm_start_s": jvm_s, "setup_wall_s": setup_wall, "setup_cpu_s": setup_cpu,
            "warmup_ops": n_warm, "warmup_s": warm_s, "timed_ops": len(timed), "timed_wall_s": wall,
            "cycle_cpu_ms": cycle_cpu, "jit_cpu_ms": jit_ms,
            "latency_ms": {k: summarize(v) for k, v in sorted(ok_ms.items())},
            "cpu_ms": {k: summarize(v) for k, v in sorted(ok_cpu.items())},
            "ops_per_s": n_ok / wall,
            "points": wl.points(), "final_check": final,
            "failures": failures[:MAX_FAILURES_SHOWN],
        }
        if args.workload == "dashboard_query":
            exports = [(op.rows, ms) for op, err, ms, *_ in timed
                       if op.kind == "export" and err is None]
            detail["export_rows_per_s"] = (
                sum(r for r, _ in exports) / (sum(ms for _, ms in exports) / 1000.0)
                if exports else None
            )
        else:
            detail["points_per_s"] = timed_points / wall
        result = {
            "correct": not failures and not final,
            "attempted": len(done),
            "failed": len(failures) + len(final),
        }
        if args.trace:
            recs = []
            for op, *_, rec in timed:
                if rec is not None:
                    rec["rows"], rec["nbytes"] = op.rows, op.nbytes
                    recs.append(rec)
            primary = [(ms, rec is not None) for op, err, ms, *_, rec in timed
                       if op.kind == wl.primary and err is None]
            traced_ms = [ms for ms, traced in primary if traced]
            plain_ms = [ms for ms, traced in primary if not traced]
            overhead = (
                statistics.median(traced_ms) / statistics.median(plain_ms) - 1.0
                if traced_ms and plain_ms else 0.0
            )
            metrics = layers.aggregate(recs, tracer.spans, wl.bytes_on_disk(), overhead)
            detail["trace_overhead_samples"] = {"traced": len(traced_ms),
                                                "untraced": len(plain_ms)}
            detail["trace_file"] = write_trace(args, tracer.spans, recs, layers.by_kind(recs))
            result["metrics"] = {
                m: {"value": metrics[m], "unit": layers.unit_of(m)}
                for m in layers.metric_names()
            }
        else:
            result["metrics"] = {
                "setup_s": {"value": statistics.median(setup_cpu), "unit": "s"},
                "cpu_ms_per_op": {"value": sum(cycle_cpu) / n_ok if n_ok else None,
                                  "unit": "ms"},
                "bytes_per_point": {"value": wl.bytes_on_disk() / wl.points(),
                                    "unit": "bytes"},
                "driver_rss_mb": {
                    "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
                    "unit": "MB",
                },
            }
        return result, detail
    finally:
        if tracer is not None:
            tracer.restore()
        stop_spark(spark)


def write_trace(args, spans, recs, kinds) -> str:
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"spans": spans, "ops": recs, "by_kind": kinds}, fh)
    return os.path.relpath(path, ROOT)


def remove_stale_work(base: str) -> None:
    """Delete the work dirs (``<workload>-<pid>``) of runs that were
    interrupted: those whose process is gone. A run alongside keeps
    its own."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    why = _engine_importable()
    if why:
        print(f"perfbench: the engine is not importable here: {why}", file=sys.stderr)
        return 2
    base = os.path.join(HERE, ".work")
    remove_stale_work(base)
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, detail = benchmark(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run is using it
            pass
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
