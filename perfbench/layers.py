"""Per-layer metrics from the traced run's spans and Spark counters.

Every value is per operation of the family (``cat``) that drives the
layer — ``query``, ``write``, ``tick`` or ``pass`` — averaged over the
traced operations of that family; a family the workload never runs
reads 0, which is the expected reading on that layer's null-case
workload.
"""

from __future__ import annotations

import statistics

from perfbench.stats import self_time, union_length

CATS = ("query", "write", "tick", "pass")

#: (metric, span name, op family, what is subtracted from the span)
SPAN_METRICS = (
    ("http_api.handle_query.self_ms", "http_api.handle_query", "query", "children"),
    ("http_api.serialize_frame.self_ms", "http_api.serialize_frame", "query", "jobs"),
    ("http_api.serialize_frame_chunks.self_ms", "http_api.serialize_frame_chunks",
     "query", "jobs"),
    ("http_api.handle_write.self_ms", "http_api.handle_write", "write", "jobs"),
    ("influxql.run_influxql_ms", "influxql.run_influxql", "query", None),
    ("sinks.load_tables_ms", "sinks.load_tables", "query", None),
    ("sinks.append_points_ms", "sinks.append_points", "write", None),
    ("sinks.auto_compact_ms", "sinks.auto_compact", "tick", None),
    ("sinks.route_residential_ms", "sinks.route_residential", "pass", None),
    ("sinks.apply_pending_moves_ms", "sinks.apply_pending_moves", "pass", None),
    ("ingest.run_ingest_pass.self_ms", "ingest.run_ingest_pass", "pass", "children"),
)

SPARK_FIELDS = (
    "jobs_per_op", "tasks_per_op", "job_wall_ms", "executor_run_ms",
    "executor_cpu_ms", "jvm_gc_ms", "shuffle_bytes", "spill_bytes",
    "input_rows_per_result_row",
)

UNITS = {"_ms": "ms", "_bytes": "bytes", "bytes_on_disk": "bytes", "_row": "ratio",
         "_frac": "ratio"}


def unit_of(metric: str) -> str:
    for suffix, unit in UNITS.items():
        if metric.endswith(suffix):
            return unit
    return "count"


def metric_names() -> list[str]:
    names = [m for m, *_ in SPAN_METRICS]
    names += ["http_api.response_bytes", "sinks.visible_files", "sinks.bytes_on_disk"]
    names += [f"spark.{c}.{f}" for c in CATS for f in SPARK_FIELDS
              if not (c == "tick" and f == "input_rows_per_result_row")]
    names += [f"driver.{c}.py_cpu_ms" for c in CATS]
    names.append("trace.overhead_frac")
    return names


def span_self_ms(span: dict, spans: list[dict], children: dict, jobs: list,
                 mode: str | None) -> float:
    """A span's duration, less its children's cover (``children``) or
    less its children's and Spark job walls' cover (``jobs``)."""
    if mode is None:
        return span["end"] - span["start"]
    covered = [(spans[c]["start"], spans[c]["end"]) for c in children.get(span["idx"], ())]
    if mode == "jobs":
        covered += [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
    return self_time(span["start"], span["end"], covered)


def per_op_layers(ops: list[dict], spans: list[dict]) -> None:
    """Fill ``op["layers"]`` — span metric → ms — for each traced op."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        s["idx"] = i
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(i)
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    for op in ops:
        layers = {}
        for metric, name, _cat, mode in SPAN_METRICS:
            layers[metric] = sum(
                span_self_ms(s, spans, children, op["jobs"], mode)
                for s in by_op.get(op["id"], ())
                if s["name"] == name
            )
        op["layers"] = layers


def aggregate(ops: list[dict], spans: list[dict], bytes_on_disk: int,
              overhead_frac: float) -> dict[str, float]:
    per_op_layers(ops, spans)
    by_cat = {c: [o for o in ops if o["cat"] == c] for c in CATS}

    def mean(xs):
        xs = list(xs)
        return sum(xs) / len(xs) if xs else 0.0

    out: dict[str, float] = {}
    for metric, _name, cat, _mode in SPAN_METRICS:
        out[metric] = mean(o["layers"][metric] for o in by_cat[cat])
    out["http_api.response_bytes"] = mean(o["nbytes"] for o in by_cat["query"])
    out["sinks.visible_files"] = mean(o["files"] for o in ops)
    out["sinks.bytes_on_disk"] = float(bytes_on_disk)
    for cat, cat_ops in by_cat.items():
        jobs = [j for o in cat_ops for j in o["jobs"]]
        n = len(cat_ops)
        pre = f"spark.{cat}."
        out[pre + "jobs_per_op"] = len(jobs) / n if n else 0.0
        out[pre + "tasks_per_op"] = sum(j["tasks"] for j in jobs) / n if n else 0.0
        out[pre + "job_wall_ms"] = mean(
            union_length([(j["start"], j["end"]) for j in o["jobs"]
                          if j["start"] and j["end"]], float("-inf"), float("inf"))
            for o in cat_ops
        )
        for field, key in (("executor_run_ms", "run_ms"), ("executor_cpu_ms", "cpu_ms"),
                           ("jvm_gc_ms", "gc_ms"), ("shuffle_bytes", "shuffle_bytes"),
                           ("spill_bytes", "spill_bytes")):
            out[pre + field] = sum(j[key] for j in jobs) / n if n else 0.0
        if cat != "tick":  # a tick returns no rows
            result_rows = sum(o["rows"] for o in cat_ops)
            out[pre + "input_rows_per_result_row"] = (
                sum(j["input_rows"] for j in jobs) / result_rows if result_rows else 0.0
            )
        out[f"driver.{cat}.py_cpu_ms"] = mean(o["cpu_ms"] for o in cat_ops)
    out["trace.overhead_frac"] = overhead_frac
    return out


def by_kind(ops: list[dict]) -> dict[str, dict]:
    """Per operation kind (panel, raw, export, ...): median of each span
    metric and of the op latency — the breakdown written to the trace
    file."""
    kinds: dict[str, list[dict]] = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o)
    return {
        k: {"n": len(os_), "ms": statistics.median(o["ms"] for o in os_),
            **{m: statistics.median(o["layers"][m] for o in os_)
               for m in os_[0]["layers"]}}
        for k, os_ in kinds.items()
    }
