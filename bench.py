"""Benchmark harness: runs the headline queries and prints one JSON line.

Reads ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``. Each query is forced with a count-style
action over all columns (no collect of full results into the driver —
what's timed is scan+compute, not result transfer). Per-query wall
seconds are reported plus the total.

Usage: python bench.py [--sf-dir DIR] [--repeat N] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def catalog_queries() -> tuple[dict, set]:
    """(full name→callable catalog, headline names). Explicit CLI
    query names may name ANY catalog query (scale runs bench
    non-headline families too)."""
    from ciws_server_spark import operators

    names: set[str] = set()
    qs: dict = {}
    for mod in operators.ALL_MODULES:
        names |= getattr(mod, "HEADLINE", set())
        overlap = qs.keys() & mod.QUERIES.keys()
        if overlap:  # a silent shadow would bench the wrong callable
            raise ValueError(f"duplicate query names: {sorted(overlap)}")
        qs.update(mod.QUERIES)
    return qs, names


def headline_queries() -> dict:
    # Pull from each module's full QUERIES catalog (registered + extra)
    # so the headline set stays stable across driver-registry rotations:
    # a query rotated out of the ≤50 driver slots must keep benching.
    qs, names = catalog_queries()
    return {n: qs[n] for n in sorted(names)}


# --- machine-load guard ----------------------------------------------
#
# Round-7 lesson: the driver's BENCH_r07 headline read 41% slower than
# a controlled re-run because the box was loaded during the sweep —
# every independent plan inflated uniformly, which a reader can't
# distinguish from a real regression. Guard: a fixed-cost pure-CPU
# canary (400M xxhash64 folds across all cores, no I/O, no data
# dependence) timed before AND after the sweep against a ratcheted
# floor recorded in tools/canary_floor_c{N}.json. If either reading
# exceeds floor×_CANARY_THRESHOLD the artifact is stamped
# "load_suspect": true — numbers are still reported, but flagged as
# not comparable round-over-round.


def _cpus_tag() -> str:
    """``c<N>`` for the session's core count, parsed as an int, so
    ``08`` and ``8 `` share the ``c8`` floor and history."""
    from ciws_server_spark.session import default_parallelism

    return f"c{default_parallelism()}"


# All floor/history sidecars live here; tests point it at a tmp dir
# via SPARK_GRAFT_FLOOR_DIR so synthetic-load runs can't poison the
# repo's pinned quiet floors.
_FLOOR_DIR = os.environ.get(
    "SPARK_GRAFT_FLOOR_DIR",
    os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"),
)
# r16: the canary floor is per-core-count (canary_floor_c32.json etc.;
# the legacy canary_floor.json was migrated to _c32) — the driver's
# lower-core companion run reads the same pure-CPU canary ~cores-ratio
# slower, which against a 32-core floor auto-stamped EVERY scaling run
# load_suspect and kept its readings out of any history.
_CANARY_FLOOR_FILE = os.path.join(
    _FLOOR_DIR, f"canary_floor_{_cpus_tag()}.json"
)
_CANARY_ROWS = 400_000_000
#: Calibrated on this box (round 8): idle fresh-JVM min-of-3 canary
#: readings span 0.14-0.22s (~1.55× — JIT/GC state, not load), while
#: the r7-style genuine-load incident read 0.60s (4.2×). 1.75 sits
#: between the two regimes; 1.3 over-flagged 12/21 idle protocol runs.
_CANARY_THRESHOLD = 1.75


def _canary_time(spark, reps: int = 3) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, _CANARY_ROWS, 1, 32).selectExpr(
            "bit_xor(xxhash64(id)) AS h"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


_CANARY_HISTORY_MAX = 20


def _canary_history() -> list[float]:
    try:
        with open(_CANARY_FLOOR_FILE) as f:
            d = json.load(f)
        hist = d.get("history") or []
        # migrate the round-8 min-ratchet format
        if not hist and "floor_sec" in d:
            hist = [float(d["floor_sec"])]
        return [float(x) for x in hist]
    except Exception:
        return []


def _record_canary(measured: float) -> list[float]:
    """Append to the rolling canary history (last N min-of-3 readings).

    A pure min-ratchet floor proved self-poisoning: one freak 0.095s
    reading dragged the floor under the box's ordinary idle band
    (0.19-0.22s) and every honest run after it flagged as loaded. The
    floor is instead the 25th percentile of recent history — robust to
    lucky outliers below AND to loaded readings above.

    Readings that the CURRENT floor already flags as loaded are kept
    out of the history: appending them would ratchet the percentile
    floor upward during a run of loaded sweeps, and the guard would
    stop flagging sustained load (the inverse failure mode of the
    min-ratchet). The returned history still includes the reading so
    the caller's floor for THIS run reflects it being measured."""
    prior = _canary_history()
    hist = (prior + [measured])[-_CANARY_HISTORY_MAX:]
    persist = hist
    if prior and measured > _floor_of(prior) * _CANARY_THRESHOLD:
        persist = prior  # loaded reading: report it, don't let it move the floor
    try:
        with open(_CANARY_FLOOR_FILE, "w") as f:
            json.dump({"history": persist, "rows": _CANARY_ROWS}, f)
    except OSError:
        pass  # read-only checkout: guard degrades to session-local
    return hist


def _floor_of(hist: list[float]) -> float:
    s = sorted(hist)
    return s[max(0, (len(s) - 1) // 4)]  # 25th percentile


def canary_guard(spark) -> tuple[dict, float]:
    """Measure the canary; returns (report-fragment, best_sec)."""
    best = _canary_time(spark)
    hist = _record_canary(best)
    floor = _floor_of(hist)
    return (
        {
            "sec": best,
            "floor_sec": round(floor, 3),
            "loaded": bool(best > floor * _CANARY_THRESHOLD),
        },
        best,
    )


# --- same-window regime anchor ---------------------------------------
#
# Round-9 lesson: the canary (pure-CPU, floor-ratio 1.75×) is blind to
# a UNIFORM ~20% ambient regime shift — r9's driver artifact read
# 21.66s vs r8's 18.19s on unchanged plans and it took forensics
# (same-code readings through the round, sf1 protocol re-measures,
# plan-audit diffs) to adjudicate "ambient, not code". The artifact
# now carries its own paired reference measurements taken in the SAME
# window as the sweep:
#
#   * spark_anchor — median-of-3 of ONE fixed catalog query
#     (crypto_hashes: scan + JVM hash, the whole Spark stack) whose
#     plan never changes round-over-round;
#   * duckdb_anchor — median-of-3 of a fixed DuckDB aggregation over
#     the same lineitem parquet: an INDEPENDENT engine on the same
#     I/O + CPU. Code changes in this repo cannot move it; only the
#     box regime can.
#
# Both are recorded raw plus against a rolling-history floor
# (25th percentile, like the canary), yielding ``regime_index`` —
# how much slower this window is than the box's recent norm. The
# artifact reports the headline both raw and regime-normalized
# (``value_normalized = value / regime_index``): when Spark totals
# and BOTH anchors drift together, the round-over-round reader sees
# regime, not regression, without any archaeology.

_ANCHOR_HISTORY_FILE = os.path.join(_FLOOR_DIR, "anchor_history.json")
_ANCHOR_HISTORY_MAX = 20
_ANCHOR_QUERY = "crypto_hashes"


def _history_key(sf_dir_or_sf) -> str:
    """Floor/anchor history key: scale factor AND core count.

    r16 (VERDICT r15 ask #2/#5 hygiene): the driver benches the same
    sf at a LOWER core count to measure scaling; with sf-only keys
    those ~2× readings either polluted the rolling histories or —
    via the inflation detector — read as a loaded regime against
    32-core floors (r15's c8 run: median_inflation 2.29 on an idle
    box). Keying by cores gives each (sf, cpus) regime its own quiet
    floor; the legacy 'sf0.1' entries were migrated to 'sf0.1c32'
    (this box's historical core count) in the repo sidecars."""
    sf = sf_dir_or_sf if isinstance(sf_dir_or_sf, float) else _sf_of(sf_dir_or_sf)
    return f"sf{sf}{_cpus_tag()}"


def _median3(fn) -> float:
    vals = sorted(fn() for _ in range(3))
    return round(vals[1], 3)


def _duckdb_anchor_time(sf_dir: str) -> float:
    """Median-of-3 of a fixed DuckDB workload over the bench parquet:
    10 back-to-back runs of a high-cardinality distinct + hash-agg
    over lineitem per timed reading — scan, hash, and CPU in one
    plan, and the ×10 loop lifts the reading (~0.5-1s at sf0.1)
    above timer noise on an engine this fast."""
    import duckdb

    li = os.path.join(sf_dir, "lineitem.parquet")
    con = duckdb.connect()
    try:
        def once() -> float:
            t0 = time.perf_counter()
            for _ in range(10):
                con.execute(
                    "SELECT count(DISTINCT l_orderkey),"
                    " bit_xor(hash(l_orderkey * 31 + l_linenumber)),"
                    " sum(l_extendedprice * (1 - l_discount))"
                    f" FROM read_parquet('{li}')"
                ).fetchall()
            return time.perf_counter() - t0

        return _median3(once)
    finally:
        con.close()


def _spark_anchor_time(spark, sf_dir: str) -> float:
    from ciws_server_spark import operators

    fn = {**operators.registered_queries(), **operators.extra_queries()}[
        _ANCHOR_QUERY
    ]

    def once() -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.selectExpr(
            "count(*) AS n",
            f"bit_xor(xxhash64({', '.join(df.columns)})) AS h",
        ).collect()
        return time.perf_counter() - t0

    once()  # warm codegen/JIT: the anchor measures the box, not the
    # first-use compilation — otherwise the sweep's FIRST anchor
    # window reads systematically hot and over-normalizes
    return _median3(once)


def _anchor_history(sf_key: str) -> dict:
    """Rolling anchor history, keyed by scale factor — mixing sf0.01
    smoke readings into the sf0.1 floor would corrupt the regime
    baseline."""
    try:
        with open(_ANCHOR_HISTORY_FILE) as f:
            d = json.load(f)
        h = d.get(sf_key, {})
        return {
            "spark": [float(x) for x in h.get("spark", [])],
            "duckdb": [float(x) for x in h.get("duckdb", [])],
            "_all": d,
        }
    except Exception:
        return {"spark": [], "duckdb": [], "_all": {}}


def measure_anchors(spark, sf_dir: str) -> dict:
    """One anchor window (compat shim): measure, record, report."""
    pair = (_spark_anchor_time(spark, sf_dir), _duckdb_anchor_time(sf_dir))
    return anchors_report(sf_dir, {"post": pair})


def anchors_report(sf_dir: str, windows: dict[str, tuple]) -> dict:
    """Fold one or more same-sweep anchor windows (``pre``/``mid``/
    ``post`` → (spark_sec, duckdb_sec)) into the artifact fragment.

    r12 lesson (§54 addendum): ONE post-sweep anchor window can land
    in a calm moment of an otherwise-elevated sweep — the closing
    24.5s read carried regime_index ≈ 1 while every query ran ~1.33×
    hot. Sampling the pair before, mid-suite, and after makes the
    regime index the MAX over windows: ambient load anywhere in the
    sweep shows up in at least one window. Only the least-loaded
    window's readings enter the rolling history (a loaded window must
    not ratchet the floor upward)."""
    sf_key = _history_key(sf_dir)
    hist = _anchor_history(sf_key)
    best_spark = min(v[0] for v in windows.values())
    best_duck = min(v[1] for v in windows.values())
    hist["spark"] = (hist["spark"] + [best_spark])[-_ANCHOR_HISTORY_MAX:]
    hist["duckdb"] = (hist["duckdb"] + [best_duck])[-_ANCHOR_HISTORY_MAX:]
    store = hist.pop("_all")
    store[sf_key] = {"spark": hist["spark"], "duckdb": hist["duckdb"]}
    store["query"] = _ANCHOR_QUERY
    try:
        with open(_ANCHOR_HISTORY_FILE, "w") as f:
            json.dump(store, f)
    except OSError:
        pass  # read-only checkout: anchor degrades to raw readings
    spark_floor = _floor_of(hist["spark"])
    duck_floor = _floor_of(hist["duckdb"])
    # regime index per window: how much slower that window ran vs the
    # box's recent norm, by the independent engine's reading (DuckDB
    # moves only with the box) cross-checked against the Spark
    # anchor; max of the two ratios per window, max over windows.
    per_window = {}
    for label, (s, d) in windows.items():
        per_window[label] = {
            "spark_sec": s,
            "duckdb_sec": d,
            "regime_index": round(
                max(s / spark_floor, d / duck_floor, 1.0), 3
            ),
        }
    idx = max(w["regime_index"] for w in per_window.values())
    med = statistics.median(
        w["regime_index"] for w in per_window.values()
    )
    out = {
        "query": _ANCHOR_QUERY,
        "spark_floor_sec": round(spark_floor, 3),
        "duckdb_floor_sec": round(duck_floor, 3),
        "windows": per_window,
        # max over windows = the conservative LOAD STAMP (any one
        # elevated window flags the run); the MEDIAN is the central
        # estimate a normalizer may divide by — r13 judge finding:
        # dividing by the max let one elevated pre-window flatter the
        # headline 2× while the sweep itself ran at floor speed
        "regime_index": idx,
        "regime_index_median": round(med, 3),
    }
    # compat keys: the post (or only) window's raw readings
    last = per_window.get("post") or next(iter(per_window.values()))
    out["spark_sec"] = last["spark_sec"]
    out["duckdb_sec"] = last["duckdb_sec"]
    return out


# --- per-query quiet-floor inflation detector -------------------------
#
# Round-12 lesson (§54 addendum): a sweep can run UNIFORMLY ~1.33×
# elevated while both the pure-CPU canary and the post-sweep anchor
# window read calm — the ambient load was visible only in the 25
# query timings themselves. So the queries become the canary: each
# query keeps a rolling history of warm readings from UNFLAGGED
# sweeps (tools/query_floor.json, 25th-percentile floor like the
# canary), and a sweep whose MEDIAN per-query inflation vs those
# floors exceeds the threshold stamps load_suspect — a single real
# regression moves one ratio and leaves the median alone; only a
# regime shift moves the median of 25 independent plans.

_QUERY_FLOOR_FILE = os.path.join(_FLOOR_DIR, "query_floor.json")
_QUERY_FLOOR_MAX = 20
_QUERY_FLOOR_MIN_HISTORY = 3
_INFLATION_THRESHOLD = 1.25
_INFLATION_MIN_QUERIES = 5
#: r16 (VERDICT r15 ask #2): a warm best >2× this query's rolling
#: quiet floor earns ONE bounded extra rep — a transient co-tenant
#: spike mid-sweep gets a second chance to read clean, a real
#: regression measures the same slow time twice and keeps its flag.
_RETRY_INFLATION_FACTOR = 2.0


def warm_retry_needed(best: float, floor_hist: list) -> tuple[bool, float]:
    """(retry?, floor). r15 lesson: the driver's bench record landed in
    a 45× mid-run anchor spike and there was no mechanism to recover a
    usable number from the dirty window — 18 phantom regressions on
    bit-identical plans. The response is declared, bounded and
    additive: one extra rep per flagged query, min-of-reps semantics
    unchanged, every reading kept in the sidecar. Fires only with
    ≥_QUERY_FLOOR_MIN_HISTORY quiet readings (fresh floor dirs never
    retry) so synthetic-load tests keep their premise."""
    if len(floor_hist) < _QUERY_FLOOR_MIN_HISTORY:
        return False, 0.0
    fl = _floor_of([float(x) for x in floor_hist])
    return bool(fl > 0 and best > _RETRY_INFLATION_FACTOR * fl), fl


def _query_floor_store() -> dict:
    try:
        with open(_QUERY_FLOOR_FILE) as f:
            d = json.load(f)
        return d if isinstance(d, dict) else {}
    except Exception:
        return {}


def detect_uniform_inflation(
    timings: dict[str, float],
    floors: dict[str, list],
    threshold: float = _INFLATION_THRESHOLD,
) -> dict:
    """Median per-query inflation vs the pinned quiet floors.

    Stamps ``loaded`` only from the MEDIAN: robust to any one query
    genuinely regressing (that's a code signal, reported per-query)
    and to any one floor being stale. Queries without enough history
    are skipped; below ``_INFLATION_MIN_QUERIES`` comparable queries
    the detector abstains (``loaded: false``, median ``None``)."""
    ratios: dict[str, float] = {}
    for q, t in timings.items():
        h = floors.get(q) or []
        if len(h) >= _QUERY_FLOOR_MIN_HISTORY:
            f = _floor_of([float(x) for x in h])
            if f > 0:
                ratios[q] = t / f
    out = {
        "n_compared": len(ratios),
        "threshold": threshold,
        "median_inflation": None,
        "loaded": False,
    }
    if len(ratios) >= _INFLATION_MIN_QUERIES:
        med = sorted(ratios.values())[len(ratios) // 2]
        out["median_inflation"] = round(med, 3)
        out["loaded"] = bool(med > threshold)
        worst = sorted(ratios, key=ratios.get, reverse=True)[:3]
        out["worst"] = {q: round(ratios[q], 3) for q in worst}
    return out


def normalized_headline(total: float, inflation: dict, anchor: dict):
    """(value_normalized, meta) — the regime-corrected headline.

    r13 judge finding: dividing the warm total by the MAX anchor
    window let a single elevated window *before* the sweep halve the
    headline while the sweep itself ran at floor speed. The
    denominator must be a robust CENTRAL estimate of how elevated the
    sweep actually was:

    1. the 25-query inflation median vs pinned quiet floors (the
       sweep's own readings — the most direct witness), when enough
       queries have floor history;
    2. else the MEDIAN anchor-window regime index;
    3. else 1.0 (raw).

    The denominator is clamped at >= 1.0: normalization only ever
    REMOVES ambient slowdown, never inflates the headline when the
    box happened to run under its floors. The max anchor window stays
    in the artifact as the load stamp, not the divisor."""
    denom, source = 1.0, "none"
    med = inflation.get("median_inflation")
    if med is not None and inflation.get("n_compared", 0) >= _INFLATION_MIN_QUERIES:
        denom, source = max(float(med), 1.0), "query_floor_median"
    elif "regime_index_median" in anchor:
        denom, source = max(float(anchor["regime_index_median"]), 1.0), (
            "anchor_window_median"
        )
    return round(total / denom, 3), {
        "denominator": round(denom, 3),
        "source": source,
        "anchor_max": anchor.get("regime_index"),
    }


#: Hard ceiling for the stdout contract line: the external driver
#: keeps only the LAST 2000 characters of stdout and parses the last
#: JSON object found there — BENCH_r10..r13 all recorded
#: ``parsed: null`` because the full result line outgrew the window.
#: The full artifact goes to a sidecar; stdout gets a line that FITS.
_STDOUT_LINE_BUDGET = 1900
_FULL_SIDECAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tmp", "BENCH_FULL.json"
)


def emit_result(result: dict, budget: int = _STDOUT_LINE_BUDGET) -> str:
    """Write the FULL result to ``tmp/BENCH_FULL.json`` and return a
    compact stdout line under ``budget`` chars.

    Contract keys (metric/value/unit/queries/sf) are never dropped;
    verbose diagnostics are shed in fixed order (anchor detail →
    inflation detail → cold per-query → canary) until the line fits —
    each shed key remains in the sidecar, pointed to by ``detail``."""
    try:
        os.makedirs(os.path.dirname(_FULL_SIDECAR), exist_ok=True)
        with open(_FULL_SIDECAR, "w") as fh:
            json.dump(result, fh, indent=1)
    except OSError:
        pass  # read-only checkout: stdout line still carries the core
    compact = dict(result)
    compact["detail"] = os.path.relpath(
        _FULL_SIDECAR, os.path.dirname(os.path.abspath(__file__))
    )
    line = json.dumps(compact)
    # "inflated" is shed LAST (and only in pathological name-length
    # cases): the per-query flags belong in the compact line, and the
    # sidecar always carries them regardless.
    for victim in ("warm_retries", "anchor", "inflation", "ingest",
                   "cold", "canary", "inflated"):
        if len(line) <= budget:
            break
        if victim in compact:
            if victim == "ingest" and isinstance(compact["ingest"], dict):
                # keep the headline ingest rates, shed the breakdown
                slim = {
                    m: compact["ingest"][m].get("files_per_sec")
                    for m in ("batch", "stream", "batch_warm", "stream_warm")
                    if isinstance(compact["ingest"].get(m), dict)
                }
                compact["ingest"] = slim or None
            else:
                del compact[victim]
            line = json.dumps(compact)
    return line


def record_query_floors(
    sf_key: str, timings: dict[str, float], flagged: bool, inflated: list[str]
) -> None:
    """Fold this sweep's warm readings into the rolling per-query
    history — UNLESS any detector flagged the sweep (a loaded sweep
    must not ratchet the quiet floors upward, the same hygiene rule
    as the canary history). A query the warm retry left ``inflated``
    is skipped even in an unflagged sweep, for the same reason."""
    if flagged:
        return
    store = _query_floor_store()
    per_sf = store.setdefault(sf_key, {})
    for q, t in timings.items():
        if q not in inflated:
            per_sf[q] = (per_sf.get(q, []) + [t])[-_QUERY_FLOOR_MAX:]
    try:
        with open(_QUERY_FLOOR_FILE, "w") as f:
            json.dump(store, f)
    except OSError:
        pass  # read-only checkout: detector degrades to session-local


# --- ingest-path benchmark -------------------------------------------
#
# The reference's actual workload is the loader cron pass
# (loader.py:22-86): landed CSV files → metadata parse → Raw/QC route
# → DB append → archive/quarantine move. bench.py's query section
# never touched that surface; this section lands N synthetic
# residential files and drives BOTH ingest modes end-to-end
# (parse → route → append → apply_pending_moves), reporting files/sec
# and rows/sec for each.

_INGEST_FILES = 200
_INGEST_ROWS = 400
_INGEST_BAD_EVERY = 25  # every 25th file is malformed → quarantine


def _gen_landing(landing: str, n_files: int, rows_per_file: int) -> dict:
    """Deterministic residential-format landing dir (no RNG): 37
    sites, 1-in-5 QC-flagged, 1-in-25 malformed (quarantine path)."""
    from datetime import datetime, timedelta

    os.makedirs(landing, exist_ok=True)
    t0 = datetime(2021, 3, 1)
    good = bad = rows = 0
    for i in range(n_files):
        path = os.path.join(landing, f"f{i:05d}.csv")
        if _INGEST_BAD_EVERY and i % _INGEST_BAD_EVERY == _INGEST_BAD_EVERY - 1:
            with open(path, "w") as f:
                f.write("not,a,residential\nheader,file,at all\n")
            bad += 1
            continue
        site = 1000 + (i % 37)
        qc = "QC" if i % 5 == 0 else ""
        out = [
            f"Site #: {site:04d}{qc}",
            f"Datalogger #: {i % 11:04d}",
            "Meter #: 0001",
            "Time,Pulses",
        ]
        base = t0 + timedelta(hours=i)
        out.extend(
            f"{base + timedelta(seconds=4 * r):%Y-%m-%d %H:%M:%S},{r % 7}"
            for r in range(rows_per_file)
        )
        with open(path, "w") as f:
            f.write("\n".join(out) + "\n")
        good += 1
        rows += rows_per_file
    return {"files": n_files, "good_files": good, "bad_files": bad, "rows": rows}


def bench_ingest(
    spark, workdir: str, n_files: int = _INGEST_FILES,
    rows_per_file: int = _INGEST_ROWS,
) -> dict:
    """Time one cron-equivalent ingest pass in batch form and one in
    availableNow-streaming form over identical landing dirs. Each mode
    covers the full reference lifecycle: parse → Raw/QC route →
    partitioned append (+ quarantine/ingest manifests) →
    executor-side archive/quarantine moves."""
    from ciws_server_spark.sources import residential, sinks
    from ciws_server_spark.streaming.ingest import run_ingest_pass

    out: dict = {}
    # r15 measurement fix (declared in OPTIMIZATION_r15.md): each mode
    # is timed TWICE over identical fresh landing dirs in one JVM. The
    # first pass keeps the r13/r14 keys' longitudinal meaning (single
    # cold shot — it pays first-use codegen/JIT of the whole ingest
    # plan, exactly what those rounds recorded); the "<mode>_warm"
    # keys record the second pass, the steady-state rate a cron
    # process actually sustains (the query section's best-of-2 has
    # embodied the same guide-§1 principle since r1; profiled: the
    # cold/warm gap is ~5× on this path, tmp/INGEST_PHASES_R15.json).
    for mode in ("batch", "stream"):
        for attempt, key in ((0, mode), (1, f"{mode}_warm")):
            root = os.path.join(workdir, f"{mode}{attempt}")
            landing = os.path.join(root, "landing")
            tables = os.path.join(root, "tables")
            stats = _gen_landing(landing, n_files, rows_per_file)
            archive = os.path.join(root, "archive")
            quar = os.path.join(root, "quar")

            t0 = time.perf_counter()
            if mode == "batch":
                points, manifest = residential.parse(spark, landing)
                sinks.route_residential(points, manifest, tables, batch_id=0)
                sinks.apply_pending_moves(spark, tables, archive, quar)
            else:
                run_ingest_pass(
                    spark, landing, tables, os.path.join(root, "ckpt"),
                    archive_dir=archive, quarantine_dir=quar,
                )
            elapsed = time.perf_counter() - t0

            n_arch = len(os.listdir(archive))
            n_quar = len(os.listdir(quar))
            if n_arch != stats["good_files"] or n_quar != stats["bad_files"]:
                raise AssertionError(
                    f"ingest {key}: archived {n_arch}/{stats['good_files']}, "
                    f"quarantined {n_quar}/{stats['bad_files']}"
                )
            out[key] = {
                "sec": round(elapsed, 3),
                "files_per_sec": round(stats["files"] / elapsed, 1),
                "rows_per_sec": round(stats["rows"] / elapsed, 1),
            }
            print(
                f"# ingest/{key}: {elapsed:.3f}s "
                f"({out[key]['files_per_sec']} files/s, "
                f"{out[key]['rows_per_sec']} rows/s)",
                file=sys.stderr,
            )
    out.update(files=n_files, rows_per_file=rows_per_file)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    # best-of-2 by default: the first execution of a query pays
    # one-time codegen/JIT compilation that is not the query's cost
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument(
        "--no-ingest", action="store_true",
        help="skip the ingest-path benchmark section",
    )
    ap.add_argument(
        "--ingest-only", action="store_true",
        help="run ONLY the ingest-path benchmark (fresh-JVM ingest "
        "decade protocol; query timings omitted)",
    )
    ap.add_argument("--ingest-files", type=int, default=_INGEST_FILES)
    ap.add_argument("--ingest-rows", type=int, default=_INGEST_ROWS)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from ciws_server_spark.session import get_spark

    spark = get_spark("ciws-bench")
    if args.queries:
        cat, _ = catalog_queries()
        qs = {n: cat[n] for n in args.queries}
    else:
        qs = headline_queries()

    # Warm the JVM (codegen, parquet reader, Arrow path), the Python
    # worker pool (pandas stages reuse workers), and the file listing
    # so timings measure the queries, not first-use startup.
    spark.range(1).count()
    import pandas as _pd

    spark.range(64).repartition(8).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()
    from ciws_server_spark.tables import TABLE_NAMES, table

    for t in TABLE_NAMES:
        table(spark, args.sf_dir, t).count()

    canary_pre, _ = canary_guard(spark)
    print(
        f"# canary(pre): {canary_pre['sec']:.3f}s "
        f"(floor {canary_pre['floor_sec']:.3f}s"
        f"{', LOADED BOX' if canary_pre['loaded'] else ''})",
        file=sys.stderr,
    )

    sf = _sf_of(args.sf_dir)
    sf_key = _history_key(sf)
    floors_at_start = _query_floor_store().get(sf_key, {})
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    inflated: list[str] = []
    warm_reps: dict[str, list] = {}
    if args.ingest_only:
        qs = {}

    def anchor_pair() -> tuple:
        return (
            _spark_anchor_time(spark, args.sf_dir),
            _duckdb_anchor_time(args.sf_dir),
        )

    anchor_windows: dict[str, tuple] = {}
    anchor_err = None
    try:
        anchor_windows["pre"] = anchor_pair()
    except Exception as exc:  # noqa: BLE001 — anchor must not kill bench
        anchor_err = f"{type(exc).__name__}: {exc}"
    mid_at = len(qs) // 2 if len(qs) >= 4 else -1
    for q_idx, (name, fn) in enumerate(qs.items()):
        def run_once() -> float:
            t0 = time.perf_counter()
            # Force full evaluation of every column without driver
            # transfer: aggregate a cheap hash over the result.
            df = fn(spark, args.sf_dir)
            df.selectExpr(
                "count(*) AS n",
                f"bit_xor(xxhash64({', '.join(df.columns)})) AS h",
            ).collect()
            return time.perf_counter() - t0

        # warm = best of the runs AFTER the first: the cold reading is
        # never reused as the warm number, so the two are always
        # independent measurements (r10's dedup_exact artifact showed
        # warm == cold from a single aliased reading — judge ask #6).
        # repeat=1 still measures warm, with one extra execution.
        n_warm = max(args.repeat - 1, 1)
        # first run pays per-query codegen/JIT; reported separately so
        # startup-heavy regressions stay visible
        cold[name] = round(run_once(), 3)
        reps = [run_once() for _ in range(n_warm)]
        best = min(reps)
        # dirty-window response (r16, VERDICT r15 ask #2): one extra
        # rep when the warm best reads >2× this query's quiet floor,
        # then a per-query `inflated` flag if it STILL does — PERF can
        # separate a transient co-tenant spike from a real regression
        # without losing a single reading (all reps in the sidecar).
        retry, floor = warm_retry_needed(best, floors_at_start.get(name) or [])
        if retry:
            pre_retry = best
            reps.append(run_once())
            best = min(best, reps[-1])
            warm_reps[name] = [round(r, 3) for r in reps]
            if best > _RETRY_INFLATION_FACTOR * floor:
                inflated.append(name)
            print(
                f"# {name}: warm {pre_retry:.3f}s > 2× floor "
                f"{floor:.3f}s — retried ({reps[-1]:.3f}s)"
                f"{', still INFLATED' if name in inflated else ''}",
                file=sys.stderr,
            )
        timings[name] = round(best, 3)
        print(
            f"# {name}: {timings[name]:.3f}s (cold {cold[name]:.3f}s)",
            file=sys.stderr,
        )
        if q_idx + 1 == mid_at:
            try:
                anchor_windows["mid"] = anchor_pair()
            except Exception as exc:  # noqa: BLE001
                anchor_err = anchor_err or f"{type(exc).__name__}: {exc}"

    canary_post, _ = canary_guard(spark)
    print(f"# canary(post): {canary_post['sec']:.3f}s", file=sys.stderr)

    try:
        anchor_windows["post"] = anchor_pair()
        anchor = anchors_report(args.sf_dir, anchor_windows)
    except Exception as exc:  # noqa: BLE001 — anchor must not kill bench
        anchor = {"error": anchor_err or f"{type(exc).__name__}: {exc}"}
    if "regime_index" in anchor:
        wins = " ".join(
            f"{k}={w['regime_index']:.3f}"
            for k, w in anchor["windows"].items()
        )
        print(
            f"# anchor windows: {wins} (floors spark "
            f"{anchor['spark_floor_sec']:.3f}s / duckdb "
            f"{anchor['duckdb_floor_sec']:.3f}s) → regime index "
            f"{anchor['regime_index']:.3f}",
            file=sys.stderr,
        )

    # the queries themselves as the canary (r12 §54 lesson): median
    # per-query inflation vs the pinned quiet floors
    inflation = detect_uniform_inflation(timings, floors_at_start)
    load_suspect = (
        canary_pre["loaded"]
        or canary_post["loaded"]
        or inflation["loaded"]
    )
    record_query_floors(sf_key, timings, load_suspect, inflated)
    if inflation["median_inflation"] is not None:
        print(
            f"# query-floor inflation: median "
            f"{inflation['median_inflation']:.3f}× over "
            f"{inflation['n_compared']} queries"
            f"{' — artifact stamped load_suspect' if inflation['loaded'] else ''}",
            file=sys.stderr,
        )
    if load_suspect:
        print("# artifact stamped load_suspect", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "sf": sf,
        "canary": {
            "pre_sec": canary_pre["sec"],
            "post_sec": canary_post["sec"],
            "floor_sec": canary_post["floor_sec"],
            "threshold": _CANARY_THRESHOLD,
        },
        "load_suspect": load_suspect,
        # per-query dirty-window flags (r16): queries whose warm best
        # stayed >2× their quiet floor even after the bounded retry —
        # with load_suspect these let PERF separate transient spikes
        # from real regressions query by query. All retry readings are
        # in the sidecar under warm_retries.
        "inflated": sorted(inflated),
        "warm_retries": warm_reps,
        "inflation": inflation,
        "anchor": anchor,
    }
    # headline corrected to the box's recent-norm regime by a ROBUST
    # central estimate (never the max anchor window — r13 judge
    # finding). "value" stays the RAW warm total; when raw moves
    # round-over-round but value_normalized doesn't, the shift was
    # ambient, not code.
    result["value_normalized"], result["normalizer"] = (
        normalized_headline(total, inflation, anchor)
    )
    print(
        f"# raw warm total {total:.3f}s, normalized "
        f"{result['value_normalized']:.3f}s "
        f"(denom {result['normalizer']['denominator']} from "
        f"{result['normalizer']['source']})",
        file=sys.stderr,
    )
    # explicitly-named queries = a focused query rerun; the ingest
    # section only runs on the full default sweep (or alone, below).
    # An ingest failure must NOT discard the already-measured query
    # timings — the contract is one parseable JSON line regardless.
    if not args.no_ingest and (args.ingest_only or not args.queries):
        import tempfile
        import traceback

        try:
            with tempfile.TemporaryDirectory(prefix="ciws-ingest-bench-") as wd:
                result["ingest"] = bench_ingest(
                    spark, wd, args.ingest_files, args.ingest_rows
                )
        except Exception as exc:  # noqa: BLE001 — reported, not hidden
            traceback.print_exc(file=sys.stderr)
            result["ingest"] = {"error": f"{type(exc).__name__}: {exc}"}
    # one PARSEABLE line: the driver keeps only the last 2000 chars
    # of stdout, so the full artifact goes to tmp/BENCH_FULL.json and
    # stdout carries a compact line that fits the window
    print(emit_result(result))


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


if __name__ == "__main__":
    main()
