"""The two serving-path workloads.

Each workload builds a fresh seeded store (:meth:`setup`), then yields
an endless, seeded stream of operations (:meth:`ops`). An operation is
run by the closed-loop client in ``run.py``, which calls the engine's
public entry points directly — ``InfluxHTTPApi.handle_query``,
``handle_query_chunked`` and ``handle_write``,
``streaming.ingest.run_ingest_pass`` and ``sinks.auto_compact`` — with
no socket and no serving thread. Each operation returns what the
client received; :meth:`verify` checks it against the generator's
prediction once its latency is taken (``run.py`` leaves checking time
out of the timed wall).
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from perfbench import gen


@dataclass
class Op:
    """One client operation: ``run()`` performs it and returns the
    payload :meth:`Workload.verify` checks."""

    kind: str  # panel | raw | fleet | export | write | read | tick | pass
    cat: str  # query | write | tick | pass: the layer family it drives
    run: Callable[[], object] | None
    expect: dict = field(default_factory=dict)
    rows: int = 0  # result rows (queries) or points (writes, passes)
    nbytes: int = 0  # response body bytes


def store_bytes(table_root: str) -> int:
    """Bytes of the Spark-visible files in a table's live snapshot."""
    from ciws_server_spark.sources import sinks

    return sum(size for _path, size in sinks._visible_file_set(table_root))


def _series_rows(body: dict) -> list:
    rows = []
    for res in body.get("results", []):
        for s in res.get("series", []) or []:
            rows.extend(s["values"])
    return rows


def _body_error(body: dict) -> str | None:
    for res in body.get("results", []):
        if "error" in res:
            return res["error"]
    return body.get("error")


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)


def _check_range(rows: list, expect: tuple) -> str | None:
    n, first, last, total = expect
    if len(rows) != n:
        return f"{len(rows)} rows, expected {n}"
    if rows[0][0] != first or rows[-1][0] != last:
        return f"time span {rows[0][0]}..{rows[-1][0]}, expected {first}..{last}"
    got = sum(r[1] for r in rows)
    if not _close(got, total):
        return f"value sum {got!r}, expected {total!r}"
    return None


def _check_panel(rows: list, expect: list) -> str | None:
    if len(rows) != len(expect):
        return f"{len(rows)} buckets, expected {len(expect)}"
    for (t, v), (et, ev) in zip(rows, expect):
        if t != et or v is None or not _close(v, ev):
            return f"bucket {t}={v!r}, expected {et}={ev!r}"
    return None


class Workload:
    name = ""
    primary = ""  # the operation kind op_p50_ms is taken over
    CYCLE_OPS = 1  # operations per repetition of the workload's exact mix
    CYCLE_S = 1.0  # seconds one cycle takes on the 4-core reference box
    WARMUP_CYCLES = 1  # untimed cycles before the timed phase
    table = "campus_flow"

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.table_dir = None

    def setup(self, root: str) -> None:
        raise NotImplementedError

    def ops(self):
        raise NotImplementedError

    def verify(self, op: Op, payload) -> str | None:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []

    def points(self) -> int:
        raise NotImplementedError

    def bytes_on_disk(self) -> int:
        return store_bytes(os.path.join(self.table_dir, self.table))

    def visible_files(self) -> int:
        from ciws_server_spark.sources import sinks

        return sinks.table_file_count(self.table_dir, self.table)

    # ---------------------------------------------------------- helpers

    def _seed_store(self, table_dir: str, days: int) -> None:
        """``days`` building-days per building from ``spark.range``, one
        parquet file per (buildingID, date) partition — the layout a
        compaction leaves — values from :func:`gen.flow_rate_column`."""
        from pyspark.sql import functions as F

        from ciws_server_spark.sources import sinks

        per = days * gen.STEPS_PER_DAY
        idx = F.col("id")
        b, k = (idx / per).cast("long"), idx % per
        df = self.spark.range(
            0, gen.N_BUILDINGS * per, numPartitions=gen.N_BUILDINGS
        ).select(
            F.timestamp_seconds(F.lit(gen.EPOCH0) + k * gen.STEP_S).alias("time"),
            F.format_string("B%02d", b + 1).alias("buildingID"),
            gen.flow_rate_column(self.seed, b, k).alias("flowRate"),
        )
        sinks.append_points(df, table_dir, "campus_flow")

    def _query(self, api, q: str, op: Op):
        status, body = api.handle_query({"q": q})
        op.nbytes = len(json.dumps(body))
        return status, body

    def _verify_query(self, payload) -> tuple[str | None, list]:
        status, body = payload
        if status != 200:
            return f"status {status}", []
        err = _body_error(body)
        if err:
            return f"in-body error: {err}", []
        return None, _series_rows(body)


class DashboardQuery(Workload):
    """Read-only serving path over a compacted-layout store."""

    name = "dashboard_query"
    primary = "panel"
    CYCLE_OPS = len(gen.DASHBOARD_CYCLE)
    CYCLE_S = 6.0
    DAYS = 6

    def setup(self, root: str) -> None:
        from ciws_server_spark.sources.http_api import InfluxHTTPApi

        self.table_dir = os.path.join(root, "tables")
        self._seed_store(self.table_dir, self.DAYS)
        self.api = InfluxHTTPApi(self.spark, self.table_dir)

    def points(self) -> int:
        return gen.N_BUILDINGS * self.DAYS * gen.STEPS_PER_DAY

    def ops(self):
        for kind, q, expect in gen.dashboard_ops(self.seed, self.DAYS):
            op = Op(kind, "query", None, expect=expect)
            op.run = self._export(q, op) if kind == "export" else (
                lambda q=q, op=op: self._query(self.api, q, op)
            )
            yield op

    def _export(self, q: str, op: Op):
        def run():
            status, chunks = self.api.handle_query_chunked(
                {"q": q, "chunked": "true", "chunk_size": "10000"}
            )
            bodies = []
            for env in chunks:
                op.nbytes += len(json.dumps(env)) + 1
                bodies.append(env)
            return status, {"results": [r for b in bodies for r in b["results"]]}

        return run

    def verify(self, op: Op, payload) -> str | None:
        err, rows = self._verify_query(payload)
        if err:
            return err
        op.rows = len(rows)
        if "panel" in op.expect:
            b, day = op.expect["panel"]
            return _check_panel(
                rows,
                gen.expected_panel(
                    self.seed, b, day, (day + 1) * gen.STEPS_PER_DAY
                ),
            )
        if "range" in op.expect:
            b, k0, k1 = op.expect["range"]
            return _check_range(rows, gen.expected_range(self.seed, b, k0, k1))
        last = op.expect["fleet"]
        want = {
            gen.building_id(b): gen.flow_rate(self.seed, b, last)
            for b in range(gen.N_BUILDINGS)
        }
        got = {r[0]: r[1] for r in rows}
        if len(rows) != len(want) or got != want:
            return f"fleet last() {sorted(got.items())[:3]}..., expected {sorted(want.items())[:3]}..."
        return None


class WriteIngest(Workload):
    """The two data-arrival paths on one store: 2000-point ``/write``
    batches, each followed by a panel read of the day being written; a
    maintenance tick (``sinks.auto_compact``, what ``python -m
    ciws_server_spark tick`` runs) every CYCLE writes; and, once per
    cycle, the cron loader's pass — 25 residential CSVs landed untimed,
    then one ``run_ingest_pass`` with archive and quarantine moves."""

    name = "write_ingest"
    primary = "write"
    SEED_DAYS = 1
    CYCLE = 2  # writes per maintenance tick and per ingest pass
    CYCLE_OPS = 2 * CYCLE + 2
    CYCLE_S = 7.5
    WARMUP_CYCLES = 2
    # seeded day (20 files) + CYCLE writes (20 files each) reaches the
    # threshold, so every tick compacts campus_flow back to 2 files per
    # building. A pass adds 19 raw_data files (one per site), so
    # raw_data stays under it for 3 passes; at --seconds 12 (two warm-up
    # and two timed cycles) a run's last tick comes before its fourth
    # pass, so no tick compacts the residential tables, whatever the
    # seed.
    TICK_THRESHOLD = gen.N_BUILDINGS * (1 + CYCLE)
    RESIDENTIAL = ("raw_data", "qc_data")

    def setup(self, root: str) -> None:
        from ciws_server_spark.sources.http_api import InfluxHTTPApi

        self.table_dir = os.path.join(root, "tables")
        self._seed_store(self.table_dir, self.SEED_DAYS)
        self.api = InfluxHTTPApi(self.spark, self.table_dir)
        self.dirs = {
            k: os.path.join(root, k)
            for k in ("landing", "ckpt", "archive", "quarantine")
        }
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.writes = self.passes = 0
        self.expected = {"raw_data": 0, "qc_data": 0, "archive": 0, "quarantine": 0}

    def campus_points(self) -> int:
        return (
            gen.N_BUILDINGS * self.SEED_DAYS * gen.STEPS_PER_DAY
            + self.writes * gen.WRITE_STEPS * gen.N_BUILDINGS
        )

    def points(self) -> int:
        return self.campus_points() + sum(self.expected[t] for t in self.RESIDENTIAL)

    def bytes_on_disk(self) -> int:
        return sum(
            store_bytes(os.path.join(self.table_dir, t))
            for t in (self.table, *self.RESIDENTIAL)
        )

    def ops(self):
        from ciws_server_spark.sources import sinks

        live = self.SEED_DAYS * gen.STEPS_PER_DAY
        w = 0
        while True:
            body = gen.write_body(self.seed, live + w * gen.WRITE_STEPS)
            op = Op("write", "write", None, rows=gen.WRITE_STEPS * gen.N_BUILDINGS)
            op.run = lambda body=body: self._write(body)
            yield op
            b = gen.read_building(self.seed, w)
            n_steps = live + (w + 1) * gen.WRITE_STEPS
            op = Op("read", "query", None, expect={"panel": (b, n_steps)})
            op.run = lambda q=gen.panel_query(b, self.SEED_DAYS), op=op: (
                self._query(self.api, q, op)
            )
            yield op
            w += 1
            if w % self.CYCLE == 0:
                yield Op(
                    "tick", "tick",
                    lambda: sinks.auto_compact(
                        self.spark, self.table_dir, self.TICK_THRESHOLD
                    ),
                )
                self._land(self.passes)
                rows = (gen.CSV_FILES_PER_PASS - gen.CSV_BAD_PER_PASS) * gen.CSV_ROWS
                yield Op("pass", "pass", self._pass, expect=dict(self.expected),
                         rows=rows)

    def _write(self, body: bytes):
        status, resp = self.api.handle_write({"precision": "s"}, body)
        if status == 204:
            self.writes += 1
        return status, resp

    def _land(self, pass_no: int) -> None:
        for f in gen.residential_batch(self.seed, pass_no):
            with open(os.path.join(self.dirs["landing"], f.name), "w") as fh:
                fh.write(f.text)
            if f.bad:
                self.expected["quarantine"] += 1
            else:
                self.expected["archive"] += 1
                self.expected["qc_data" if f.qc else "raw_data"] += gen.CSV_ROWS

    def _pass(self):
        from ciws_server_spark.streaming import ingest

        ingest.run_ingest_pass(
            self.spark,
            self.dirs["landing"],
            self.table_dir,
            self.dirs["ckpt"],
            archive_dir=self.dirs["archive"],
            quarantine_dir=self.dirs["quarantine"],
        )
        self.passes += 1
        return {
            k: len(os.listdir(self.dirs[k]))
            for k in ("landing", "archive", "quarantine")
        }

    def verify(self, op: Op, payload) -> str | None:
        if op.kind == "write":
            status, resp = payload
            return None if status == 204 else f"status {status}: {resp}"
        if op.kind == "tick":
            n = payload.get(self.table)
            return None if n == 2 * gen.N_BUILDINGS else f"tick compacted to {payload}"
        if op.kind == "pass":
            want = {
                "landing": 0,
                "archive": op.expect["archive"],
                "quarantine": op.expect["quarantine"],
            }
            return None if payload == want else f"file moves {payload}, expected {want}"
        err, rows = self._verify_query(payload)
        if err:
            return err
        op.rows = len(rows)
        b, n_steps = op.expect["panel"]
        return _check_panel(
            rows, gen.expected_panel(self.seed, b, self.SEED_DAYS, n_steps)
        )

    def final_check(self) -> list[str]:
        from ciws_server_spark.sources import sinks

        errs = []
        want = {self.table: self.campus_points(),
                **{t: self.expected[t] for t in self.RESIDENTIAL}}
        for t, n_want in want.items():
            n = sinks.read_table(self.spark, self.table_dir, t).count()
            if n != n_want:
                errs.append(f"{t} holds {n} rows, expected {n_want}")
        return errs


WORKLOADS = {w.name: w for w in (DashboardQuery, WriteIngest)}
