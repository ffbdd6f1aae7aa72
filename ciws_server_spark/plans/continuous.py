"""InfluxQL continuous queries: the scheduled downsampling loop.

The reference's deployment story is an InfluxDB server where rollups
are kept fresh by continuous queries (the standard InfluxDB pattern
for the dashboards its scripts feed; the engine side of the feature —
``SELECT ... INTO ... GROUP BY time(x)`` — already exists as
:func:`..plans.influxql.execute_into`). This module adds the statement
surface and the scheduler state machine around it:

    CREATE CONTINUOUS QUERY <name> [ON <db>]
        [RESAMPLE [EVERY <dur>] [FOR <dur>]]
        BEGIN <select-into> END
    SHOW CONTINUOUS QUERIES
    DROP CONTINUOUS QUERY <name> [ON <db>]

and ``run_due_continuous_queries(spark, tables, table_dir, now)`` —
the tick a cron/driver loop calls. Per InfluxDB 1.x semantics a CQ
executes at each ``time(x)`` boundary for the buckets that closed
since it last ran; this implementation folds ALL pending buckets into
ONE execution by injecting ``time >= <last_end> AND time < <floor(now)>``
into the body's WHERE — the GROUP BY already splits the range into
per-bucket rows, so catching up after downtime costs one query, not
one query per missed bucket (the property that matters when a 100 TB
store restarts after a day offline).

Determinism contract: ``now`` is always an explicit argument — the
library never reads the wall clock, so tests and replays drive the
schedule to the second. State (the catalog + each CQ's high-water
``last_end``) lives in ``_continuous_queries.json`` under the table
dir, written atomically (tmp + rename, the sinks convention) so a
crash between executing and recording re-runs at most one window into
an append-only target — the same at-least-once story as the ingest
checkpoint.

Out of surface (named errors, consistent with the module's calendar
policy): calendar-unit CQ intervals (``time(1mo)``/``time(1y)``) —
the batch ``execute_into`` handles them, but scheduling them needs a
calendar clock and nobody rolls up 100 TB by-month incrementally
month-at-a-time; sub-second intervals.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

from .influxql import (
    InfluxQLError,
    _split_commas,
    _TIME_BUCKET_RE,
    _unquote,
    execute_into,
    parse,
    result_frame,
)

_CREATE_CQ_RE = re.compile(
    r"^\s*CREATE\s+CONTINUOUS\s+QUERY\s+(?P<name>\"[^\"]+\"|\w+)"
    r"(?:\s+ON\s+(?P<db>\"[^\"]+\"|\w+))?"
    r"(?:\s+RESAMPLE"
    r"(?:\s+EVERY\s+(?P<every>\d+[smhdw]))?"
    r"(?:\s+FOR\s+(?P<for>\d+[smhdw]))?"
    r")?"
    r"\s+BEGIN\s+(?P<body>.+?)\s+END\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DUR_RE = re.compile(r"^(\d+)([smhdw])$", re.IGNORECASE)
_DROP_CQ_RE = re.compile(
    r"^\s*DROP\s+CONTINUOUS\s+QUERY\s+(?P<name>\"[^\"]+\"|\w+)"
    r"(?:\s+ON\s+(?P<db>\"[^\"]+\"|\w+))?\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_CQ_RE = re.compile(
    r"^\s*SHOW\s+CONTINUOUS\s+QUERIES\s*;?\s*$", re.IGNORECASE
)

_STATE_FILE = "_continuous_queries.json"

_UNIT_S = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def _state_path(table_dir: str) -> str:
    return os.path.join(table_dir, _STATE_FILE)


def _load(table_dir: str) -> dict:
    try:
        with open(_state_path(table_dir)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _store(table_dir: str, state: dict) -> None:
    tmp = _state_path(table_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)
    os.replace(tmp, _state_path(table_dir))  # atomic on POSIX


def _cq_interval(body_match) -> tuple[int, int]:
    """(interval_s, offset_s) from the body's GROUP BY time(...)."""
    group = body_match.group("group")
    if not group:
        raise InfluxQLError("continuous query requires GROUP BY time(...)")
    for part in _split_commas(group):
        tm = _TIME_BUCKET_RE.match(part.strip())
        if not tm:
            continue
        n, unit, off_n, off_unit = tm.groups()
        if unit.lower() in ("mo", "y") or (
            off_unit and off_unit.lower() in ("mo", "y")
        ):
            raise InfluxQLError(
                "calendar-unit continuous queries are not supported;"
                " run the INTO statement directly for month/year rollups"
            )
        interval = int(n) * _UNIT_S[unit.lower()]
        offset = int(off_n) * _UNIT_S[off_unit.lower()] if off_n else 0
        return interval, offset
    raise InfluxQLError("continuous query requires GROUP BY time(...)")


def _floor_epoch(ts: datetime, interval_s: int, offset_s: int) -> int:
    """Epoch-grid bucket floor (InfluxQL alignment: the epoch itself
    anchors every fixed-duration unit, weeks included). Fed a WALL
    naive datetime (tz CQs), the same arithmetic floors on the local
    wall-clock grid — exactly the grid ``_bucket_expr`` floors on."""
    epoch = int(ts.replace(tzinfo=timezone.utc).timestamp())
    return ((epoch - offset_s) // interval_s) * interval_s + offset_s


def _wall(ts: datetime, tz: str | None) -> datetime:
    """UTC-naive → zone wall-clock naive (identity without tz). Total
    and unambiguous: every instant has one wall time in a zone."""
    if not tz:
        return ts
    from zoneinfo import ZoneInfo

    return (
        ts.replace(tzinfo=timezone.utc)
        .astimezone(ZoneInfo(tz))
        .replace(tzinfo=None)
    )


def _wall_to_utc(s: str, tz: str | None) -> str:
    """Wall-clock boundary string → UTC instant string (identity
    without tz). Bucket boundaries are floor values (midnights / hour
    starts), so the DST-ambiguous fold only matters for sub-day
    intervals in the one repeated hour per year; fold=0 matches the
    JVM's earlier-offset convention used by ``to_utc_timestamp``."""
    if not tz:
        return s
    from zoneinfo import ZoneInfo

    d = datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
    return (
        d.replace(tzinfo=ZoneInfo(tz))
        .astimezone(timezone.utc)
        .strftime("%Y-%m-%d %H:%M:%S")
    )


def _fmt(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def _inject_time_range(body: str, m, lo: str, hi: str) -> str:
    """Return the body with ``time >= lo AND time < hi`` folded into
    its WHERE (span surgery on the already-validated match, so the
    rewrite can't disagree with what the translator will parse)."""
    clause = f"time >= '{lo}' AND time < '{hi}'"
    if m.group("where"):
        s, e = m.span("where")
        return f"{body[:s]}({body[s:e]}) AND {clause}{body[e:]}"
    s, _ = m.span("group")
    # group is guaranteed present (validated at CREATE); WHERE slots
    # immediately before "GROUP BY", whose span starts at the keyword.
    g = body.upper().rindex("GROUP BY", 0, s)
    return f"{body[:g]}WHERE {clause} {body[g:]}"


def create_continuous_query(
    cm: re.Match, table_dir: str, now: datetime, database: str | None = None
) -> str:
    """Validate a matched CREATE CONTINUOUS QUERY and persist it.

    The CQ starts from the bucket boundary at or before ``now`` —
    history before creation is the batch INTO statement's job, matching
    InfluxDB (CQs only run forward from creation).
    """
    if now is None:
        raise InfluxQLError(
            "CREATE CONTINUOUS QUERY requires now= (deterministic clock)"
        )
    name = _unquote(cm.group("name"))
    if cm.group("db") is not None and database is not None:
        if _unquote(cm.group("db")) != database:
            raise InfluxQLError(
                f"unknown database: {_unquote(cm.group('db'))!r}"
            )
    body = cm.group("body").strip()
    stmt = parse(body)
    bm = stmt.match if stmt.kind in ("select", "into") else None
    if not bm:
        raise InfluxQLError(f"unparseable CQ body: {body!r}")
    if stmt.kind != "into":
        raise InfluxQLError("continuous query body must contain INTO")
    interval_s, offset_s = _cq_interval(bm)

    def dur(group: str) -> int | None:
        tok = cm.group(group)
        if not tok:
            return None
        dm = _DUR_RE.match(tok)
        return int(dm.group(1)) * _UNIT_S[dm.group(2).lower()]

    every_s, for_s = dur("every"), dur("for")
    if for_s is not None and for_s < interval_s:
        raise InfluxQLError(
            "RESAMPLE FOR must cover at least one GROUP BY time interval"
        )
    # tz('Zone') in the body: bucket boundaries live on the LOCAL
    # wall-clock grid, so the CQ's data windows must floor there too
    # (injected plain literals are parsed as zone-local by the
    # translator — wall strings are self-consistent end to end).
    # Validate the zone HERE so a bad CQ fails at CREATE, not at tick.
    cq_tz = bm.group("tz")
    if cq_tz:
        try:
            from zoneinfo import ZoneInfo

            ZoneInfo(cq_tz)
        except Exception:
            raise InfluxQLError(f"unknown time zone: {cq_tz!r}") from None
    state = _load(table_dir)
    if name in state:
        raise InfluxQLError(f"continuous query already exists: {name!r}")
    state[name] = {
        "statement": " ".join(cm.string.split()),
        "query": body,
        "database": _unquote(cm.group("db")) if cm.group("db") else None,
        "interval_s": interval_s,
        "offset_s": offset_s,
        "every_s": every_s,  # None → tick at the GROUP BY interval
        "for_s": for_s,  # None → append-only forward fill
        "tz": cq_tz,  # None → epoch-grid windows (pre-tz records too)
        # last_end is a WINDOW BOUNDARY: wall-clock string for tz CQs
        "last_end": _fmt(_floor_epoch(_wall(now, cq_tz), interval_s, offset_s)),
        # last_tick is SCHEDULING: always UTC epoch cadence
        "last_tick": _fmt(
            _floor_epoch(now, every_s or interval_s, 0)
        ),
    }
    _store(table_dir, state)
    return name


def drop_continuous_query(dm: re.Match, table_dir: str) -> bool:
    name = _unquote(dm.group("name"))
    state = _load(table_dir)
    if name not in state:
        return False
    del state[name]
    _store(table_dir, state)
    return True


def show_continuous_queries(spark, table_dir: str):
    """SHOW CONTINUOUS QUERIES → (name, query) frame, the InfluxDB
    response shape — query is the full CREATE statement (InfluxDB
    echoes it back RESAMPLE clause and all), falling back to the bare
    body for records persisted before the statement was kept."""
    state = _load(table_dir)
    rows = [
        (n, state[n].get("statement", state[n]["query"]))
        for n in sorted(state)
    ]
    return result_frame(
        spark, rows, "name STRING NOT NULL, query STRING NOT NULL"
    )


def run_due_continuous_queries(
    spark,
    tables: dict,
    table_dir: str,
    now: datetime,
    time_col: str = "time",
) -> dict:
    """Execute every CQ whose next boundary has passed.

    Plain CQs tick at their GROUP BY interval and APPEND the buckets
    closed since the last run, as one INTO over the combined range
    (catch-up after downtime is one query). ``RESAMPLE EVERY e``
    changes the tick cadence; ``RESAMPLE FOR f`` turns the execution
    into an UPSERT of the trailing ``f`` window — the rows in
    [hi − f, hi) are deleted from the target (snapshot-protocol
    partial rewrite) and recomputed, which is how late-arriving points
    make it into the rollup.

    Returns {name: {"buckets": n, "lo": ts, "hi": ts, "mode": ...}}
    for the CQs that ran. State advances only after the write: for
    append CQs a crash between write and advance replays one window
    (at-least-once; duplicates possible until then); for FOR-resampled
    CQs the replay re-deletes and rewrites the same range, so the
    retry CONVERGES to exactly-once output — the delete makes the
    execution idempotent.
    """
    from ..sources import sinks

    # One scheduler at a time: two concurrent ticks would both read
    # the same last_end and double-append every due window (the
    # read-modify-write race the table locks can't see — they guard
    # the TARGET, not the schedule). flock like the compactor: second
    # caller skips (returns {}), the kernel releases on holder death.
    try:
        lock = sinks._flock(
            _state_path(table_dir) + ".lock", exclusive=True, blocking=False
        )
        lock.__enter__()
    except sinks.CompactorBusy:
        return {}
    try:
        return _run_due_locked(spark, tables, table_dir, now, time_col)
    finally:
        lock.__exit__(None, None, None)


def _run_due_locked(
    spark,
    tables: dict,
    table_dir: str,
    now: datetime,
    time_col: str,
) -> dict:
    state = _load(table_dir)
    ran: dict = {}
    for name in sorted(state):
        cq = state[name]
        interval_s, offset_s = cq["interval_s"], cq["offset_s"]
        every_s = cq.get("every_s") or interval_s
        for_s = cq.get("for_s")
        tick_epoch = _floor_epoch(now, every_s, 0)
        last_tick = _floor_epoch(
            datetime.strptime(
                cq.get("last_tick", cq["last_end"]), "%Y-%m-%d %H:%M:%S"
            ),
            every_s,
            0,
        )
        if tick_epoch <= last_tick:
            continue  # cadence boundary not crossed yet
        # window boundaries float on the WALL grid for tz CQs (see
        # create_continuous_query) — the naive arithmetic below is
        # then local-grid arithmetic, incl. the FOR subtraction
        # (a DST day is still 86400 naive seconds on the wall axis)
        tz = cq.get("tz")
        hi_epoch = _floor_epoch(_wall(now, tz), interval_s, offset_s)
        last_end_epoch = _floor_epoch(
            datetime.strptime(cq["last_end"], "%Y-%m-%d %H:%M:%S"),
            interval_s,
            offset_s,
        )
        if for_s is not None:
            lo_epoch = _floor_epoch(
                datetime.fromtimestamp(
                    hi_epoch - for_s, tz=timezone.utc
                ).replace(tzinfo=None),
                interval_s,
                offset_s,
            )
        else:
            lo_epoch = last_end_epoch
        if hi_epoch <= lo_epoch:
            continue  # no closed bucket in range
        lo, hi = _fmt(lo_epoch), _fmt(hi_epoch)
        stmt = parse(cq["query"])
        if for_s is not None:
            # the TARGET holds UTC instants — convert the wall-clock
            # recompute window before deleting from it
            _delete_target_range(
                spark, table_dir, _unquote(stmt.into),
                _wall_to_utc(lo, tz), _wall_to_utc(hi, tz), time_col,
            )
        bounded = _inject_time_range(cq["query"], stmt.match, lo, hi)
        execute_into(spark, tables, bounded, table_dir, time_col)
        cq["last_end"] = hi
        cq["last_tick"] = _fmt(tick_epoch)
        _store(table_dir, state)  # per-CQ advance: a later CQ's crash
        ran[name] = {
            "buckets": (hi_epoch - lo_epoch) // interval_s,
            "lo": lo,
            "hi": hi,
            "mode": "resample" if for_s is not None else "append",
        }  # must not rewind an earlier CQ's recorded progress
    return ran


def _delete_target_range(
    spark, table_dir: str, target: str, lo: str, hi: str, time_col: str
) -> None:
    """Drop the recompute window from the rollup target before the
    rewrite (no-op when the target has never been written)."""
    from pyspark.sql import functions as F

    from ..sources import sinks

    if not os.path.lexists(os.path.join(table_dir, target)):
        return
    sinks.delete_points(
        spark,
        table_dir,
        target,
        (F.col(time_col) >= F.lit(lo).cast("timestamp"))
        & (F.col(time_col) < F.lit(hi).cast("timestamp")),
    )
