"""InfluxDB 1.x HTTP wire API: /ping, /query, /write.

The reference's clients never speak InfluxQL text directly — they go
through influxdb-python, which speaks THIS protocol
(``GET /query?q=...&db=...&u=...&p=...``, ``POST /write`` with
line-protocol body, ``GET /ping``). Implementing the wire contract is
what makes the engine a literal drop-in for those clients.

Per the upload.py convention, the HTTP *front* stays engine-external:
the engine-owned pieces are the HANDLER functions
(:class:`InfluxHTTPApi` — pure request-params → (status, body)
logic, unit-testable without sockets), plus :func:`serve`, a stdlib
``http.server`` shim for tests and dev deployments.

Wire semantics implemented (and their mapping):

* ``/query`` — ``q`` may hold multiple ``;``-separated statements
  (quote-aware split). Both modes share one request prelude and one
  statement runner. The prelude validates the request (``q``,
  ``epoch``, and ``chunk_size`` when chunked), parses each statement
  once (:func:`~..plans.influxql.parse`) and authorizes EVERY parsed
  statement for ``u``/``p`` against the request's database (the
  ``db`` parameter, else the API's configured database, else the
  store's registered one) before ANY statement runs, so a bad
  parameter is a 400 and an authentication / privilege failure a
  401 / 403 (upstream's HTTP codes) with nothing executed. The runner
  then runs each parsed statement through
  :func:`~..plans.influxql.run_influxql` and serializes it under the
  statement's series name; named errors come back
  in-body as ``{"statement_id": i, "error": ...}`` (upstream's
  runtime-error shape). DataFrame results serialize to
  the classic JSON: ``{"results": [{"statement_id": i, "series":
  [{"name", "columns", "values"}]}]}`` with ``time`` first,
  RFC3339-``Z`` timestamps (or integers per ``epoch=ns|u|ms|s|m|h``),
  and one series per measurement when the statement fanned out over
  a regex FROM. Non-frame results (DELETE counts, DROP booleans,
  CREATE acks) serialize as the empty result object, as upstream
  does for write-class statements. The default response
  materializes the result (``collect``) — LIMIT/SLIMIT are the
  client's size knobs; ``chunked=true`` (+ optional ``chunk_size``,
  default 10000) streams newline-delimited response envelopes
  backed by ``toLocalIterator`` instead, so a result larger than
  driver memory flows through without ever materializing
  (upstream's chunked shape: ``partial: true`` on a series whose
  rows continue in the next chunk).
* ``/write`` — line-protocol body; ``precision=ns|u|ms|s|m|h``
  timestamps are rescaled to nanoseconds BEFORE parsing (the parser
  is fixed-point ns, upstream's default). Field types are inferred
  per (measurement, field) from line-protocol value syntax
  (``10i``/quoted/boolean/bare float); CONFLICTING syntaxes across
  the batch are a 400 ``field type conflict`` — upstream rejects
  cross-type writes too. EVERY tag key in the batch persists as a
  string column (tags listed in ``sinks.PARTITIONING`` double as
  partition columns; the rest are plain columns — no tag is ever
  dropped). Parsed points append through the snapshot protocol
  (sinks.append_points); success is 204.
* ``/ping`` — 204, ``X-Influxdb-Version`` advertised by ``serve``.
"""

from __future__ import annotations

import json
import math
import os
import re
import time
from datetime import date, datetime, timedelta, timezone
from decimal import Decimal

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException, PySparkException
from pyspark.errors.exceptions.captured import (
    UnknownException,
    convert_exception,
)
from pyspark.sql import DataFrame, functions as F

from ..plans import users
from ..plans.influxql import (
    InfluxQLError,
    Statement,
    parse,
    registered_database,
    run_influxql,
)
from ..plans.line_protocol import (
    FieldTypeConflict,
    body_shape,
    measurement_points,
    parse_lines,
)
from . import sinks

_PRECISION_NS = {
    "ns": 1,
    "u": 1_000,
    "us": 1_000,
    "ms": 1_000_000,
    "s": 1_000_000_000,
    "m": 60 * 1_000_000_000,
    "h": 3600 * 1_000_000_000,
}

_VERSION = "1.8-ciws-spark"

_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)

#: Statement-level retry budget for the two CONTENTION outcomes a
#: mutating statement (DELETE / DROP / retention rewrite) can hit
#: against a concurrent compactor: CompactorBusy (lock held) and
#: ConcurrentAppendDetected (optimistic-concurrency loser). Both are
#: transient by contract — upstream's wire never surfaces an internal
#: storage race as a failed query, so the front door retries with
#: backoff and only reports an in-body error once the budget is spent
#: (r12 wire-soak finding: a wire DELETE racing compaction escaped as
#: an unhandled RuntimeError).
_CONTENTION_RETRIES = 40
_CONTENTION_BACKOFF_S = 0.1

#: A read that raced a snapshot swap surfaces as Spark's
#: missing-input-file error family. With r13 snapshot-pinned reads +
#: vacuum grace this is already rare (a query would have to outlive
#: the grace window, or hit a legacy table's one-time migration);
#: the wire front door re-runs the statement against the CURRENT
#: snapshot a few times before giving up — upstream never fails a
#: query because storage maintenance happened.
_SNAPSHOT_RACE_RETRIES = 3
_SNAPSHOT_RACE_MARKERS = (
    "FILE_NOT_EXIST",
    "FileNotFoundException",
    "PATH_NOT_FOUND",
    "does not exist",
    "have been updated",
    # a table mid-CREATE/mid-DROP can flash as an empty schemaless
    # dir; transient by construction, same retry treatment
    "UNABLE_TO_INFER_SCHEMA",
    "Unable to infer schema",
    # raw OSError from a sidecar/dir walk racing a DROP's cleanup
    "No such file or directory",
)


def _is_snapshot_race(exc: BaseException) -> bool:
    return any(m in str(exc) for m in _SNAPSHOT_RACE_MARKERS)


def _spark_msg(exc: BaseException) -> str:
    """The formatting rule for Spark wire errors: the JVM message
    without the stack trace when the exception offers it."""
    return str(
        exc.getMessage() if hasattr(exc, "getMessage") else exc
    )


def _spark_error(exc: BaseException) -> PySparkException | None:
    """The Spark error ``exc`` is or wraps, as a PySpark exception, or
    None when ``exc`` is not one. A raw Py4J error is unwrapped cause
    by cause down to the first Java exception PySpark converts: an
    executor failure during a chunked drain arrives nested under the
    local-iterator server's ``awaitResult`` wrappers."""
    if isinstance(exc, PySparkException):
        return exc
    cause = exc.java_exception if isinstance(exc, Py4JJavaError) else None
    while cause is not None:
        captured = convert_exception(cause)
        if not isinstance(captured, UnknownException):
            return captured
        cause = cause.getCause()
    return None


def _statement_error(statement_id: int, exc: Exception) -> dict | None:
    """The in-body result object for a statement that failed to run
    (upstream's runtime-error shape, the same in both /query modes),
    or None when ``exc`` is not a statement failure — the caller
    re-raises it.

    A statement fails with an InfluxQLError (including the contention
    retry's "storage contention persisted", the one place that judges
    storage races) or with a Spark error: a plan Spark cannot resolve
    (AnalysisException, an invalid statement) or one that fails while
    it runs (e.g. ANSI CAST_INVALID_INPUT). Either way it is an
    in-body error, never a raised exception or a non-JSON response."""
    if isinstance(exc, InfluxQLError):
        return {"statement_id": statement_id, "error": str(exc)}
    spark_exc = _spark_error(exc)
    if spark_exc is None:
        return None
    msg = _spark_msg(spark_exc)
    if isinstance(spark_exc, AnalysisException):
        msg = f"invalid statement: {msg}"
    return {"statement_id": statement_id, "error": msg}


class _RequestError(Exception):
    """A request-level failure: the HTTP status and the error body the
    request is answered with instead of any statement result."""

    def __init__(self, status: int, msg: str):
        super().__init__(msg)
        self.status, self.body = status, {"error": msg}


def _snapshot_fingerprint(table_dir: str | None):
    """Cheap storage-movement witness: (table name → current snapshot
    version realpath) for every live table root. Any compaction /
    DELETE / DROP / CREATE that could yank files from a running scan
    changes this tuple (version numbers are monotonic, drops remove
    the name), so a marker-matching exception with an UNCHANGED
    fingerprint is a genuine user/code error, never a snapshot race
    — re-raise it instead of silently re-running the statement
    (advisor r13: the bare string markers retried real errors)."""
    if table_dir is None:
        return None
    try:
        entries = sorted(os.listdir(table_dir))
    except OSError:
        return None
    fp = []
    for e in entries:
        if "." in e or e.startswith("_"):
            continue  # locks, sidecars, root.vNNNNNN, *.tmp debris
        p = os.path.join(table_dir, e)
        if os.path.isdir(p):  # follows the snapshot symlink
            fp.append((e, os.path.realpath(p)))
    return tuple(fp)


def _run_with_contention_retry(fn, table_dir: str | None = None):
    """Run ``fn`` retrying storage-contention exceptions (compactor
    lock, optimistic-concurrency abort, snapshot-race read); re-raises
    anything else (including InfluxQLError) untouched. Contention that
    outlives its budget is raised as an InfluxQLError saying so — the
    only place a /query error is labelled contention.

    A marker-matched generic exception only counts as a snapshot race
    when the storage fingerprint MOVED while ``fn`` ran (typed check,
    r14) — otherwise the error text merely resembled one."""
    races = 0
    for attempt in range(_CONTENTION_RETRIES):
        before = _snapshot_fingerprint(table_dir)
        try:
            return fn()
        except (sinks.CompactorBusy, sinks.ConcurrentAppendDetected) as exc:
            if attempt == _CONTENTION_RETRIES - 1:
                raise InfluxQLError(
                    f"storage contention persisted: {exc}"
                ) from exc
            time.sleep(_CONTENTION_BACKOFF_S)
        except InfluxQLError:
            raise
        except Exception as exc:  # noqa: BLE001 — filtered re-raise
            if not _is_snapshot_race(exc) or (
                before is not None
                and _snapshot_fingerprint(table_dir) == before
            ):
                # no table version moved while fn ran: the message
                # matched a marker but nothing raced — genuine error
                raise
            races += 1
            if races > _SNAPSHOT_RACE_RETRIES:
                raise InfluxQLError(
                    f"storage contention persisted: {_spark_msg(exc)};"
                    " retry the statement"
                ) from exc
            time.sleep(_CONTENTION_BACKOFF_S)


def split_statements(q: str) -> list[str]:
    """Split a /query payload on ``;`` outside single-quoted strings.

    Backslash escapes inside a string literal (InfluxQL's ``\\'``)
    are skipped, so ``WHERE tag = 'it\\'s'`` doesn't flip the
    in-string state and mis-split on a later semicolon."""
    out, cur, in_q = [], [], False
    i = 0
    while i < len(q):
        ch = q[i]
        if in_q and ch == "\\" and i + 1 < len(q):
            cur.append(ch)
            cur.append(q[i + 1])
            i += 2
            continue
        if ch == "'":
            in_q = not in_q
            cur.append(ch)
        elif ch == ";" and not in_q:
            s = "".join(cur).strip()
            if s:
                out.append(s)
            cur = []
        else:
            cur.append(ch)
        i += 1
    s = "".join(cur).strip()
    if s:
        out.append(s)
    return out


def _json_time(v, epoch: str | None):
    # Spark returns session-UTC naive datetimes
    if epoch:
        div = _PRECISION_NS[epoch]  # validated by the request prelude
        ts = v.replace(tzinfo=timezone.utc)
        # floor semantics throughout: exact microsecond count from
        # the epoch (timedelta floor-division — no float round-trip,
        # correct for pre-1970 sub-second timestamps), then floor to
        # the requested precision
        ns = (ts - _EPOCH) // timedelta(microseconds=1) * 1_000
        return ns // div
    s = v.strftime("%Y-%m-%dT%H:%M:%S")
    if v.microsecond:
        s += ("%.6f" % (v.microsecond / 1e6))[1:].rstrip("0")
    return s + "Z"


def _json_value(v, epoch: str | None):
    if isinstance(v, datetime):
        return _json_time(v, epoch)
    if isinstance(v, date):
        # the derived `date` PARTITION column surfaces through
        # SELECT * — ISO text, never a json.dumps TypeError
        # (goldens-found, r12)
        return v.isoformat()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None  # JSON has no NaN/Inf; upstream omits such points
    if isinstance(v, (list, tuple)):
        return list(v)
    return v


def serialize_frame(
    df: DataFrame, name: str, statement_id: int, epoch: str | None,
    max_rows: int = 0, order_desc: bool = False,
) -> dict:
    """DataFrame → one /query result object (InfluxDB JSON shape).

    ``max_rows`` > 0 is upstream's httpd ``max-row-limit``: the
    response carries at most that many rows and the truncated series
    is stamped ``"partial": true`` (upstream's non-chunked truncation
    marker). The cap is applied as ``df.limit(max_rows + 1)`` so
    Catalyst plans a CollectLimit — the driver materializes at most
    cap+1 rows, never the unbounded result (the whole point of the
    knob: an accidental ``SELECT * FROM huge`` can't buffer the table
    on the driver). A regex fan-out result is ordered by measurement
    first when a cap is set, so the cut lands in the LAST series and
    exactly one series is marked partial, as upstream does."""
    # time first, under the wire name "time"
    ordered, out_cols, per_measurement, tkey = _frame_wire_cols(df)
    overflow_row = None
    if max_rows and max_rows > 0:
        if per_measurement:
            df = _measurement_ordered(df, tkey, order_desc)
        rows = df.limit(max_rows + 1).collect()
        truncated = len(rows) > max_rows
        if truncated:
            overflow_row = rows[max_rows]
        rows = rows[:max_rows]
    else:
        rows = df.collect()
        truncated = False

    def values_of(subset):
        return [
            [_json_value(r[c], epoch) for c in ordered] for r in subset
        ]

    if per_measurement:
        by_name: dict[str, list] = {}
        for r in rows:  # one pass; keeps row order within each series
            by_name.setdefault(r["measurement"], []).append(r)
        series = [
            {"name": mname, "columns": out_cols,
             "values": values_of(by_name[mname])}
            for mname in sorted(by_name)
        ]
    elif rows:
        series = [
            {"name": name, "columns": out_cols, "values": values_of(rows)}
        ]
    else:
        series = None
    res: dict = {"statement_id": statement_id}
    if series:
        if truncated:
            if (
                per_measurement
                and overflow_row is not None
                and overflow_row["measurement"] != series[-1]["name"]
            ):
                # the cut landed exactly ON a series boundary: the
                # last kept series is complete; the series actually
                # cut off has zero kept rows. Emit it as an empty
                # partial stub so the marker points at the truncated
                # series, not a complete one (advisor r13).
                series.append(
                    {
                        "name": overflow_row["measurement"],
                        "columns": out_cols,
                        "values": [],
                        "partial": True,
                    }
                )
            else:
                # measurement-ordered cut: the last series was cut
                series[-1]["partial"] = True
        res["series"] = series
    return res


def _frame_wire_cols(df: DataFrame) -> tuple[list, list, bool, str]:
    """(ordered source cols, wire col names, per_measurement, tkey) —
    the column-ordering contract shared by the materializing and the
    chunked serializer."""
    cols = list(df.columns)
    tkey = next(
        (c for c in ("time", "time_bucket", "ts") if c in cols), None
    )
    # a `measurement` column always splits into one series per
    # measurement (regex fan-outs AND the SHOW TAG/FIELD KEYS / TAG
    # VALUES metadata frames — upstream names each series after the
    # measurement)
    per_measurement = "measurement" in cols
    ordered = []
    if tkey:
        ordered.append(tkey)
    ordered += [c for c in cols if c != tkey and c != "measurement"]
    out_cols = ["time" if c == tkey else c for c in ordered]
    return ordered, out_cols, per_measurement, tkey


def _measurement_ordered(
    df: DataFrame, tkey: str | None, order_desc: bool
) -> DataFrame:
    """A multi-measurement frame ordered by measurement name (series
    order, as upstream), then by time in the statement's requested
    direction. The composite key matters: Spark's sort is NOT stable,
    so ordering by measurement alone would scramble the rows within a
    series (upstream always returns points time-ordered within a
    series), and a forced ascending time key would invert
    ``ORDER BY time DESC`` and make a row cap keep the oldest rows."""
    if not tkey:
        return df.orderBy("measurement")
    return df.orderBy(
        "measurement", F.col(tkey).desc() if order_desc else F.col(tkey).asc()
    )


def serialize_frame_chunks(
    df: DataFrame,
    name: str,
    statement_id: int,
    epoch: str | None,
    chunk_size: int,
    order_desc: bool = False,
):
    """DataFrame → iterator of /query result objects, ``chunk_size``
    rows per chunk — upstream's ``chunked=true`` shape (one complete
    ``{"statement_id", "series": [...]}`` object per chunk, with
    ``partial: true`` on a series whose rows continue in the next
    chunk). Backed by ``toLocalIterator``: the driver holds ONE
    partition at a time, never the whole result — the knob that lets
    a client stream a result bigger than driver memory. A regex
    fan-out result is ordered by measurement first so each chunk
    holds rows of exactly one series (chunks cut at series
    boundaries, as upstream does)."""
    ordered, out_cols, per_measurement, tkey = _frame_wire_cols(df)
    if per_measurement:
        df = _measurement_ordered(df, tkey, order_desc)

    def chunk_obj(mname, vals, partial):
        s: dict = {"name": mname, "columns": out_cols, "values": vals}
        if partial:
            s["partial"] = True
        return {"statement_id": statement_id, "series": [s]}

    pending = None  # (series_name, values) flushed but not yet emitted
    cur_name, buf = None, []
    emitted = False
    for row in df.toLocalIterator():
        mname = row["measurement"] if per_measurement else name
        if cur_name is None:
            cur_name = mname
        if mname != cur_name or len(buf) >= chunk_size:
            if pending is not None:
                # the pending chunk is partial iff the same series
                # continues right after it
                yield chunk_obj(
                    pending[0], pending[1], pending[0] == cur_name
                )
                emitted = True
            pending = (cur_name, buf)
            cur_name, buf = mname, []
        buf.append([_json_value(row[c], epoch) for c in ordered])
    if pending is not None:
        yield chunk_obj(pending[0], pending[1], pending[0] == cur_name)
        emitted = True
    if buf:
        yield chunk_obj(cur_name, buf, False)
    elif not emitted:
        # empty result: one bare result object, as the unchunked path
        yield {"statement_id": statement_id}


class InfluxHTTPApi:
    """The engine-owned handler logic behind the three endpoints."""

    def __init__(
        self,
        spark,
        table_dir: str,
        time_col: str = "time",
        database: str | None = None,
        now=None,
        max_row_limit: int = 0,
    ):
        self.spark = spark
        self.table_dir = table_dir
        self.time_col = time_col
        self.database = database
        self.now = now
        # upstream httpd [http] max-row-limit: cap on rows in a
        # NON-chunked /query response (0 = unlimited, upstream's
        # default). chunked=true is exempt, exactly as upstream —
        # streaming is the sanctioned way to pull a big result.
        self.max_row_limit = int(max_row_limit)
        self._write_seq = 0  # ANY-mode subscription round-robin key

    # ---------------------------------------------------------- ping

    def handle_ping(self) -> tuple[int, None]:
        return 204, None

    # --------------------------------------------------------- query

    def handle_query(self, params: dict) -> tuple[int, dict]:
        """Buffered /query: ``(status, body)`` with one result object
        per statement, each frame materialized with ``collect`` under
        the API's ``max_row_limit``."""
        try:
            stmts, db, epoch, _ = self._query_prelude(params, chunked=False)
        except _RequestError as exc:
            return exc.status, exc.body
        return 200, {"results": list(self._run_statements(stmts, db, epoch))}

    def handle_query_chunked(self, params: dict):
        """``chunked=true`` /query: returns ``(status, iterator)``
        where the iterator yields one response envelope
        (``{"results": [...]}``) per chunk — upstream streams these
        newline-delimited. ``chunk_size`` (default 10000) rows per
        chunk. The status line is decided before the first streamed
        byte; runtime errors stream in-body, as upstream's chunked mode
        does. Frames stream through ``serialize_frame_chunks``
        (toLocalIterator) — the driver never materializes the full
        result."""
        try:
            stmts, db, epoch, size = self._query_prelude(params, chunked=True)
        except _RequestError as exc:
            return exc.status, iter([exc.body])
        return 200, (
            {"results": [obj]}
            for obj in self._run_statements(stmts, db, epoch, size)
        )

    def _query_prelude(self, params: dict, chunked: bool):
        """Validate a /query request and authorize every statement in
        it before any statement runs. Returns ``(statements, db, epoch,
        chunk_size)``, where ``db`` is the database passed on to
        ``run_influxql`` and ``chunk_size`` is None when buffered;
        raises :class:`_RequestError` for a rejected request."""
        q = params.get("q")
        if not q:
            raise _RequestError(400, "missing required parameter 'q'")
        size = None
        if chunked:
            try:
                size = int(params.get("chunk_size") or 10000)
                if size <= 0:
                    raise ValueError
            except ValueError:
                raise _RequestError(
                    400, f"invalid chunk_size: {params.get('chunk_size')!r}"
                ) from None
        # an empty epoch means none (RFC3339 timestamps), as upstream
        epoch = params.get("epoch") or None
        if epoch is not None and epoch not in _PRECISION_NS:
            raise _RequestError(400, f"invalid epoch precision: {epoch!r}")
        stmts = [parse(s, self.now) for s in split_statements(q)]
        self._authorize(params, [s.privilege for s in stmts])
        # no registered-database fallback here: run_influxql applies it
        # per statement, so a CREATE DATABASE earlier in the request is
        # seen by the statements after it
        return stmts, params.get("db") or self.database, epoch, size

    def _authorize(self, params: dict, needs: list[str]) -> None:
        """Authorize every statement's required privilege (``needs``,
        one per statement) for the request's ``u``/``p`` against the
        request's database: the ``db`` parameter, else the
        API's configured database, else the store's registered one.
        The gate ALWAYS runs: with users registered, a request lacking
        ``u`` is a 401 (upstream's auth-enabled behavior); an empty
        registry passes (auth disabled). Raises :class:`_RequestError`
        401 for bad or missing credentials, 403 for a privilege the
        user lacks."""
        db = (
            params.get("db")
            or self.database
            or registered_database(self.table_dir)
        )
        try:
            for need in needs:
                users.authorize(
                    self.table_dir,
                    params.get("u"),
                    params.get("p") or "",
                    need,
                    db,
                )
        except InfluxQLError as exc:
            msg = str(exc)
            raise _RequestError(
                401 if "authentication" in msg else 403, msg
            ) from exc

    def _run_statements(
        self, stmts: list[Statement], db: str | None, epoch: str | None,
        chunk_size: int | None = None,
    ):
        """Run each statement under the contention retry and yield its
        result objects in order; a failed statement yields its in-body
        error and later statements still run.

        Buffered (``chunk_size`` None): one object per statement, the
        frame serialized INSIDE the retry, so a snapshot race at
        collect time re-runs the whole statement against the then
        current snapshot. Chunked: one object per chunk, streamed after
        the retry while the statement's loaded tables stay referenced."""
        for i, stmt in enumerate(stmts):
            def run(stmt=stmt, i=i):
                tables = sinks.load_tables(self.spark, self.table_dir)
                res = run_influxql(
                    self.spark,
                    tables,
                    stmt,
                    table_dir=self.table_dir,
                    time_col=self.time_col,
                    database=db,
                    now=self.now,
                )
                if not isinstance(res, DataFrame):
                    # write-class statements (counts / acks):
                    # upstream returns the bare result object
                    return {"statement_id": i}, None
                if chunk_size is None:
                    return serialize_frame(
                        res, stmt.series_name, i, epoch,
                        max_rows=self.max_row_limit,
                        order_desc=stmt.order_desc,
                    ), None
                # the table registry is returned alongside: the
                # reader leases (sinks._lease_version) weakref the
                # exact DataFrames _read_current returned, which the
                # registry caches, and a derived result frame holds no
                # Python reference to them — keeping the registry
                # alive in this generator frame keeps the pinned
                # snapshot leased while toLocalIterator drains
                return res, tables

            try:
                out, lease_pin = _run_with_contention_retry(
                    run, self.table_dir
                )
            except Exception as exc:  # noqa: BLE001 — filtered re-raise
                err = _statement_error(i, exc)
                if err is None:
                    raise
                yield err
                continue
            if not isinstance(out, DataFrame):
                yield out
                continue
            try:
                yield from serialize_frame_chunks(
                    out, stmt.series_name, i, epoch, chunk_size,
                    order_desc=stmt.order_desc,
                )
            except Exception as exc:  # noqa: BLE001 — filtered re-raise
                # chunks already streamed can't be retried; a snapshot
                # race or a Spark runtime error surfaces as an in-body
                # statement error and later statements still run
                err = (
                    {"statement_id": i,
                     "error": "snapshot changed mid-stream; re-run statement"}
                    if _is_snapshot_race(exc)
                    else _statement_error(i, exc)
                )
                if err is None:
                    raise
                yield err
            finally:
                # stream drained (or abandoned): release the source
                # frames so their reader leases lapse
                del lease_pin

    # --------------------------------------------------------- write

    def handle_write(self, params: dict, body: bytes) -> tuple[int, dict | None]:
        try:
            # /write is the WRITE privilege on the target db
            self._authorize(params, ["WRITE"])
        except _RequestError as exc:
            return exc.status, exc.body
        if params.get("db"):
            known = self.database or registered_database(self.table_dir)
            if params["db"] != known:
                # upstream 404s a write naming an unknown database
                return 404, {
                    "error": f"database not found: \"{params['db']}\""
                }
        precision = params.get("precision", "ns")
        mult = _PRECISION_NS.get(precision)
        if mult is None:
            return 400, {"error": f"invalid precision: {precision!r}"}
        try:
            text = body.decode("utf-8")
        except UnicodeDecodeError:
            return 400, {"error": "body is not valid UTF-8"}
        try:
            lines = [
                self._rescale_ts(s, mult)
                for s in text.splitlines()
                if s.strip() and not s.lstrip().startswith("#")
            ]
        except InfluxQLError as exc:
            return 400, {"error": str(exc)}
        if not lines:
            return 400, {"error": "empty write body"}
        # an Arrow table is a local relation: the body reaches the JVM
        # without a Python worker, and one partition lets the shape
        # aggregate run without a shuffle
        raw = self.spark.createDataFrame(
            pa.table({"value": pa.array(lines, pa.string())})
        ).coalesce(1)
        parsed = parse_lines(raw).localCheckpoint(eager=True)
        shape = body_shape(parsed)
        if shape.bad:
            return 400, {
                "error": f"unable to parse {shape.bad} line(s) of line protocol"
            }
        try:
            schemas = shape.schemas()
        except FieldTypeConflict as exc:
            return 400, {"error": str(exc)}
        for measurement in schemas:
            try:
                # a measurement maps to one path component in this
                # store — path-hostile names are a 400, never a
                # directory escape (wire-fuzz-found, r12)
                sinks.validate_table(measurement)
            except ValueError as exc:
                return 400, {"error": str(exc)}
        appended = 0
        for measurement, pts, tag_names in measurement_points(
            parsed, schemas, shape.tag_keys, sinks.partition_tags,
            self.time_col,
        ):
            pts = pts.coalesce(1)
            # ^ one output file per partition dir: a wire write is
            # HTTP-body-bounded (a few MB), so collapsing it to a
            # single task costs nothing and makes the request's
            # points land in ONE file per partition — visible
            # atomically to concurrent readers (append_points
            # publishes per-file; the r13 wire soak caught a reader
            # seeing half a multi-file batch). Bulk ingest paths
            # keep their parallel multi-file writes.
            try:
                sinks.append_points(pts, self.table_dir, measurement)
            except sinks.SchemaConflict as exc:
                # a field whose line-protocol type conflicts with the
                # TABLE's recorded type (not just intra-batch) is
                # upstream's 400 'field type conflict', never a 500;
                # when earlier measurements of this batch already
                # appended, it's upstream's 'partial write'
                prefix = (
                    "partial write: " if appended else ""
                )
                return 400, {
                    "error": f"{prefix}field type conflict: {exc}"
                }
            appended += 1
            # upstream duplicates every accepted write to each
            # subscription endpoint; batch id = a process-local write
            # sequence (round-robins ANY-mode destinations)
            from ..streaming.subscriptions import forward_batch

            forward_batch(
                pts,
                self._write_seq,
                table_dir=self.table_dir,
                measurement=measurement,
                tag_cols=tag_names,
                field_cols=list(schemas[measurement]),
                time_col=self.time_col,
            )
        self._write_seq += 1
        return 204, None

    @staticmethod
    def _rescale_ts(line: str, mult: int) -> str:
        """Rescale a trailing timestamp to nanoseconds and enforce
        upstream's int64-ns bound: InfluxDB timestamps are int64
        nanoseconds, so a value that overflows after rescale is a 400
        parse error — never stored. (Wire-fuzz-found, r12: an
        unbounded rescale stored year-230128 points that crashed
        every later collect of the table, and a raw out-of-int64 ns
        leaked an ANSI CAST_OVERFLOW as a 500.)"""
        head, _, tail = line.rstrip().rpartition(" ")
        if head and re.fullmatch(r"-?\d+", tail):
            ns = int(tail) * mult
            if not (-(2**63) <= ns < 2**63):
                raise InfluxQLError(
                    f"unable to parse timestamp {tail!r}: value out of"
                    f" range at precision"
                )
            if mult != 1:
                return f"{head} {ns}"
        return line


def serve(api: InfluxHTTPApi, host: str = "127.0.0.1", port: int = 0):
    """Stdlib dev/test server for the three endpoints. Returns the
    started ``HTTPServer`` (serve_forever on the caller's thread)."""
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qsl, urlparse

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test output
            pass

        def _send(self, status: int, body: dict | None):
            payload = (
                json.dumps(body).encode() if body is not None else b""
            )
            self.send_response(status)
            self.send_header("X-Influxdb-Version", _VERSION)
            if payload:
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            if payload:
                self.wfile.write(payload)

        def _send_stream(self, status: int, chunks):
            # newline-delimited JSON envelopes (upstream's chunked
            # transfer); HTTP/1.0 connection-close delimits the body
            try:
                self.send_response(status)
                self.send_header("X-Influxdb-Version", _VERSION)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                for obj in chunks:
                    self.wfile.write(json.dumps(obj).encode() + b"\n")
                    self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError, OSError):
                # client dropped mid-stream: close the generator NOW
                # (GeneratorExit unwinds serialize_frame_chunks, which
                # drops its toLocalIterator — PySpark's local-iterator
                # finalizer signals the JVM to stop serving partitions,
                # so the Spark job drains bounded instead of running
                # to completion against a dead socket). The handler
                # thread returns normally; the server keeps serving.
                pass
            finally:
                close = getattr(chunks, "close", None)
                if close is not None:
                    close()

        def _query(self, params):
            if params.get("chunked") == "true":
                self._send_stream(*api.handle_query_chunked(params))
            else:
                self._send(*api.handle_query(params))

        def _params(self):
            u = urlparse(self.path)
            return u.path, dict(parse_qsl(u.query))

        def do_GET(self):
            path, params = self._params()
            if path == "/ping":
                self._send(*api.handle_ping())
            elif path == "/query":
                self._query(params)
            else:
                self._send(404, {"error": f"not found: {path}"})

        def do_POST(self):
            path, params = self._params()
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n) if n else b""
            if path == "/write":
                self._send(*api.handle_write(params, body))
            elif path == "/query":
                # clients may POST form-encoded queries
                if body and "q" not in params:
                    params = {
                        **dict(parse_qsl(body.decode())), **params
                    }
                self._query(params)
            else:
                self._send(404, {"error": f"not found: {path}"})

    return HTTPServer((host, port), Handler)
