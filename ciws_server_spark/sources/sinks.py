"""Table-append, archive and quarantine sinks (S7-S9, S11-S12).

The reference writes points to InfluxDB measurements and moves each
CSV to an archive (success) or quarantine (parse failure) directory
(``loader.py:49-66,164-193``). Spark-first equivalents:

* measurement → partitioned parquet table dir, appended with
  ``partitionBy(tag, date)`` so tag+time-range predicates prune
  partitions — the same pruning InfluxDB's tag/time indexes give
  (SURVEY.md §1.6). At 100 TB this layout is the whole game: a query
  for one site and one week touches only those directories.
* archive / quarantine moves → manifest-driven file moves. The
  streaming form (streaming/ingest.py) records every landed file in an
  ``ingest_manifest`` table in-batch and replays the moves AFTER the
  streaming pass terminates (post-commit): a replayed batch re-reads
  its original landing paths, so moving files inside the batch would
  make crash recovery re-read paths that no longer exist. Moves are
  idempotent (missing source = already moved = skipped).

One write protocol for every table append (points, routed raw/QC
points, quarantine and ingest manifests): one Spark job writes a
private stage dir (``_staging``), then ``_publish`` renames the staged
part files into each live table under its write lock.

Idempotence under batch replay: when a ``batch_id`` is supplied, rows
land in ``(…, batch_id=N)`` leaf partitions and ``_publish`` wipes
every existing leaf of that batch before its renames — replaying a
crashed micro-batch replaces exactly what its first attempt wrote,
so table contents are exactly-once even though foreachBatch delivery
is at-least-once (the reference double-ingests in this crash window,
``loader.py:68-84``; Delta's ``txnAppId`` idempotence is the managed
equivalent of this, not available in this container).
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import sys
import threading
import time
import weakref
from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class CompactorBusy(RuntimeError):
    """Another compactor holds this table's compaction lock."""


class ConcurrentAppendDetected(RuntimeError):
    """The table's file set changed during the compaction rewrite —
    the swap was aborted and the rewritten snapshot dropped. Retry
    the compaction; no data was lost or made visible."""


def _lock_file(root: str, kind: str) -> str:
    # lock files live NEXT to the table root (never inside — they must
    # survive snapshot swaps and stay out of _version_dirs globs)
    return f"{root}.{kind}.lock"


@contextmanager
def _flock(path: str, exclusive: bool, blocking: bool = True):
    """Advisory flock on a sidecar lock file.

    flock (not O_EXCL sentinel files) because the kernel releases it
    when the holder dies — there is no stale-lock state to detect or
    TTL to tune, which is exactly the failure mode an O_EXCL pidfile
    protocol has to hand-solve. Scope: coordinates writers on ONE
    shared filesystem (the single-node layout this repo targets;
    flock also propagates on NFSv4). A multi-host object-store
    deployment needs a transaction log (Delta/Iceberg) instead —
    see README's multi-writer contract."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        flags = fcntl.LOCK_EX if exclusive else fcntl.LOCK_SH
        if not blocking:
            flags |= fcntl.LOCK_NB
        try:
            fcntl.flock(fd, flags)
        except BlockingIOError:
            raise CompactorBusy(
                f"lock {path} is held by another process"
            ) from None
        if exclusive:
            # debuggability only — liveness comes from flock itself
            os.write(fd, f"pid={os.getpid()}\n".encode())
        yield
    finally:
        os.close(fd)  # closing the fd releases the flock


@contextmanager
def table_write_lock(table_dir: str, table: str):
    """Shared writer lock for one table — every cooperative mutator
    (append, retention delete) holds this across its whole operation.
    Writers never block each other; the compactor takes the same lock
    EXCLUSIVELY only around its validate+swap instants, so appends
    stall for microseconds, not for the rewrite."""
    with _flock(
        _lock_file(os.path.join(table_dir, table), "write"), exclusive=False
    ):
        yield


def _visible_file_set(root: str) -> set[tuple[str, int]]:
    """(relative path, size) of every Spark-visible data file under
    the CURRENT snapshot. Mirrors Spark's listing rule: path
    components starting with ``_`` or ``.`` (e.g. in-flight
    ``_temporary`` commit dirs, ``_SUCCESS``) are invisible. Part
    file names embed task UUIDs, so any committed append / overwrite
    / delete between two captures makes the sets differ — equality
    of two captures proves the visible set was unchanged in between."""
    real = os.path.realpath(root)
    out: set[tuple[str, int]] = set()
    for dirpath, dirnames, files in os.walk(real):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(dirpath, f)
            try:
                out.add((os.path.relpath(p, real), os.path.getsize(p)))
            except OSError:
                out.add((os.path.relpath(p, real), -1))
    return out

#: Tag + date partitioning per table (SURVEY.md §1.6 mapping).
PARTITIONING = {
    "raw_data": ["siteID", "date"],
    "qc_data": ["siteID", "date"],
    "campus_flow": ["buildingID", "date"],
    "campus_flow_hourly": ["buildingID", "date"],
    "derived_hot_intake": ["buildingID", "date"],
    "quarantine_files": [],
    "ingest_manifest": [],
}


class InvalidTableName(ValueError):
    """A measurement name that cannot be a single path component —
    refused at the storage boundary (wire-fuzz-found, r12: a mutated
    ``INTO tar/get`` statement sprayed table sidecars into a nested
    directory, and a hostile ``DROP MEASUREMENT "../x"`` would have
    escaped the store root entirely)."""


def validate_table(table: str) -> str:
    """The storage boundary's name rule: a measurement maps to ONE
    directory component under the store root. Upstream InfluxDB keys
    measurements in an index so any byte string works; this engine
    maps them to paths, so path-hostile names (separators, NUL,
    ``.``/``..``, empty) are a named error — the documented
    divergence for slash-bearing measurement names."""
    if (
        not table
        or table in (".", "..")
        or "/" in table
        or "\\" in table
        or "\x00" in table
        or os.sep in table
    ):
        raise InvalidTableName(f"invalid measurement name: {table!r}")
    return table


class SchemaConflict(ValueError):
    """A field arrived with a different type than the table recorded
    for that name — refused at append time, before any file is
    written, so the store never holds same-name/different-type files."""


def _schema_file(root: str) -> str:
    return root + ".schema.json"


def _registered_schema(root: str):
    """The table's evolved schema (union of every append's fields),
    or None for tables predating the registry."""
    from pyspark.sql.types import StructType

    try:
        with open(_schema_file(root)) as fh:
            return StructType.fromJson(json.load(fh))
    except FileNotFoundError:
        return None


def _merge_registered_schema(root: str, schema) -> None:
    """Union the incoming write's fields into the sidecar. InfluxQL
    measurements grow fields over time; parquet alone loses that
    history — plain reads sample ONE footer, so a late-added field is
    invisible or visible depending on which file gets sampled, and a
    compaction rewrite through such a read silently DROPS the column
    (measured; test_schema_evolution pins it). The sidecar is the
    single source of truth every reader and rewriting mutator applies.

    The load-merge-store is serialized under its OWN short exclusive
    ``.schema.lock`` (independent of the table write lock, which
    mutators hold SHARED): two concurrent appends each introducing a
    different new field would otherwise both read the same sidecar,
    each write its own merged version, and ``os.replace`` last-wins —
    permanently hiding one field from every reader, the exact loss
    the sidecar exists to prevent."""
    from pyspark.sql.types import StructField, StructType

    with _flock(_lock_file(root, "schema"), exclusive=True):
        _merge_registered_schema_locked(root, schema)


def _merge_registered_schema_locked(root: str, schema) -> None:
    from pyspark.sql.types import StructField, StructType

    current = _registered_schema(root)
    by_name = {f.name: f for f in current.fields} if current else {}
    order = [f.name for f in current.fields] if current else []
    for f in schema.fields:
        have = by_name.get(f.name)
        if have is None:
            by_name[f.name] = StructField(f.name, f.dataType, True)
            order.append(f.name)
        elif have.dataType != f.dataType:
            raise SchemaConflict(
                f"field {f.name!r}: table has {have.dataType.simpleString()},"
                f" write has {f.dataType.simpleString()}"
            )
    merged = StructType([by_name[n] for n in order])
    tmp = _schema_file(root) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(merged.jsonValue(), fh)
    os.replace(tmp, _schema_file(root))


def _read_current(spark, root: str) -> DataFrame:
    """Rewriting mutators and readers go through here: the registered
    schema (explicit — no footer sweep, null-fills pre-evolution
    files) or, for legacy tables without a sidecar, ``mergeSchema`` —
    one footer read per file, the price of not losing a late-added
    column to single-footer sampling.

    Reads PIN the snapshot: the symlink is resolved HERE, so the
    DataFrame's file listing lives entirely inside one version dir,
    and a compaction/delete swap mid-query cannot yank its files —
    the retired version survives ``_SNAPSHOT_GRACE_S`` after the
    swap (see ``_vacuum_versions``). Reading through the un-resolved
    symlink was the r12 wire-soak isolation bug: a /query racing a
    compaction crashed with missing input files."""
    real = os.path.realpath(root)
    target = real if os.path.isdir(real) else root
    schema = _registered_schema(root)
    if schema is not None:
        df = spark.read.schema(schema).parquet(target)
    else:
        df = spark.read.option("mergeSchema", "true").parquet(target)
    if target != root:
        # snapshot-layout table: lease the pinned version dir for as
        # long as the DataFrame is alive (see _lease_version)
        _lease_version(target, df)
    return df


# --- reader leases: long queries vs the vacuum grace window ----------
#
# The grace window (``_SNAPSHOT_GRACE_S``) is a fixed head start; a
# query that outlives it would fall back to loud failure when vacuum
# claims its pinned version (r13 VERDICT "Missing #2": sf100 scans
# already ran within 6% of the 300 s default). Rather than guessing a
# bigger constant, a reader LEASE keeps the pin alive: every
# ``_read_current`` registers its pinned version dir against a weak
# reference to the DataFrame, and a daemon heartbeat touches the dir's
# mtime while any registered DataFrame is still alive — so
# ``_vacuum_versions``' retirement clock keeps resetting under a live
# scan and only starts aging once the last pinned reader is
# garbage-collected. Equivalent in spirit to Iceberg's
# snapshot-expiration "referenced by a live reader" guard, minus the
# catalog. Heartbeat cadence defaults to grace/4 (never slower), so a
# reader can never miss two consecutive touches inside one grace
# window even under scheduler jitter.

_LEASES: dict[str, "weakref.WeakSet"] = {}
_LEASES_LOCK = threading.Lock()
_LEASE_THREAD: threading.Thread | None = None
#: Set on every new lease registration: wakes the heartbeat so a
#: fresh lease gets its first touch immediately AND the loop re-reads
#: the (env-tunable) interval — a long sleep armed under an old
#: interval would otherwise outlive a shrunken grace window.
_LEASE_WAKE = threading.Event()


def _lease_interval_s() -> float:
    env = os.environ.get("CIWS_LEASE_INTERVAL_S")
    if env:
        return max(float(env), 0.05)
    return max(min(_SNAPSHOT_GRACE_S / 4.0, 60.0), 1.0)


def _lease_version(version_dir: str, df) -> None:
    global _LEASE_THREAD
    with _LEASES_LOCK:
        _LEASES.setdefault(version_dir, weakref.WeakSet()).add(df)
        if _LEASE_THREAD is None or not _LEASE_THREAD.is_alive():
            _LEASE_THREAD = threading.Thread(
                target=_lease_heartbeat, name="ciws-reader-lease",
                daemon=True,
            )
            _LEASE_THREAD.start()
    _LEASE_WAKE.set()


def _lease_heartbeat() -> None:
    while True:
        _LEASE_WAKE.wait(timeout=_lease_interval_s())
        _LEASE_WAKE.clear()
        with _LEASES_LOCK:
            dead = [d for d, refs in _LEASES.items() if not refs]
            for d in dead:
                del _LEASES[d]
            live = list(_LEASES)
        for d in live:
            try:
                os.utime(d)
            except OSError:
                pass  # vacuumed out from under a GC'd-but-raced set


def read_table(spark, table_dir: str, table: str) -> DataFrame:
    """Read a store table under its full evolved schema: files written
    before a field existed yield null for it (the InfluxDB view of a
    measurement)."""
    return _read_current(spark, os.path.join(table_dir, table))


def load_tables(spark, table_dir: str) -> dict[str, DataFrame]:
    """The measurement registry an InfluxQL front-end call wants:
    every live table under ``table_dir``, each read under its full
    evolved schema (:func:`read_table`). Skips version dirs, sidecars,
    and rewrite debris — only table roots (dirs or snapshot symlinks
    whose name carries no dot-suffix) qualify."""
    from pyspark.errors import AnalysisException

    out: dict[str, DataFrame] = {}
    for entry in sorted(os.listdir(table_dir)):
        if "." in entry or entry.startswith("_"):
            continue  # locks, sidecars, root.vNNNNNN, *.tmp debris
        root = os.path.join(table_dir, entry)
        if not os.path.isdir(root):  # follows the snapshot symlink
            continue
        try:
            out[entry] = read_table(spark, table_dir, entry)
        except AnalysisException as exc:
            # a concurrent DROP can yank the table between the
            # listdir above and the eager file-index build here
            # (r14 soak-found via the CQ scheduler's load_tables —
            # unlike the wire path, engine callers have no retry
            # wrapper). A table mid-drop simply isn't part of this
            # registry snapshot.
            if (
                "PATH_NOT_FOUND" in str(exc)
                or "Path does not exist" in str(exc)
            ):
                continue
            raise
    return out


def _ensure_snapshot_root(path: str) -> None:
    """Create a NEW table in SNAPSHOT layout from birth: ``path`` is
    a symlink to ``path.v000001``. The one-time legacy-dir migration
    (a real directory cannot be atomically replaced by a symlink)
    then never happens for engine-created tables — its microsecond
    no-live-path window was the last reader race the r13 wire soak
    could still hit. Tables created by out-of-band writers remain
    real dirs and migrate once, as before."""
    if os.path.lexists(path):
        return
    # NEVER adopt a leftover version dir: with no live root, any
    # surviving root.vNNNNNN is debris — most dangerously a partially
    # failed DROP's (advisor r13: adopting it would resurrect dropped
    # rows in a freshly created same-named measurement). The only
    # root-missing crash state with data worth keeping carries a
    # .swap link and is healed by recover_compaction, not here. Start
    # a FRESH version numbered above the debris; vacuum reclaims the
    # leftovers as ordinary retired versions at the next publish.
    versions = _version_dirs(path)
    nv = (_v_of(versions[-1]) + 1) if versions else 1
    v1 = f"{path}.v{nv:06d}"
    os.makedirs(v1, exist_ok=True)
    try:
        os.symlink(os.path.basename(v1), path)
    except FileExistsError:
        pass  # raced another creator; either winner is fine


def append_points(
    df: DataFrame, table_dir: str, table: str, batch_id: int | None = None
) -> None:
    """S7/S8/S9 — append points to a partitioned parquet table.

    ``date`` is derived from the time column for partition pruning.
    Batch size / numeric precision knobs of the reference's line
    protocol are storage no-ops under parquet.

    With ``batch_id`` (streaming foreachBatch), the write is an
    idempotent overwrite of this batch's own ``batch_id=N`` leaf
    partitions (module docstring): replay converges instead of
    duplicating. Without it, a plain append (single-shot batch jobs).

    Fields may be added over time (the InfluxDB measurement model);
    every write merges its fields into the table's schema sidecar
    under the write lock, and a same-name/different-type write raises
    :class:`SchemaConflict` before any file reaches the table.

    VISIBILITY: publication is atomic PER FILE (each staged part file
    enters the live tree with one rename), not per batch — a reader
    listing between two of a multi-file append's renames sees the
    batch partially, exactly like any parquet directory sink (and
    like upstream InfluxDB, whose writes apply per shard with no
    cross-shard atomicity). Readers can't be excluded: they hold no
    locks, and only a single rename (the snapshot swap) is atomic to
    them — batch-atomic appends would force every append through a
    full snapshot publish, serializing concurrent appenders. Callers
    needing a batch to appear atomically write it as one file per
    partition dir (``df.coalesce(1)`` — what the wire /write does;
    its batches are HTTP-body-bounded).
    """
    validate_table(table)
    parts = PARTITIONING.get(table, [])
    out = df
    if "date" in parts:
        out = out.withColumn("date", F.to_date("time"))
    if batch_id is not None:
        out = out.withColumn("batch_id", F.lit(int(batch_id)))
        parts = parts + ["batch_id"]
    with _staging(table_dir, [table]) as stage:
        out.write.mode("append").partitionBy(*parts).parquet(stage)
        _publish(stage, os.path.join(table_dir, table), out.schema, batch_id)


@contextmanager
def _staging(table_dir: str, tables: list[str]):
    """A private stage dir for ONE Spark write job into ``tables``.

    Every writer stages here, never straight into a live root: two
    concurrent Spark jobs appending one path share Hadoop's
    FileOutputCommitter staging (``<path>/_temporary/0``), and the
    first commit's cleanup deletes the second job's in-flight task
    attempts (TASK_WRITE_FAILED — caught by
    tests/test_multiwriter_soak.py). The committed part files are then
    renamed into the live tables by :func:`_publish`; part names embed
    the job UUID, so concurrent appends never collide.

    One naming rule, ``<first target root>.append-<uuid>`` (targets in
    sorted order), and the shared write lock of EVERY target held,
    in that same order, from before the write until the stage is
    removed: so a stage dir that survives its writer (a crash) is
    orphaned exactly when the first target's compactor holds that
    table's lock exclusively, which is where ``_compact_locked``
    sweeps ``<root>.append-*``."""
    import uuid

    tables = sorted(tables)
    with ExitStack() as locks:
        for table in tables:
            locks.enter_context(table_write_lock(table_dir, table))
        stage = os.path.join(
            table_dir, f"{tables[0]}.append-{uuid.uuid4().hex[:12]}"
        )
        try:
            yield stage
        finally:
            shutil.rmtree(stage, ignore_errors=True)


def _publish(src: str, path: str, schema, batch_id: int | None) -> None:
    """The one way files enter a live table: rename the part files
    staged under ``src`` (laid out in the table's own partition
    layout; a missing ``src`` publishes nothing) into the table root
    ``path``. The caller holds the table's shared write lock
    (:func:`_staging`). Four steps, in order:

    1. merge ``schema`` into the sidecar — a :class:`SchemaConflict`
       raises here, before anything is visible, and the sidecar exists
       BEFORE the root dir: ``load_tables`` only lists dirs, so the
       instant a reader can discover the table its registered schema
       is on disk (a dir-without-sidecar gap reads as
       UNABLE_TO_INFER_SCHEMA, wire-soak-found r13);
    2. create the root in snapshot layout (:func:`_ensure_snapshot_root`);
    3. with ``batch_id``, wipe every existing ``batch_id=N`` leaf:
       replaying a crashed micro-batch first clears what its earlier
       attempt landed — including leaves for keys the replay no
       longer produces, even when it produces no rows at all;
    4. rename each staged part file into place.

    r14: steps 3–4 replaced Spark's ``partitionOverwriteMode=dynamic``
    writer, which stages to ``_temporary`` and then walks/moves
    partition DIRS driver-side — measured 2–4× slower per micro-batch
    at the ingest benchmark's file sizes. Replay convergence is also
    strictly stronger: dynamic overwrite only replaces partitions
    present in the NEW attempt."""
    _merge_registered_schema(path, schema)
    _ensure_snapshot_root(path)
    if batch_id is not None:
        leaf = f"batch_id={int(batch_id)}"
        for dirpath, dirnames, _files in os.walk(path):
            if leaf in dirnames:
                shutil.rmtree(os.path.join(dirpath, leaf), ignore_errors=True)
            # batch_id is the innermost partition level: never descend
            dirnames[:] = [
                d for d in dirnames if not d.startswith("batch_id=")
            ]
    for dirpath, dirnames, files in os.walk(src):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            rel = os.path.relpath(os.path.join(dirpath, f), src)
            dst = os.path.join(path, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(dirpath, f), dst)


def route_residential(
    points: DataFrame,
    manifest: DataFrame,
    table_dir: str,
    batch_id: int | None = None,
) -> dict[str, int]:
    """Raw/QC routing (S7): one parse, two partitioned appends.

    Returns per-target row counts. With ``batch_id`` every write
    (points, quarantine rows, ingest manifest) is the idempotent
    overwrite-by-batch form.

    ONE Spark write job covers BOTH routes (r14): the parse is staged
    once, partitioned by ``is_qc`` ABOVE each table's own layout, and
    each subtree is published into raw_data / qc_data — the earlier
    two filtered appends paid two full write jobs per ingest pass.
    Table contents are those of two ``append_points`` calls. Route
    counts are observed on the write job itself (``df.observe``), so
    the whole pass is 3 Spark jobs: points write, manifests write,
    moves. A route with no rows is published only into a table that
    already exists — a replay must still wipe its ``batch_id=N``
    leaves there, but it creates no empty table."""
    from pyspark.sql import Observation

    out = points.drop("src_file").withColumn("date", F.to_date("time"))
    parts = ["siteID", "date"]  # == PARTITIONING["raw_data"|"qc_data"]
    if batch_id is not None:
        out = out.withColumn("batch_id", F.lit(int(batch_id)))
        parts.append("batch_id")
    obs = Observation()
    out = out.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_qc").cast("long")).alias("qc"),
    )
    schema = out.drop("is_qc").schema
    manifest = manifest.cache()
    try:
        with _staging(table_dir, ["raw_data", "qc_data"]) as stage:
            out.write.mode("append").partitionBy(
                "is_qc", *parts
            ).parquet(stage)
            for table, flag in (("raw_data", "false"), ("qc_data", "true")):
                src = os.path.join(stage, f"is_qc={flag}")
                path = os.path.join(table_dir, table)
                if os.path.isdir(src) or os.path.lexists(path):
                    _publish(src, path, schema, batch_id)
        _append_manifests(
            manifest, table_dir, batch_id, include_ingest=batch_id is not None
        )
    finally:
        manifest.unpersist()
    metrics = obs.get
    qc = int(metrics["qc"] or 0)
    return {"raw_data": int(metrics["n"]) - qc, "qc_data": qc}


def _append_manifests(
    manifest: DataFrame,
    table_dir: str,
    batch_id: int | None,
    include_ingest: bool,
) -> None:
    """quarantine_files (+ ingest_manifest) in ONE staged write: the
    two tables share a schema and a source frame, so a stage-only
    ``_mtable`` partition level splits them — one Spark job instead
    of two per ingest pass. Both tables are always published, so each
    exists (with its schema sidecar) even when it got no rows.

    ingest_manifest records EVERY file of a committed-or-in-flight
    batch with its routing decision. This is what makes archive and
    quarantine moves safe to defer until after the streaming pass
    commits: ``apply_pending_moves`` needs only this table, never the
    live query."""
    rows = manifest.select("src_file", "quarantine_reason")
    frames = rows.where(F.col("quarantine_reason").isNotNull()).withColumn(
        "_mtable", F.lit("quarantine_files")
    )
    tables = ["quarantine_files"]
    if include_ingest:
        frames = frames.unionByName(
            rows.withColumn("_mtable", F.lit("ingest_manifest"))
        )
        tables.append("ingest_manifest")
    parts: list[str] = []
    if batch_id is not None:
        frames = frames.withColumn("batch_id", F.lit(int(batch_id)))
        parts = ["batch_id"]
    schema = frames.drop("_mtable").schema
    with _staging(table_dir, tables) as stage:
        frames.write.mode("append").partitionBy(
            "_mtable", *parts
        ).parquet(stage)
        for table in tables:
            _publish(
                os.path.join(stage, f"_mtable={table}"),
                os.path.join(table_dir, table),
                schema,
                batch_id,
            )


def append_quarantine_manifest(
    manifest: DataFrame, table_dir: str, batch_id: int | None = None
) -> None:
    """S12 — record quarantined files + reasons as a table."""
    _append_manifests(manifest, table_dir, batch_id, include_ingest=False)


def _move_one(
    src_file: str, quarantine_reason, archive_dir: str, quarantine_dir: str
) -> str:
    """Move one landed file; returns the outcome bucket. A missing
    source means an earlier pass already moved it → ``skipped``."""
    # _metadata.file_path is a URI: file:/x, file:///x both occur
    src = re.sub(r"^file:(//)?", "", src_file)
    if not os.path.exists(src):
        return "skipped"
    dest = quarantine_dir if quarantine_reason else archive_dir
    shutil.move(src, os.path.join(dest, os.path.basename(src)))
    return "quarantine" if quarantine_reason else "archive"


def apply_pending_moves(
    spark, table_dir: str, archive_dir: str, quarantine_dir: str
) -> dict:
    """S11/S12 — archive/quarantine every manifest file still in the
    landing dir. Run AFTER the streaming pass terminates: an
    uncommitted batch replays from its original landing paths, so
    in-batch moves would break crash recovery (files gone on replay).
    Idempotent — already-moved files are skipped; a crash mid-moves is
    healed by the next call.

    Moves run EXECUTOR-SIDE (``mapInPandas`` over the manifest, one
    task per partition): at 100 TB ingest cadence the manifest is
    millions of file names per day, and a driver collect+loop would
    serialize every rename through one process. Each file appears in
    exactly one task (the manifest is deduped on ``src_file``
    first), so no two executors race on one rename; only the 3-number
    per-partition tally is collected. Requires the landing/archive
    paths be visible from executors — true in local mode and on any
    shared-fs/object-store deployment, the same assumption the scan
    itself makes. It is rename metadata, not data motion.
    """
    path = os.path.join(table_dir, "ingest_manifest")
    if not os.path.isdir(path):
        return {"archive": 0, "quarantine": 0, "skipped": 0}
    manifest = (
        spark.read.parquet(path)
        .groupBy("src_file")
        .agg(F.max("quarantine_reason").alias("quarantine_reason"))
    )
    a_dir, q_dir = archive_dir, quarantine_dir

    def mover(batches):
        import pandas as pd

        counts = {"archive": 0, "quarantine": 0, "skipped": 0}
        os.makedirs(a_dir, exist_ok=True)
        os.makedirs(q_dir, exist_ok=True)
        for pdf in batches:
            for src_file, reason in zip(
                pdf["src_file"], pdf["quarantine_reason"]
            ):
                counts[_move_one(src_file, reason, a_dir, q_dir)] += 1
        yield pd.DataFrame([counts])

    totals = (
        manifest.mapInPandas(
            mover, "archive BIGINT, quarantine BIGINT, skipped BIGINT"
        )
        .groupBy()
        .sum("archive", "quarantine", "skipped")
        .collect()[0]
    )
    return {
        "archive": int(totals[0] or 0),
        "quarantine": int(totals[1] or 0),
        "skipped": int(totals[2] or 0),
    }


def move_files(manifest_rows: list, archive_dir: str, quarantine_dir: str) -> dict:
    """Move each landed (already-collected) manifest row's file.

    Driver-side form for the single-shot batch jobs whose manifests
    are small and already on the driver; the streaming path
    (``apply_pending_moves``) distributes the same per-file logic to
    executors. Missing sources count as ``skipped`` (already moved by
    an earlier pass), making re-runs idempotent.
    """
    os.makedirs(archive_dir, exist_ok=True)
    os.makedirs(quarantine_dir, exist_ok=True)
    moved = {"archive": 0, "quarantine": 0, "skipped": 0}
    for row in manifest_rows:
        moved[
            _move_one(
                row["src_file"],
                row["quarantine_reason"],
                archive_dir,
                quarantine_dir,
            )
        ] += 1
    return moved


def _hashable_type(dt) -> bool:
    """Whether ``xxhash64`` accepts this type — MapType is forbidden
    at any nesting depth (HashExpression's TypeCheckFailure)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True


def _v_of(version_dir: str) -> int:
    """Version number of a ``root.vNNNNNN`` dir — the FULL digit run
    after ``.v``, never a fixed-width slice: past v999999 the name
    grows to 7 digits, and ``int(name[-6:])`` would wrap the counter
    back under existing versions, breaking the 'current = highest'
    ordering vacuum and debris handling rely on (advisor r14)."""
    return int(version_dir.rsplit(".v", 1)[1])


def _version_dirs(root: str) -> list[str]:
    """Existing ``root.vNNNNNN`` snapshot directories, ascending BY
    VERSION NUMBER (lexicographic order breaks across digit widths:
    '.v1000000' sorts before '.v999999' as a string)."""
    import glob as _glob

    out = [
        d
        for d in _glob.glob(root + ".v*")
        if re.fullmatch(r"\.v\d{6,}", d[len(root):]) and os.path.isdir(d)
    ]
    return sorted(out, key=_v_of)


#: Reader grace (seconds) before a RETIRED snapshot version is
#: vacuumed. Engine reads pin the version directory current at plan
#: time (``_read_current`` resolves the symlink), so a compaction /
#: delete swap mid-query no longer yanks files out from under a
#: running scan — the old version survives until ``grace`` after its
#: retirement (``_publish_snapshot`` bumps the outgoing dir's mtime
#: at swap time). The same idea as Delta/Iceberg snapshot retention,
#: minus the log. Grace must exceed the longest query; queries longer
#: than it fall back to the old loud-failure semantics. 0 disables
#: retention (immediate vacuum, the pre-r13 behavior).
_SNAPSHOT_GRACE_S = float(os.environ.get("CIWS_SNAPSHOT_GRACE_S", "300"))


def _vacuum_versions(root: str, grace_s: float | None = None) -> int:
    """Delete retired snapshot dirs past the reader grace window.

    Version dirs NEWER than the current target are crash debris (a
    rewrite that finished but never swapped — possibly stale data):
    always dropped. Dirs OLDER than current are retired reader
    snapshots: kept until ``grace_s`` after retirement so pinned
    readers drain, then dropped."""
    if grace_s is None:
        grace_s = _SNAPSHOT_GRACE_S
    cur = os.path.realpath(root)
    cur_v = _v_of(cur) if re.search(r"\.v\d{6,}$", cur) else -1
    now = time.time()
    n = 0
    for d in _version_dirs(root):
        if os.path.realpath(d) == cur:
            continue
        v = _v_of(d)
        if v < cur_v and grace_s > 0:
            try:
                ref = os.path.getmtime(d)
                # retirement sidecar (written before the swap) is the
                # authoritative floor when the utime stamp failed;
                # the dir mtime moves FORWARD of it under reader
                # leases (_lease_heartbeat), extending the grace for
                # live scans — take the max of the two clocks
                try:
                    with open(os.path.join(d, "_retired_at")) as fh:
                        ref = max(ref, float(fh.read().strip()))
                except (OSError, ValueError):
                    pass
                if now - ref < grace_s:
                    continue  # retired within grace: readers may hold it
            except OSError:
                pass  # raced another vacuum: fall through to rmtree
        shutil.rmtree(d, ignore_errors=True)
        n += 1
    return n


def recover_compaction(table_dir: str, table: str) -> str | None:
    """Heal any state a crashed ``compact_table`` left behind.

    Steady-state swap protocol (SNAPSHOT layout — ``root`` is a
    symlink to a ``root.vNNNNNN`` version dir): (1) rewrite →
    ``.compact.tmp``; (2) rename tmp → next version dir (durable
    completion marker); (3) build a ``.swap`` symlink to it;
    (4) ``os.rename(swap, root)`` — POSIX-atomic symlink replacement,
    so there is NO instant at which the table path is missing;
    (5) vacuum all non-current version dirs. Every crash state is
    distinguishable:

    * ``.compact.tmp`` present → incomplete rewrite: drop tmp.
    * ``root`` present + unreferenced version dirs → rewrite finished
      but the repoint never happened: drop them (stale — data may
      have grown since) along with any ``.swap`` link.
    * ``root`` missing + ``.swap`` present → crash inside the
      ONE-TIME legacy migration window (real dir renamed away, swap
      not yet renamed in): finish the repoint. Steady-state swaps
      have no such window.
    * ``root`` missing + version dirs present (no swap) → repoint
      root at the newest version.

    The pre-snapshot protocol's ``.compact.new`` / ``.compact.old``
    states (an r7-era crash) heal with the original rules. Returns a
    short description of the action taken, or None.
    """
    root = os.path.join(table_dir, table)
    tmp, new, old = (root + s for s in (".compact.tmp", ".compact.new", ".compact.old"))
    swap = root + ".swap"
    action = None
    if os.path.isdir(tmp) and not os.path.islink(tmp):
        shutil.rmtree(tmp)
        action = "dropped stale tmp"
    # isdir() FOLLOWS symlinks: a dangling root symlink (its target
    # lost out-of-band) must take the root-missing branch below — the
    # first draft classified it as "root exists" and vacuumed every
    # intact version relative to the dead target (caught by
    # test_snapshot_recovery_every_crash_state before it shipped)
    if os.path.isdir(root):
        if os.path.lexists(swap):
            os.remove(swap)
            action = "dropped stale swap link"
        if os.path.islink(root):
            if _vacuum_versions(root):
                action = action or "dropped stale/unvacuumed versions"
        elif _version_dirs(root):
            # real dir + version dirs = migration died before the
            # rename-away; the live dir is authoritative
            for d in _version_dirs(root):
                shutil.rmtree(d)
            action = "dropped stale migration versions"
        # legacy (pre-snapshot) protocol leftovers
        if os.path.isdir(new):
            shutil.rmtree(new)
            action = "dropped stale new"
        if os.path.isdir(old):
            shutil.rmtree(old)
            action = "dropped leftover old"
    else:
        if os.path.lexists(root):
            os.remove(root)  # broken symlink (its target was lost)
            action = "dropped broken table link"
        if os.path.lexists(swap):
            target = os.path.join(os.path.dirname(swap), os.readlink(swap))
            if os.path.isdir(target):
                os.rename(swap, root)
                _vacuum_versions(root)
                action = "completed interrupted repoint"
            else:
                os.remove(swap)
                action = "dropped broken swap link"
        elif _version_dirs(root):
            newest = _version_dirs(root)[-1]
            os.symlink(os.path.basename(newest), root)
            _vacuum_versions(root)
            action = "repointed at newest version"
        elif os.path.isdir(new):
            os.rename(new, root)
            if os.path.isdir(old):
                shutil.rmtree(old)
            action = "completed interrupted swap"
        elif os.path.isdir(old):
            os.rename(old, root)
            action = "restored from old"
    return action


def compact_table(
    spark,
    table_dir: str,
    table: str,
    target_files_per_partition: int = 1,
    sort_by: list | None = None,
) -> int:
    """OPTIMIZE-equivalent: rewrite each partition's small files.

    Per-file streaming appends accumulate one file per micro-batch per
    partition (SURVEY.md §7.4.5's small-file hazard). Rewrites the
    table into a fresh ``root.vNNNNNN`` snapshot directory and
    repoints the ``root`` SYMLINK at it with one atomic
    ``rename(symlink)`` — the snapshot protocol (round 8; see
    ``recover_compaction`` for crash states). Concurrency is defined
    by the MULTI-WRITER CONTRACT below (round 9).

    READER-VISIBLE SEMANTICS during a concurrent swap (tested in
    test_campus_streaming_and_compaction.py + the r13 wire soak,
    tests/test_wire_reader_soak.py):

    * an ENGINE reader (``read_table`` / ``load_tables`` — every
      /query) PINS the version dir current at plan time
      (``_read_current`` resolves the symlink) and keeps a complete,
      consistent snapshot through any number of swaps, because
      retired versions survive ``_SNAPSHOT_GRACE_S`` before vacuum
      (r13 snapshot isolation — the Delta/Iceberg retention idea,
      minus the log). A reader longer than grace falls back to the
      loud contract below;
    * a PLAIN reader (``spark.read.parquet(root)`` through the
      symlink path) that resolved its file listing BEFORE the swap
      fails loudly at scan time (missing input files — the compacted
      copy has fresh file names), never silently returns partial or
      mixed data; keep ``spark.sql.files.ignoreMissingFiles`` at its
      ``false`` default, which is what makes this loud;
    * a reader that starts at ANY instant sees a complete table —
      the symlink repoint is atomic, so the previous protocol's
      no-live-dir PATH_NOT_FOUND window NO LONGER EXISTS in steady
      state (this was the round-1..7 documented gap vs a
      transaction-log format). The one exception is the one-time
      MIGRATION of a legacy real-directory table into the snapshot
      layout (a dir cannot be atomically replaced by a symlink),
      which retains a microsecond-scale window once per table,
      healed by ``recover_compaction``;
    * there is no torn state in any interleaving.
    Streaming-ingested tables keep their ``batch_id`` leaf partitions
    so replay idempotence survives compaction (files merge WITHIN a
    batch partition; cross-batch merging is safe only with a log);
    post-swap appends write THROUGH the symlink into the current
    snapshot. Returns the file count after compaction.

    MULTI-WRITER CONTRACT (round 9; README 'Transactional tables'):

    * compactor vs compactor — the whole run holds this table's
      ``.compact.lock`` via non-blocking flock; a second concurrent
      ``compact_table`` raises :class:`CompactorBusy` immediately.
      flock dies with its holder, so a crashed compactor leaves no
      stale lock (and its tmp/version debris heals via
      ``recover_compaction`` on the next run).
    * writer vs compactor — cooperative mutators (every staged append
      — see ``_staging`` — and ``retention_delete``) hold the table's
      ``.write.lock`` SHARED across each operation; the compactor
      takes it EXCLUSIVELY only around the two cheap instants: the
      initial file-set capture and the validate+swap. Appends never
      wait on the minutes-long rewrite, and the rewrite never
      publishes over rows it didn't read: before the swap the
      compactor re-captures the visible file set and, if it differs
      from the pre-rewrite capture (a writer appended, a replay
      overwrote a batch partition, retention dropped a date), DROPS
      the rewritten snapshot and raises
      :class:`ConcurrentAppendDetected` — optimistic concurrency,
      the same commit-time conflict check a Delta/Iceberg log does,
      minus the multi-host story. Part-file names embed task UUIDs,
      so set equality proves no committed change happened in between
      (deletes can't be masked by re-adds with identical names), and
      uncooperative out-of-band writers are caught by the same check.
    """
    root = os.path.join(table_dir, table)
    with _flock(
        _lock_file(root, "compact"), exclusive=True, blocking=False
    ):
        return _compact_locked(spark, table_dir, table,
                               target_files_per_partition, root, sort_by)


def _compact_locked(
    spark, table_dir, table, target_files_per_partition, root, sort_by=None
) -> int:
    import glob

    recover_compaction(table_dir, table)
    if not os.path.isdir(root):
        return 0
    with _flock(_lock_file(root, "write"), exclusive=True):
        # no append in flight; the set stays valid until a writer
        # commits, which the pre-swap re-capture detects
        before = _visible_file_set(root)
        # safe point to sweep crashed-append staging debris: a live
        # writer holds the shared write lock of every table it stages
        # for (_staging), so under the exclusive lock every surviving
        # .append-* dir is orphaned
        for stale in glob.glob(root + ".append-*"):
            shutil.rmtree(stale, ignore_errors=True)
    parts = list(PARTITIONING.get(table, []))
    df = _read_current(spark, root)
    if "batch_id" in df.columns and "batch_id" not in parts:
        parts.append("batch_id")
    tmp = root + ".compact.tmp"
    _write_layout(df, parts, tmp, target_files_per_partition, sort_by)
    _publish_snapshot(root, tmp, before, "compaction")
    return len(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))


def _write_layout(
    df: DataFrame,
    parts: list,
    tmp: str,
    target_files_per_partition: int,
    sort_by: list | None = None,
) -> None:
    """Write ``df`` to ``tmp`` in the table's partition layout with at
    most ``target_files_per_partition`` files per directory (shared by
    the rewriting mutators: compact, dedupe)."""
    n_files = max(target_files_per_partition, 1)
    if not parts:
        writer = df.coalesce(n_files)
    else:
        # Repartition on (partition cols + content-hash salt), NOT
        # (n, *parts): hashing only the partition columns sends every
        # row of a directory to ONE task, serializing the rewrite
        # through #distinct-partition-values tasks (one task when the
        # table is small) and making >1 file per partition impossible.
        # The salt splits each directory across up to n_files shuffle
        # partitions, so the rewrite parallelizes across
        # #dirs × n_files tasks and each directory lands in ≤ n_files
        # files. Content-hash (deterministic) rather than rand() so a
        # retried task re-produces the same layout. Spark forbids
        # hashing MapType (anywhere in a column's type), so the salt
        # hashes only the hashable columns; a hypothetical all-map
        # table degrades to one file per directory rather than failing.
        hashable = [
            f.name for f in df.schema.fields if _hashable_type(f.dataType)
        ]
        salt = (
            F.pmod(F.xxhash64(*hashable), F.lit(n_files))
            if hashable
            else F.lit(0)
        )
        writer = (
            df.withColumn("__compact_salt", salt)
            .repartition(*parts, F.col("__compact_salt"))
            .drop("__compact_salt")
        )
    if sort_by:
        # Cluster rows inside each output file so parquet row-group
        # min/max stats become selective on the sort key: a compacted
        # time-ordered table lets a time-range scan SKIP whole row
        # groups/files instead of decoding them — the poor-man's
        # Z-order, and at 100 TB the difference between reading a
        # day and reading a partition. sortWithinPartitions is a
        # task-local sort (no exchange beyond the layout repartition
        # above).
        writer = writer.sortWithinPartitions(*sort_by)
    (
        writer.write.mode("overwrite")
        .partitionBy(*parts)
        .parquet(tmp)
    )


def _publish_snapshot(
    root: str, tmp: str, before: set, what: str
) -> None:
    """Shared snapshot-publish tail for rewriting mutators (compact,
    delete): rename the finished build to the next ``root.vNNNNNN``
    (durable completion marker — a crash after this point is the same
    recoverable unreferenced-version state the compactor protocol
    already heals), then, under an exclusive write lock, run the
    optimistic commit-time conflict check and atomically repoint the
    symlink."""
    versions = _version_dirs(root)
    nv = (_v_of(versions[-1]) + 1) if versions else 1
    vnext = f"{root}.v{nv:06d}"
    os.rename(tmp, vnext)  # durable completion marker
    with _flock(_lock_file(root, "write"), exclusive=True):
        if _visible_file_set(root) != before:
            # a writer committed during the rewrite: the snapshot in
            # vnext is missing those rows — publishing it would lose
            # them. Abort (drop vnext), leave the live table as-is.
            shutil.rmtree(vnext)
            raise ConcurrentAppendDetected(
                f"{root}: file set changed during {what}; "
                f"rewritten snapshot dropped — retry"
            )
        swap = root + ".swap"
        if os.path.lexists(swap):
            os.remove(swap)
        os.symlink(os.path.basename(vnext), swap)
        if os.path.islink(root):
            # stamp the outgoing version's RETIREMENT time — the
            # reader-grace clock (_vacuum_versions) counts from when
            # a snapshot stopped being current, not when it was
            # built (a version current for an hour would otherwise
            # age out the instant it retires, under its readers).
            # Belt (mtime) AND suspenders (a _retired_at sidecar
            # INSIDE the dir, written BEFORE the swap): if os.utime
            # fails the dir's mtime is its last-append time, which
            # can be far older than grace — vacuum would reclaim it
            # immediately under pinned readers (advisor r13). Files
            # starting with "_" are invisible to Spark's parquet
            # listing, so pinned scans never see the sidecar.
            outgoing = os.path.realpath(root)
            try:
                with open(
                    os.path.join(outgoing, "_retired_at"), "w"
                ) as fh:
                    fh.write(repr(time.time()))
            except OSError as exc:
                print(
                    f"# ciws: retirement sidecar write failed for "
                    f"{outgoing}: {exc}", file=sys.stderr,
                )
            try:
                os.utime(outgoing)
            except OSError as exc:
                print(
                    f"# ciws: retirement mtime stamp failed for "
                    f"{outgoing}: {exc}", file=sys.stderr,
                )
            # steady state: atomic symlink replacement — no window
            os.rename(swap, root)
        else:
            # one-time migration of a legacy real-dir table (rename(2)
            # cannot atomically replace a directory with a symlink):
            # microsecond window between the two renames, healed by
            # recover_compaction if a crash lands inside it — and
            # writers are excluded from it by the held write lock
            os.rename(root, f"{root}.v{0:06d}")
            os.rename(swap, root)
    _vacuum_versions(root)


def _uri_to_path(uri: str) -> str:
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(uri).path) if "://" in uri else uri


def delete_points(
    spark, table_dir: str, table: str, predicate
) -> int:
    """Row-level DELETE under the snapshot protocol (the InfluxQL
    ``DELETE FROM m WHERE ...`` statement the reference's TSDB
    supports; equivalent to Delta ``DELETE WHERE``).

    Only files CONTAINING matching rows are rewritten: one
    predicate-pushed scan finds the matching files via
    ``input_file_name()`` (partition pruning bounds it to the
    predicate's partitions), every other file is HARDLINKED into the
    next snapshot version (metadata-only — at 100 TB the rewrite cost
    is proportional to the data matched, not the table), and the
    survivors of the affected files are rewritten with the table's
    own partitioning. Publication reuses the compactor's protocol
    verbatim: ``.compact.lock`` held for the whole run (a rewrite is
    a rewrite — delete and compact never race each other),
    ``.write.lock`` around capture and validate+swap, optimistic
    conflict check, atomic symlink repoint, crash states healed by
    ``recover_compaction`` (the durable marker is the same
    ``root.vNNNNNN`` rename).

    ``predicate`` is a Column or a Spark SQL string; partition
    columns are in scope. Rows where the predicate evaluates to NULL
    are NOT deleted (InfluxDB semantics: only matching points go).
    The affected-file set is streamed to the driver one partition at
    a time (``toLocalIterator`` over per-file match counts), never
    materialized in a single aggregation row — the driver-side peak
    is one partition's worth of paths even for a broad delete over
    millions of files. Returns the number of rows deleted.

    A delete that matches EVERY row publishes a fileless snapshot:
    raw ``spark.read.parquet`` has nothing to infer from, but
    :func:`read_table` keeps working — the schema registry sidecar is
    exactly the schema-under-emptiness a transaction log provides
    (round-9 close of the gap this docstring used to document).
    """
    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    root = os.path.join(table_dir, table)
    # BLOCKING lock acquisition, unlike the compactor's fail-fast:
    # a DELETE is a user-facing statement — it should WAIT behind a
    # running maintenance rewrite (kernel flock queues waiters
    # fairly), not lose a retry-polling race against an aggressive
    # compaction cadence (r13 wire-soak finding: a wire DELETE
    # starved through 40 retries while a 20 Hz compactor loop held
    # the lock). Compactor-vs-compactor stays fail-fast
    # (CompactorBusy) — maintenance can always come back later.
    with _flock(
        _lock_file(root, "compact"), exclusive=True, blocking=True
    ):
        return _delete_locked(spark, table_dir, table, root, pred)


def _link_tree_except(current: str, tmp: str, affected_real: set) -> int:
    """Hardlink every file under the CURRENT version dir into the new
    snapshot build ``tmp``, except the ``affected_real`` paths being
    rewritten. Returns files linked.

    This is the snapshot store's commit primitive and its known scale
    bound: O(#table files) per delete-class commit, with a hardlink
    constant — tools/experiments/commit_cost_curve.py pins the
    measured curve (see BENCH_NOTES). ``current`` must be the
    realpath'd version dir: every entry under it is a regular file
    (appends rename real part files in, compaction and prior deletes
    write/link real files), so the entry path IS its canonical path
    and the membership test needs no per-file realpath() syscall
    chain. The operational bound at scale is compaction cadence — a
    compacted table holds O(#partitions) files, so the walk stays
    proportional to the partition count, not to append history; a
    multi-host object-store deployment swaps this for a transaction
    log's O(changed-files) manifest delta (README multi-writer
    contract)."""
    n = 0
    for dirpath, _dirs, files in os.walk(current):
        rel = os.path.relpath(dirpath, current)
        dst_dir = tmp if rel == "." else os.path.join(tmp, rel)
        made = False
        for fname in files:
            fp = os.path.join(dirpath, fname)
            if fp in affected_real:
                continue
            if not made:
                os.makedirs(dst_dir, exist_ok=True)
                made = True
            try:
                os.link(fp, os.path.join(dst_dir, fname))
            except OSError:
                shutil.copy2(fp, os.path.join(dst_dir, fname))
            n += 1
    return n


def _delete_locked(spark, table_dir, table, root, pred) -> int:
    recover_compaction(table_dir, table)
    if not os.path.isdir(root):
        return 0
    tmp = root + ".delete.tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # debris from a crashed earlier delete
    with _flock(_lock_file(root, "write"), exclusive=True):
        before = _visible_file_set(root)
    df = _read_current(spark, root)
    parts = list(PARTITIONING.get(table, []))
    if "batch_id" in df.columns and "batch_id" not in parts:
        parts.append("batch_id")
    # One predicate-pushed pass groups matches PER FILE; the driver
    # streams the (file, count) rows with toLocalIterator instead of
    # collect_set-ing every path into a single row — a broad delete
    # over millions of files materializes one partition at a time on
    # the driver, never the whole list in one aggregation buffer.
    per_file = (
        df.withColumn("_src", F.input_file_name())
        .where(pred)
        .groupBy("_src")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n_deleted = 0
    affected_uris: set = set()
    for row in per_file.toLocalIterator():
        n_deleted += row["n"]
        affected_uris.add(row["_src"])
    if not n_deleted:
        return 0
    affected_real = {
        os.path.realpath(_uri_to_path(u)) for u in affected_uris
    }
    current = os.path.realpath(root)
    # 1. untouched files: hardlink into the new version (copy2 on
    # filesystems without link support)
    _link_tree_except(current, tmp, affected_real)
    os.makedirs(tmp, exist_ok=True)  # all-files-affected case
    # 2. survivors of the affected files, rewritten with the table's
    # partition layout and merged into the snapshot build. Scan ONLY
    # the affected files (an input_file_name() filter over the root
    # would re-read the whole table); basePath keeps the partition
    # columns derived from the paths so ~pred can reference them and
    # the rewrite reproduces the layout.
    reader = spark.read.option("basePath", root)
    reg = _registered_schema(root)
    if reg is not None:
        # evolved tables: rewrite affected files under the FULL schema
        # so a late-added field survives even when these particular
        # files predate it (they re-emerge with explicit null columns)
        reader = reader.schema(reg)
    else:
        reader = reader.option("mergeSchema", "true")
    # NULL-safe survivor selection: under three-valued logic ~pred is
    # NULL (not true) for rows where the predicate evaluates to NULL,
    # so a bare where(~pred) would silently delete e.g. null-tag rows
    # that happen to share a file with a matched row (and the returned
    # count — rows where pred IS TRUE — would not include them).
    # InfluxDB deletes only matching points; keep NULL-evaluating rows.
    survivors = reader.parquet(
        *sorted(_uri_to_path(u) for u in affected_uris)
    ).where(~F.coalesce(pred, F.lit(False)))
    sub = tmp + ".rows"
    writer = survivors.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(sub)
    for dirpath, _dirs, files in os.walk(sub):
        rel = os.path.relpath(dirpath, sub)
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            dst_dir = tmp if rel == "." else os.path.join(tmp, rel)
            os.makedirs(dst_dir, exist_ok=True)
            os.rename(
                os.path.join(dirpath, fname), os.path.join(dst_dir, fname)
            )
    shutil.rmtree(sub)
    _publish_snapshot(root, tmp, before, "delete")
    return int(n_deleted)


def dedupe_points(
    spark,
    table_dir: str,
    table: str,
    keys: list | None = None,
    order_by: str | None = None,
    time_col: str = "time",
) -> int:
    """InfluxDB point-identity maintenance: collapse rows that share
    one (timestamp + tagset) series point down to a single winner.

    InfluxDB resolves duplicate points AT WRITE TIME — a second write
    with the same measurement, tagset, and timestamp overwrites the
    field values. This store's append path keeps both rows (appends
    are immutable files; write-time read-back would serialize
    ingest), so duplicate resolution is DEFERRED to this maintenance
    rewrite — readers between the duplicate write and the dedupe see
    both rows, which is the documented divergence from InfluxDB's
    always-deduped view.

    * ``keys`` — the series-point identity; defaults to the time
      column plus every string column (this store's tag convention).
      Partition columns derived from time (``date``) are functionally
      dependent and need not be listed.
    * winner — the row with the greatest ``order_by`` value when
      given (pass ``"batch_id"`` on streaming-ingested tables: later
      micro-batch wins = InfluxDB's last-write-wins); ties, and the
      no-``order_by`` case, fall back to the lexicographically
      greatest tuple of the remaining field columns — arrival order
      of rows inside one immutable file set is unknowable, so the
      tiebreak must be a pure function of the data (deterministic,
      engine-replayable).

    One shuffle on the key set (a groupBy max(struct), map-side
    combinable — at 100 TB the dedupe costs one exchange of the
    table, same shape as the exact-dedup operator), then a FULL-TABLE
    rewrite — unlike ``delete_points`` there is no hardlink fast path,
    because a key's winner can live in any file and rows carry no
    stable identity to re-locate it by (a transaction log's row ids
    are what make proportional-cost dedupe possible; README
    'Transactional tables'). Run it at compaction cadence, not per
    ingest batch. Publication is
    the snapshot protocol verbatim: compact lock for the whole run,
    optimistic conflict check, atomic symlink repoint, every crash
    state healed by ``recover_compaction``. Replay caveat: on
    streaming tables a replayed batch re-creates its ``batch_id``
    partition wholesale, resurrecting duplicates dedupe removed from
    it — run dedupe on settled data (the same ordering rule a log
    compaction in Kafka has). Returns rows removed.

    Because the rewrite lands 1 file per partition, a dedupe IS a
    compaction — when a maintenance window wants both, run only this
    (two full rewrites collapse to one).
    """
    root = os.path.join(table_dir, table)
    with _flock(
        _lock_file(root, "compact"), exclusive=True, blocking=False
    ):
        return _dedupe_locked(
            spark, table_dir, table, root, keys, order_by, time_col
        )


def _dedupe_locked(
    spark, table_dir, table, root, keys, order_by, time_col
) -> int:
    recover_compaction(table_dir, table)
    if not os.path.isdir(root):
        return 0
    with _flock(_lock_file(root, "write"), exclusive=True):
        before = _visible_file_set(root)
    df = _read_current(spark, root)
    parts = list(PARTITIONING.get(table, []))
    if "batch_id" in df.columns and "batch_id" not in parts:
        parts.append("batch_id")
    if keys is None:
        from pyspark.sql.types import StringType

        keys = [time_col] + [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, StringType) and f.name != time_col
        ]
    rest = [c for c in df.columns if c not in keys]
    if order_by:
        if order_by not in rest:
            raise ValueError(
                f"order_by {order_by!r} must be a non-key column"
            )
        rest = [order_by] + [c for c in rest if c != order_by]
    if not rest:  # identity = whole row: plain distinct
        winners = df.distinct()
    else:
        winners = (
            df.groupBy(*keys)
            .agg(F.max(F.struct(*rest)).alias("__w"))
            .select(*keys, *[F.col(f"__w.{c}").alias(c) for c in rest])
            .select(*df.columns)  # original column order
        )
    n_before = df.count()
    n_after = winners.count()
    if n_after == n_before:
        return 0
    tmp = root + ".dedupe.tmp"
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)  # debris from a crashed earlier dedupe
    _write_layout(winners, parts, tmp, 1)
    _publish_snapshot(root, tmp, before, "dedupe")
    return n_before - n_after


def retention_delete(
    spark, table_dir: str, table: str, horizon_date: str
) -> int:
    """A3 as an executable job: drop partitions older than ``horizon``.

    The reference's delete-oldest-files retention
    (``memory_manager.py:3-18``, broken as written; implemented as
    evidently intended per SURVEY.md §7.4.2). With a date-partitioned
    table, retention = deleting whole partition directories — pure
    metadata work, no rewrite of surviving data; equivalent to Delta
    ``DELETE WHERE date < horizon`` + VACUUM.
    """
    root = os.path.join(table_dir, table)
    deleted = 0
    if not os.path.isdir(root):
        return 0
    # shared write lock: retention is a cooperative mutator under the
    # multi-writer contract (see compact_table) — a concurrent
    # compactor must not publish a snapshot that resurrects the
    # partitions dropped here
    with table_write_lock(table_dir, table):
        for site in os.listdir(root):
            site_dir = os.path.join(root, site)
            if not os.path.isdir(site_dir):
                continue
            for part in os.listdir(site_dir):
                if part.startswith("date=") and part[5:] < horizon_date:
                    shutil.rmtree(os.path.join(site_dir, part))
                    deleted += 1
    return deleted


def table_file_count(table_dir: str, table: str) -> int:
    """Spark-visible data-file count of the CURRENT snapshot — the
    quantity the commit-cost bound is about (BENCH_NOTES §52: the
    append-time manifest walk is O(#files) at ~9µs/file, so the
    operational rule is "compact before ~1M files")."""
    root = os.path.join(table_dir, table)
    if not os.path.isdir(root):
        return 0
    return len(_visible_file_set(root))


def auto_compact(
    spark,
    table_dir: str,
    threshold: int,
    target_files_per_partition: int = 1,
) -> dict[str, int]:
    """Fire :func:`compact_table` for every table whose visible file
    count crossed ``threshold`` — the automatic enforcement of the
    §52 commit-cost bound (r12 VERDICT ask #8), so a long streaming
    append run keeps its O(#files) manifest walk bounded without
    operator attention.

    Designed for the maintenance tick (``python -m ciws_server_spark
    tick --compact-threshold N``): each tick walks each table once
    (the same ~9µs/file walk an append pays), compacts only the
    tables over the bound, and SKIPS — never fails — tables a
    concurrent compactor holds (:class:`CompactorBusy`) or where a
    writer raced the rewrite (:class:`ConcurrentAppendDetected`,
    optimistic-concurrency loser): both retry naturally on the next
    tick. Returns {table: post-compaction file count} for the tables
    it compacted."""
    out: dict[str, int] = {}
    if threshold <= 0:
        return out
    for entry in sorted(os.listdir(table_dir)):
        if "." in entry or entry.startswith("_"):
            continue
        root = os.path.join(table_dir, entry)
        if not os.path.isdir(root):
            continue
        if len(_visible_file_set(root)) < threshold:
            continue
        try:
            out[entry] = compact_table(
                spark, table_dir, entry,
                target_files_per_partition=target_files_per_partition,
            )
        except (CompactorBusy, ConcurrentAppendDetected):
            continue
    return out
