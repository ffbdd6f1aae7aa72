"""InfluxQL ops/admin plane: shards, running queries, server stats
and diagnostics, subscriptions (InfluxDB 1.x operator surface — the
statements an admin runs against the database the reference's
deployment relies on; the reference itself delegates all of this to
its InfluxDB dependency).

    SHOW SHARDS                     -- id, database, retention_policy,
                                       shard_group, start/end/expiry,
                                       owners
    SHOW SHARD GROUPS               -- id, database, retention_policy,
                                       start/end/expiry
    DROP SHARD <id>                 -- delete the shard group's window
    SHOW QUERIES                    -- qid, query, database, duration,
                                       status
    KILL QUERY <qid>                -- stop that query
    SHOW STATS                      -- (module, stat, value) rows
    SHOW DIAGNOSTICS                -- (component, key, value) rows
    CREATE SUBSCRIPTION "n" ON db."rp" DESTINATIONS ALL|ANY 'url'[,..]
    DROP SUBSCRIPTION "n" ON db."rp"
    SHOW SUBSCRIPTIONS

Spark-first mappings, stated honestly:

* **Shards** — this store has no physical shard files; its unit of
  lifecycle is the retention policy's shard-group WINDOW (the same
  windows RP enforcement ages out). SHOW SHARDS therefore derives
  the *logical* shard groups: the distinct ``shardGroupDuration``
  windows that contain any point of any measurement. The scan is a
  distributed distinct over ``floor(epoch(time)/shard_s)`` — one
  value per window per partition after partial aggregation, so the
  collect is metadata-sized (data span / shard duration), never
  row-scaled. Ids are the 1-based ordinals of the windows in time
  order, deterministic for a given store state; DROP SHARD resolves
  ids by the same enumeration (ids shift after a drop, exactly like
  re-listing — upstream's persistent ids need a meta store this
  engine deliberately doesn't have; documented divergence).
* **Queries** — Spark's long-lived query objects are Structured
  Streaming queries; SHOW QUERIES lists ``spark.streams.active``
  (qid = ordinal over queries sorted by their UUID, stable while
  the active set is unchanged) and KILL QUERY <qid> stops that
  stream. Batch InfluxQL statements are lazy DataFrames — they have
  no "running" state to list (execution happens at the caller's
  action), so upstream's batch-query rows have no analogue here.
* **Stats / diagnostics** — tall (module, stat, value) /
  (component, key, value) frames over the runtime (parallelism,
  shuffle partitions, active streams), the store (per-table visible
  file count + bytes from the snapshot protocol, when a table_dir
  is attached) and the build (versions, master).
* **Subscriptions** — a registry sidecar (same atomic-JSON shape as
  the users/RP/CQ registries). Registration + SHOW only: actual
  write-forwarding belongs to the streaming monitor's webhook
  side-output (streaming/monitor.py), which is this engine's
  delivery mechanism; the registry records WHERE a deployment wants
  copies sent.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, functions as F

from .influxql import DEFAULT_DATABASE, InfluxQLError, _unquote, result_frame

_SUBS_FILE = "_subscriptions.json"

_NAME = r"(\"[^\"]+\"|\w+)"

_SHOW_SHARDS_RE = re.compile(r"^\s*SHOW\s+SHARDS\s*;?\s*$", re.IGNORECASE)
_SHOW_SHARD_GROUPS_RE = re.compile(
    r"^\s*SHOW\s+SHARD\s+GROUPS\s*;?\s*$", re.IGNORECASE
)
_DROP_SHARD_RE = re.compile(
    r"^\s*DROP\s+SHARD\s+(?P<id>\d+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_QUERIES_RE = re.compile(r"^\s*SHOW\s+QUERIES\s*;?\s*$", re.IGNORECASE)
_KILL_QUERY_RE = re.compile(
    r"^\s*KILL\s+QUERY\s+(?P<qid>\d+)\s*;?\s*$", re.IGNORECASE
)
_SHOW_STATS_RE = re.compile(r"^\s*SHOW\s+STATS\s*;?\s*$", re.IGNORECASE)
_SHOW_DIAGNOSTICS_RE = re.compile(
    r"^\s*SHOW\s+DIAGNOSTICS\s*;?\s*$", re.IGNORECASE
)
_CREATE_SUB_RE = re.compile(
    rf"^\s*CREATE\s+SUBSCRIPTION\s+(?P<name>{_NAME})"
    rf"\s+ON\s+(?P<db>{_NAME})\s*\.\s*(?P<rp>{_NAME})"
    r"\s+DESTINATIONS\s+(?P<mode>ALL|ANY)"
    r"\s+(?P<dests>'[^']*'(?:\s*,\s*'[^']*')*)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_SUB_RE = re.compile(
    rf"^\s*DROP\s+SUBSCRIPTION\s+(?P<name>{_NAME})"
    rf"\s+ON\s+(?P<db>{_NAME})\s*\.\s*(?P<rp>{_NAME})\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_SUBS_RE = re.compile(
    r"^\s*SHOW\s+SUBSCRIPTIONS\s*;?\s*$", re.IGNORECASE
)


def _session(spark, tables):
    if spark is not None:
        return spark
    for df in tables.values():
        return df.sparkSession
    raise InfluxQLError(
        "this statement needs a SparkSession (no session and no tables)"
    )


# --------------------------------------------------------------- shards


def _default_policy(table_dir: str | None):
    """(rp_name, shard_s, duration_s) of the DEFAULT retention policy —
    the seeded autogen when no registry is attached."""
    from . import retention

    state = retention._load(table_dir)
    name = next(
        (n for n, p in sorted(state.items()) if p.get("default")),
        sorted(state)[0],
    )
    p = state[name]
    return name, int(p["shard_s"]), int(p["duration_s"])


def _shard_windows(
    tables: dict[str, DataFrame], shard_s: int, time_col: str
) -> list[int]:
    """Sorted distinct shard-group window ordinals (epoch // shard_s)
    containing any point of any measurement. Distributed distinct with
    map-side partial aggregation; the collect is bounded by
    (data span / shard duration), not by row count."""
    win = None
    for df in tables.values():
        if time_col not in df.columns:
            continue
        w = df.select(
            F.floor(
                F.col(time_col).cast("double") / F.lit(float(shard_s))
            )
            .cast("long")
            .alias("w")
        ).where(F.col("w").isNotNull())
        win = w if win is None else win.unionByName(w)
    if win is None:
        return []
    return sorted(r["w"] for r in win.distinct().collect())


def _shard_rows(spark, tables, table_dir, database, time_col):
    rp, shard_s, duration_s = _default_policy(table_dir)
    db = database or DEFAULT_DATABASE
    rows = []
    for i, w in enumerate(_shard_windows(tables, shard_s, time_col), 1):
        start = w * shard_s
        end = start + shard_s
        # expiry = window end + RP duration; an infinite RP
        # (duration 0) never expires — NULL, as upstream shows blank
        expiry = end + duration_s if duration_s else None
        rows.append((i, db, rp, start, end, expiry))
    return rows


def show_shards(spark, tables, table_dir, database, time_col="time"):
    spark = _session(spark, tables)
    rows = [
        (i, db, rp, i, start, end, expiry, "")
        for (i, db, rp, start, end, expiry) in _shard_rows(
            spark, tables, table_dir, database, time_col
        )
    ]
    out = result_frame(
        spark,
        rows,
        "id BIGINT, database STRING, retention_policy STRING, "
        "shard_group BIGINT, start_epoch BIGINT, end_epoch BIGINT, "
        "expiry_epoch BIGINT, owners STRING",
    )
    return out.select(
        "id",
        "database",
        "retention_policy",
        "shard_group",
        F.timestamp_seconds("start_epoch").alias("start_time"),
        F.timestamp_seconds("end_epoch").alias("end_time"),
        F.timestamp_seconds("expiry_epoch").alias("expiry_time"),
        "owners",
    )


def show_shard_groups(spark, tables, table_dir, database, time_col="time"):
    return show_shards(
        spark, tables, table_dir, database, time_col
    ).select(
        "id",
        "database",
        "retention_policy",
        "start_time",
        "end_time",
        "expiry_time",
    )


def drop_shard(spark, tables, m, table_dir, time_col="time") -> int:
    """DROP SHARD <id>: delete every measurement's points inside the
    shard group's window (upstream deletes the shard files; the
    window IS this store's shard). Returns rows deleted."""
    from .influxql import execute_delete

    sid = int(m.group("id"))
    rp, shard_s, _ = _default_policy(table_dir)
    windows = _shard_windows(tables, shard_s, time_col)
    if not 1 <= sid <= len(windows):
        raise InfluxQLError(f"shard not found: {sid}")
    start = windows[sid - 1] * shard_s
    end = start + shard_s
    import datetime as _dt

    lo = _dt.datetime.fromtimestamp(start, _dt.timezone.utc).replace(
        tzinfo=None
    )
    hi = _dt.datetime.fromtimestamp(end, _dt.timezone.utc).replace(
        tzinfo=None
    )
    deleted = 0
    for name in sorted(tables):
        deleted += execute_delete(
            spark,
            f'DELETE FROM "{name}" WHERE '
            f"time >= '{lo:%Y-%m-%d %H:%M:%S}' "
            f"AND time < '{hi:%Y-%m-%d %H:%M:%S}'",
            table_dir,
            time_col,
        )
    return deleted


# -------------------------------------------------------------- queries


def _active_queries(spark):
    return sorted(spark.streams.active, key=lambda q: str(q.id))


def show_queries(spark, tables, database):
    spark = _session(spark, tables)
    db = database or DEFAULT_DATABASE
    rows = []
    for i, q in enumerate(_active_queries(spark), 1):
        rows.append(
            (
                i,
                q.name or str(q.id),
                db,
                len(q.recentProgress),
                "running" if q.isActive else "stopped",
            )
        )
    return result_frame(
        spark,
        rows,
        "qid BIGINT, query STRING, database STRING, "
        "batches BIGINT, status STRING",
    )


def kill_query(spark, tables, m) -> str:
    spark = _session(spark, tables)
    qid = int(m.group("qid"))
    active = _active_queries(spark)
    if not 1 <= qid <= len(active):
        raise InfluxQLError(f"query not found: {qid}")
    q = active[qid - 1]
    name = q.name or str(q.id)
    q.stop()
    return name


# ----------------------------------------------------- stats/diagnostics


def show_stats(spark, tables, table_dir):
    spark = _session(spark, tables)
    sc = spark.sparkContext
    rows = [
        ("runtime", "defaultParallelism", float(sc.defaultParallelism)),
        ("runtime", "activeStreams", float(len(spark.streams.active))),
        ("registry", "measurements", float(len(tables))),
    ]
    try:  # AQE deployments may set this to a non-numeric sentinel
        rows.insert(
            1,
            (
                "runtime",
                "shufflePartitions",
                float(spark.conf.get("spark.sql.shuffle.partitions")),
            ),
        )
    except (TypeError, ValueError):  # pragma: no cover
        pass
    if table_dir is not None and os.path.isdir(table_dir):
        from ..sources import sinks

        for name in sorted(tables):
            root = os.path.join(table_dir, name)
            if not os.path.isdir(root):
                continue
            files = sinks._visible_file_set(root)
            rows.append((f"store:{name}", "numFiles", float(len(files))))
            rows.append(
                (
                    f"store:{name}",
                    "diskBytes",
                    float(sum(sz for _, sz in files)),
                )
            )
    return result_frame(
        spark,
        rows, "module STRING, stat STRING, value DOUBLE"
    )


def show_diagnostics(spark, tables):
    import platform
    import sys

    spark = _session(spark, tables)
    rows = [
        ("build", "sparkVersion", spark.version),
        ("build", "pythonVersion", sys.version.split()[0]),
        ("config", "master", spark.sparkContext.master),
        ("system", "platform", platform.system()),
        ("system", "arch", platform.machine()),
    ]
    return result_frame(
        spark,
        rows, "component STRING, `key` STRING, value STRING"
    )


# -------------------------------------------------------- subscriptions


def _subs_path(table_dir: str) -> str:
    return os.path.join(table_dir, _SUBS_FILE)


def _subs_load(table_dir: str) -> dict:
    try:
        with open(_subs_path(table_dir)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def _subs_store(table_dir: str, state: dict) -> None:
    tmp = _subs_path(table_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)
    os.replace(tmp, _subs_path(table_dir))


def _check_db_rp(db_tok, rp_tok, table_dir, database) -> tuple[str, str]:
    from . import retention

    db = _unquote(db_tok)
    registered = database or DEFAULT_DATABASE
    if db != registered:
        raise InfluxQLError(f"unknown database: {db!r}")
    rp = _unquote(rp_tok)
    if rp not in retention._load(table_dir):
        raise InfluxQLError(f"unknown retention policy: {rp!r}")
    return db, rp


def create_subscription(m, table_dir, database) -> str:
    name = _unquote(m.group("name"))
    db, rp = _check_db_rp(m.group("db"), m.group("rp"), table_dir, database)
    dests = re.findall(r"'([^']*)'", m.group("dests"))
    state = _subs_load(table_dir)
    key = f"{rp}.{name}"
    if key in state:
        raise InfluxQLError(f"subscription already exists: {name!r} on {rp}")
    state[key] = {
        "name": name,
        "retention_policy": rp,
        "mode": m.group("mode").upper(),
        "destinations": dests,
    }
    _subs_store(table_dir, state)
    return name


def drop_subscription(m, table_dir, database) -> bool:
    name = _unquote(m.group("name"))
    _db, rp = _check_db_rp(m.group("db"), m.group("rp"), table_dir, database)
    state = _subs_load(table_dir)
    key = f"{rp}.{name}"
    if key not in state:
        raise InfluxQLError(f"subscription not found: {name!r} on {rp}")
    del state[key]
    _subs_store(table_dir, state)
    return True


def show_subscriptions(spark, tables, table_dir):
    spark = _session(spark, tables)
    state = _subs_load(table_dir)
    rows = [
        (
            rec["retention_policy"],
            rec["name"],
            rec["mode"],
            rec["destinations"],
        )
        for _k, rec in sorted(state.items())
    ]
    return result_frame(
        spark,
        rows,
        "retention_policy STRING, name STRING, mode STRING, "
        "destinations ARRAY<STRING>",
    )
