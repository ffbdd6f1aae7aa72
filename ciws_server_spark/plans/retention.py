"""InfluxQL retention policies: the registry + the enforcement tick.

The reference relies on InfluxDB's retention machinery (its
``memory_manager.py`` deletes oldest files when space runs low —
SURVEY.md §7.4.2); this store's primitive is
``sinks.retention_delete`` (drop date partitions older than a
horizon — pure metadata work). This module adds the policy layer that
makes retention a STORE PROPERTY instead of an ad-hoc job:

    CREATE RETENTION POLICY <name> ON <db> DURATION <dur>
        REPLICATION <n> [SHARD DURATION <dur>] [DEFAULT]
    ALTER  RETENTION POLICY <name> ON <db> [DURATION <dur>]
        [REPLICATION <n>] [DEFAULT]
    DROP   RETENTION POLICY <name> ON <db>
    SHOW   RETENTION POLICIES [ON <db>]

plus ``enforce_retention(spark, table_dir, now)`` — the cron tick that
applies the DEFAULT policy's duration to every table under the dir
(one logical database, as everywhere in this engine; REPLICATION and
SHARD DURATION are recorded but physically meaningless on a
single-store parquet layout — replication is the filesystem's job).

Duration grammar: ``INF`` or ``<N><u>`` with u ∈ s/m/h/d/w (single
unit, like the bucket grammar); ``0s`` ≡ INF per InfluxDB. ``now`` is
an explicit argument (no wall-clock reads — same determinism contract
as continuous.py). The registry is a JSON sidecar written atomically;
the seed state matches what SHOW previously stubbed: one ``autogen``
policy, infinite duration, default.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timedelta

from .influxql import DEFAULT_DATABASE, InfluxQLError, _unquote, result_frame

_STATE_FILE = "_retention_policies.json"

_NAME = r"(\"[^\"]+\"|\w+)"
_CREATE_RP_RE = re.compile(
    rf"^\s*CREATE\s+RETENTION\s+POLICY\s+(?P<name>{_NAME})"
    rf"\s+ON\s+(?P<db>{_NAME})"
    r"\s+DURATION\s+(?P<dur>\S+)"
    r"\s+REPLICATION\s+(?P<repl>\d+)"
    r"(?:\s+SHARD\s+DURATION\s+(?P<shard>\S+))?"
    r"(?:\s+(?P<default>DEFAULT))?\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_RP_RE = re.compile(
    rf"^\s*ALTER\s+RETENTION\s+POLICY\s+(?P<name>{_NAME})"
    rf"\s+ON\s+(?P<db>{_NAME})"
    r"(?P<clauses>(?:\s+(?:DURATION\s+\S+|REPLICATION\s+\d+"
    r"|SHARD\s+DURATION\s+\S+|DEFAULT))+)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_RP_RE = re.compile(
    rf"^\s*DROP\s+RETENTION\s+POLICY\s+(?P<name>{_NAME})"
    rf"\s+ON\s+(?P<db>{_NAME})\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_RP_RE = re.compile(
    rf"^\s*SHOW\s+RETENTION\s+POLICIES(?:\s+ON\s+(?P<db>{_NAME}))?\s*;?\s*$",
    re.IGNORECASE,
)

_UNIT_S = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def _parse_duration(tok: str) -> int:
    """Seconds; 0 = keep forever (INF and 0s per InfluxDB)."""
    if tok.upper() == "INF":
        return 0
    dm = re.match(r"^(\d+)([smhdw])$", tok, re.IGNORECASE)
    if not dm:
        raise InfluxQLError(
            f"bad duration {tok!r} (single-unit <N><s|m|h|d|w> or INF)"
        )
    return int(dm.group(1)) * _UNIT_S[dm.group(2).lower()]


def _fmt_duration(seconds: int) -> str:
    """InfluxDB's h/m/s rendering (0 → '0s' = infinite)."""
    h, rem = divmod(seconds, 3600)
    m, s = divmod(rem, 60)
    return f"{h}h{m}m{s}s" if seconds else "0s"


def _state_path(table_dir: str) -> str:
    return os.path.join(table_dir, _STATE_FILE)


def _load(table_dir: str | None) -> dict:
    """The policy registry; the seed when ``table_dir`` is None or
    holds none yet."""
    if table_dir is not None:
        try:
            with open(_state_path(table_dir)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            pass
    # the seed every InfluxDB database starts with
    return {
        "autogen": {
            "duration_s": 0,
            "shard_s": 604800,
            "replica": 1,
            "default": True,
        }
    }


def _store(table_dir: str, state: dict) -> None:
    tmp = _state_path(table_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(state, fh, indent=1, sort_keys=True)
    os.replace(tmp, _state_path(table_dir))


def _check_db(tok: str | None, database: str | None) -> None:
    db = database or DEFAULT_DATABASE
    if tok is not None and _unquote(tok) != db:
        raise InfluxQLError(f"unknown database: {_unquote(tok)!r}")


def create_retention_policy(
    cm: re.Match, table_dir: str, database: str | None = None
) -> str:
    _check_db(cm.group("db"), database)
    name = _unquote(cm.group("name"))
    state = _load(table_dir)
    if name in state:
        raise InfluxQLError(f"retention policy already exists: {name!r}")
    state[name] = {
        "duration_s": _parse_duration(cm.group("dur")),
        "shard_s": _parse_duration(cm.group("shard"))
        if cm.group("shard")
        else 604800,
        "replica": int(cm.group("repl")),
        "default": bool(cm.group("default")),
    }
    if state[name]["default"]:
        for other in state:
            if other != name:
                state[other]["default"] = False
    _store(table_dir, state)
    return name


def alter_retention_policy(
    am: re.Match, table_dir: str, database: str | None = None
) -> str:
    _check_db(am.group("db"), database)
    name = _unquote(am.group("name"))
    state = _load(table_dir)
    if name not in state:
        raise InfluxQLError(f"retention policy not found: {name!r}")
    clauses = am.group("clauses")
    # pull SHARD DURATION out FIRST — a plain "DURATION <tok>" search
    # over the raw text would seize the shard clause's token (and a
    # same-token guard fails exactly when both durations are equal)
    sm = re.search(r"SHARD\s+DURATION\s+(\S+)", clauses, re.IGNORECASE)
    if sm:
        state[name]["shard_s"] = _parse_duration(sm.group(1))
        clauses = clauses[: sm.start()] + clauses[sm.end():]
    dm = re.search(r"DURATION\s+(\S+)", clauses, re.IGNORECASE)
    if dm:
        state[name]["duration_s"] = _parse_duration(dm.group(1))
    rm = re.search(r"REPLICATION\s+(\d+)", clauses, re.IGNORECASE)
    if rm:
        state[name]["replica"] = int(rm.group(1))
    if re.search(r"\bDEFAULT\b", clauses, re.IGNORECASE):
        for other in state:
            state[other]["default"] = other == name
    _store(table_dir, state)
    return name


def drop_retention_policy(
    dm: re.Match, table_dir: str, database: str | None = None
) -> bool:
    _check_db(dm.group("db"), database)
    name = _unquote(dm.group("name"))
    state = _load(table_dir)
    if name not in state:
        return False
    if state[name]["default"]:
        # InfluxDB refuses too: data must always land somewhere
        raise InfluxQLError(
            f"cannot drop the default retention policy {name!r}"
        )
    del state[name]
    _store(table_dir, state)
    return True


def show_retention_policies(
    spark,
    table_dir: str | None,
    database: str | None = None,
    on: str | None = None,
):
    """SHOW RETENTION POLICIES [ON db]: the registry's policies, or
    with no store dir the seeded ``autogen`` alone (duration ``0s`` =
    keep forever: retention here is an explicit partition-drop job,
    not a policy the store enforces continuously)."""
    _check_db(on, database)
    state = _load(table_dir)
    rows = [
        (
            n,
            _fmt_duration(p["duration_s"]),
            _fmt_duration(p["shard_s"]),
            p["replica"],
            p["default"],
        )
        for n, p in sorted(state.items())
    ]
    return result_frame(
        spark,
        rows,
        "name STRING, duration STRING, shardGroupDuration STRING, "
        "replicaN INT, `default` BOOLEAN",
    )


def enforce_retention(
    spark, table_dir: str, now: datetime, tables: list | None = None
) -> dict:
    """The cron tick: apply the DEFAULT policy's duration to every
    table under ``table_dir`` (or the named subset) by dropping date
    partitions entirely older than ``now − duration``.

    Partition-granular by design: a partition is dropped only when its
    whole day is past the horizon, so enforcement is pure metadata
    work at any scale (the same directory drops
    ``sinks.retention_delete`` always did — this layer just decides
    the horizon from policy instead of a hand-passed date). Duration
    0/INF → no-op. Returns {table: partitions_dropped} for tables
    where anything dropped.
    """
    from ..sources import sinks

    state = _load(table_dir)
    default = next(
        (p for p in state.values() if p.get("default")), None
    )
    if not default or not default["duration_s"]:
        return {}
    horizon = (now - timedelta(seconds=default["duration_s"])).date()
    names = tables
    if names is None:
        names = [
            e
            for e in sorted(os.listdir(table_dir))
            if "." not in e
            and not e.startswith("_")
            and os.path.isdir(os.path.join(table_dir, e))
        ]
    out: dict = {}
    for t in names:
        n = sinks.retention_delete(spark, table_dir, t, horizon.isoformat())
        if n:
            out[t] = n
    return out
