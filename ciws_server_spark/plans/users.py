"""InfluxQL user management: the credentials registry the reference's
deployment depends on — its clients connect with a database user and
password (``get_hot_intake_interval.py:109-115``,
``transfer_manager.py:76``; the settings template carries
``database.user`` / ``database.password`` fields), so a store that
claims drop-in parity needs somewhere for that user to exist.

    CREATE USER <u> WITH PASSWORD '<p>' [WITH ALL PRIVILEGES]
    SET PASSWORD FOR <u> = '<p>'
    DROP USER <u>
    SHOW USERS                            -- (user, admin)
    GRANT READ|WRITE|ALL [PRIVILEGES] ON <db> TO <u>
    REVOKE READ|WRITE|ALL [PRIVILEGES] ON <db> FROM <u>
    GRANT ALL PRIVILEGES TO <u>           -- make admin
    REVOKE ALL PRIVILEGES FROM <u>        -- unmake admin
    SHOW GRANTS FOR <u>                   -- (database, privilege)

Passwords are stored as sha256(salt ‖ password) with a deterministic
per-user salt (sha256 of a fixed prefix + the user name): user-specific
salting defeats shared rainbow tables while keeping the engine's
no-RNG determinism contract; plaintext is never written.
``authenticate(table_dir, user, password)`` is the hook a front-end
calls with the credentials the reference's client passes. The registry
is a JSON sidecar written atomically, same shape as the retention and
CQ registries.

Semantics follow InfluxDB 1.x: duplicate CREATE USER, unknown users in
SET PASSWORD / DROP / GRANT / REVOKE / SHOW GRANTS, and unknown
databases in ON clauses are named errors; REVOKE of a privilege the
user doesn't hold is a no-op (idempotent, as upstream); a db-level
GRANT overwrites the user's previous privilege on that db (READ →
WRITE is an upgrade, not an accumulation — upstream keeps one
privilege per (user, db)).
"""

from __future__ import annotations

import hashlib
import hmac
import json
import os
import re

from .influxql import DEFAULT_DATABASE, InfluxQLError, _unquote, result_frame

_STATE_FILE = "_users.json"

_NAME = r"(\"[^\"]+\"|\w+)"
_CREATE_USER_RE = re.compile(
    rf"^\s*CREATE\s+USER\s+(?P<name>{_NAME})"
    r"\s+WITH\s+PASSWORD\s+'(?P<pw>[^']*)'"
    r"(?:\s+(?P<admin>WITH\s+ALL\s+PRIVILEGES))?\s*;?\s*$",
    re.IGNORECASE,
)
_SET_PW_RE = re.compile(
    rf"^\s*SET\s+PASSWORD\s+FOR\s+(?P<name>{_NAME})"
    r"\s*=\s*'(?P<pw>[^']*)'\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_USER_RE = re.compile(
    rf"^\s*DROP\s+USER\s+(?P<name>{_NAME})\s*;?\s*$", re.IGNORECASE
)
_SHOW_USERS_RE = re.compile(r"^\s*SHOW\s+USERS\s*;?\s*$", re.IGNORECASE)
_GRANT_RE = re.compile(
    r"^\s*GRANT\s+(?P<priv>READ|WRITE|ALL)(?:\s+PRIVILEGES)?"
    rf"(?:\s+ON\s+(?P<db>{_NAME}))?"
    rf"\s+TO\s+(?P<name>{_NAME})\s*;?\s*$",
    re.IGNORECASE,
)
_REVOKE_RE = re.compile(
    r"^\s*REVOKE\s+(?P<priv>READ|WRITE|ALL)(?:\s+PRIVILEGES)?"
    rf"(?:\s+ON\s+(?P<db>{_NAME}))?"
    rf"\s+FROM\s+(?P<name>{_NAME})\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_GRANTS_RE = re.compile(
    rf"^\s*SHOW\s+GRANTS\s+FOR\s+(?P<name>{_NAME})\s*;?\s*$",
    re.IGNORECASE,
)


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
    os.replace(tmp, _state_path(table_dir))


def _hash_password(user: str, password: str) -> str:
    salt = hashlib.sha256(f"ciws-user:{user}".encode()).hexdigest()
    return hashlib.sha256((salt + password).encode()).hexdigest()


def authenticate(table_dir: str, user: str, password: str) -> bool:
    """Front-end credential check (constant-time digest compare)."""
    rec = _load(table_dir).get(user)
    if rec is None:
        return False
    return hmac.compare_digest(rec["hash"], _hash_password(user, password))


def _require(state: dict, name: str) -> dict:
    if name not in state:
        raise InfluxQLError(f"user not found: {name!r}")
    return state[name]


def _check_db(db_tok: str | None, database: str | None) -> str:
    db = _unquote(db_tok) if db_tok else None
    registered = database or DEFAULT_DATABASE
    if db is None:
        raise InfluxQLError(
            "database-level GRANT/REVOKE requires ON <db> "
            "(use ALL PRIVILEGES without ON for admin)"
        )
    if db != registered:
        raise InfluxQLError(f"unknown database: {db!r}")
    return db


def create_user(m: re.Match, table_dir: str) -> str:
    name = _unquote(m.group("name"))
    state = _load(table_dir)
    if name in state:
        raise InfluxQLError(f"user already exists: {name!r}")
    state[name] = {
        "hash": _hash_password(name, m.group("pw")),
        "admin": bool(m.group("admin")),
        "grants": {},
    }
    _store(table_dir, state)
    return name


def set_password(m: re.Match, table_dir: str) -> str:
    name = _unquote(m.group("name"))
    state = _load(table_dir)
    _require(state, name)["hash"] = _hash_password(name, m.group("pw"))
    _store(table_dir, state)
    return name


def drop_user(m: re.Match, table_dir: str) -> bool:
    name = _unquote(m.group("name"))
    state = _load(table_dir)
    _require(state, name)
    del state[name]
    _store(table_dir, state)
    return True


def grant(m: re.Match, table_dir: str, database: str | None) -> str:
    name = _unquote(m.group("name"))
    priv = m.group("priv").upper()
    state = _load(table_dir)
    rec = _require(state, name)
    if m.group("db") is None:
        if priv != "ALL":
            raise InfluxQLError(
                "READ/WRITE grants are database-scoped: GRANT ... ON <db>"
            )
        rec["admin"] = True  # GRANT ALL PRIVILEGES TO u
    else:
        rec["grants"][_check_db(m.group("db"), database)] = priv
    _store(table_dir, state)
    return name


def revoke(m: re.Match, table_dir: str, database: str | None) -> str:
    name = _unquote(m.group("name"))
    priv = m.group("priv").upper()
    state = _load(table_dir)
    rec = _require(state, name)
    if m.group("db") is None:
        if priv != "ALL":
            raise InfluxQLError(
                "READ/WRITE revokes are database-scoped: REVOKE ... ON <db>"
            )
        rec["admin"] = False
    else:
        db = _check_db(m.group("db"), database)
        held = rec["grants"].get(db)
        if priv == "ALL" or held == priv:
            rec["grants"].pop(db, None)  # idempotent, as upstream
        elif held == "ALL":
            # upstream demotes: ALL minus READ leaves WRITE (and
            # vice versa) — privileges are single-valued per (u, db)
            rec["grants"][db] = "WRITE" if priv == "READ" else "READ"
        # else: revoking a privilege not held is a no-op
    _store(table_dir, state)
    return name


def show_users(spark, table_dir: str):
    state = _load(table_dir)
    rows = [(n, bool(state[n]["admin"])) for n in sorted(state)]
    return result_frame(
        spark, rows, "user STRING NOT NULL, admin BOOLEAN NOT NULL"
    )


def show_grants(spark, table_dir: str, m: re.Match):
    name = _unquote(m.group("name"))
    rec = _require(_load(table_dir), name)
    rows = [(db, p) for db, p in sorted(rec["grants"].items())]
    if rec["admin"]:
        # upstream reports an admin as ALL PRIVILEGES on every db
        rows = [(db, "ALL PRIVILEGES") for db, _ in rows] or [
            (DEFAULT_DATABASE, "ALL PRIVILEGES")
        ]
    return result_frame(
        spark, rows, "database STRING NOT NULL, privilege STRING NOT NULL"
    )


# ---------------------------------------------------------- enforcement

def authorize(
    table_dir: str,
    user: str,
    password: str,
    need: str,
    database: str | None,
) -> None:
    """Front-door enforcement: authenticate, then check a statement's
    required privilege ``need`` (``admin`` | ``WRITE`` | ``READ``, the
    ``privilege`` of its parsed :class:`~.influxql.Statement`) against
    the user's grants.

    Named errors mirror upstream's HTTP semantics: bad credentials →
    'authentication failed' (401), a privilege the user lacks →
    'permission denied' (403). An EMPTY registry means auth is not
    configured — everything passes, matching InfluxDB's
    auth-disabled default (and the reference deployments that
    predate user setup)."""
    state = _load(table_dir)
    if not state:
        return
    if user is None:
        # upstream returns 401 for credential-less requests the
        # moment auth is enabled — a missing 'u' param is an
        # authentication failure, never a bypass
        raise InfluxQLError(
            "authentication failed: credentials required"
        )
    if not authenticate(table_dir, user, password):
        raise InfluxQLError(f"authentication failed for user {user!r}")
    rec = state[user]
    if rec.get("admin"):
        return
    if need == "admin":
        raise InfluxQLError(
            f"permission denied: {user!r} is not admin"
        )
    db = database or DEFAULT_DATABASE
    held = rec.get("grants", {}).get(db)
    # upstream 1.x privileges are single-valued and independent:
    # WRITE does not imply READ (and vice versa); ALL covers both
    if held == "ALL" or held == need:
        return
    raise InfluxQLError(
        f"permission denied: {user!r} lacks {need} on {db!r}"
    )
