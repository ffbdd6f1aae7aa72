"""Seeded input generators for the serving-path benchmark.

Everything the engine sees is derived from the ``--seed`` argument
through this module: the seeded ``campus_flow`` store (as a Spark
column expression with an exact Python twin, so every query answer
can be predicted), the ``/write`` line-protocol bodies, the landed
residential CSVs and the order and parameters of each workload's
operations. Pure Python and deterministic: the same seed gives
byte-identical bodies, files and operation plans.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

N_BUILDINGS = 20
STEP_S = 5
STEPS_PER_DAY = 86400 // STEP_S  # 17280 points per building-day
STEPS_PER_HOUR = 3600 // STEP_S  # 720
EPOCH0 = 1704067200  # 2024-01-01T00:00:00Z

WRITE_STEPS = 100  # 100 timestamps x 20 buildings = 2000 points per /write

CSV_FILES_PER_PASS = 25
CSV_ROWS = 400
CSV_SITES = 37
CSV_QC_PER_PASS = 5  # 1 in 5 files is QC-flagged
CSV_BAD_PER_PASS = 1  # 1 in 25 files is malformed (quarantined)
CSV_ROW_STEP_S = 4

_K_MUL, _B_MUL, _MOD = 7919, 104729, 10007


def _seed_term(seed: int) -> int:
    return (seed % 1_000_003) * 7


def building_id(b: int) -> str:
    return f"B{b + 1:02d}"


def flow_rate(seed: int, b: int, k: int) -> float:
    """Value of building ``b`` at step ``k`` (5 s steps from EPOCH0)."""
    return ((k * _K_MUL + b * _B_MUL + _seed_term(seed)) % _MOD) / 100.0


def flow_rate_column(seed: int, b_col, k_col):
    """The Spark twin of :func:`flow_rate` (exact: integer arithmetic,
    then the same division)."""
    from pyspark.sql import functions as F

    return (
        (k_col * _K_MUL + b_col * _B_MUL + F.lit(_seed_term(seed))) % _MOD
    ) / 100.0


def iso(ts: int) -> str:
    return datetime.fromtimestamp(ts, timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def step_ts(k: int) -> int:
    return EPOCH0 + k * STEP_S


# ------------------------------------------------------------ queries


def panel_query(b: int, day: int) -> str:
    lo, hi = step_ts(day * STEPS_PER_DAY), step_ts((day + 1) * STEPS_PER_DAY)
    return (
        f"SELECT mean(flowRate) FROM campus_flow WHERE buildingID = "
        f"'{building_id(b)}' AND time >= '{iso(lo)}' AND time < '{iso(hi)}' "
        "GROUP BY time(1h)"
    )


def range_query(b: int, k0: int, k1: int) -> str:
    """Raw points of building ``b`` over steps ``[k0, k1)``."""
    return (
        f"SELECT flowRate FROM campus_flow WHERE buildingID = "
        f"'{building_id(b)}' AND time >= '{iso(step_ts(k0))}' "
        f"AND time < '{iso(step_ts(k1))}'"
    )


FLEET_QUERY = "SELECT last(flowRate) FROM campus_flow GROUP BY buildingID"


def expected_panel(seed: int, b: int, day: int, n_steps: int) -> list:
    """[time, mean] rows of a 1h panel over ``day`` when the store holds
    steps ``[0, n_steps)`` of building ``b``; hours without points
    return no row."""
    rows = []
    for h in range(24):
        k0 = day * STEPS_PER_DAY + h * STEPS_PER_HOUR
        k1 = min(k0 + STEPS_PER_HOUR, n_steps)
        if k1 <= k0:
            break
        vals = [flow_rate(seed, b, k) for k in range(k0, k1)]
        rows.append([iso(step_ts(k0)), sum(vals) / len(vals)])
    return rows


def expected_range(seed: int, b: int, k0: int, k1: int) -> tuple:
    """(rows, first time, last time, value sum) of a raw read of steps
    ``[k0, k1)``."""
    return (
        k1 - k0,
        iso(step_ts(k0)),
        iso(step_ts(k1 - 1)),
        sum(flow_rate(seed, b, k) for k in range(k0, k1)),
    )


# ------------------------------------------------------------ plans


#: one dashboard cycle: 60% panels, 20% raw hours, 15% fleet, 5% export
DASHBOARD_CYCLE = ("panel",) * 12 + ("raw",) * 4 + ("fleet",) * 3 + ("export",)


def dashboard_ops(seed: int, days: int):
    """Endless seeded stream of ``(kind, query, expect)`` dashboard
    operations over a store of ``days`` days, drawn one shuffled
    :data:`DASHBOARD_CYCLE` at a time so every 20 operations hold the
    exact mix. ``expect`` names the answer: ``{"panel": (b, day)}``,
    ``{"range": (b, k0, k1)}`` for raw hours and exports, or
    ``{"fleet": k}`` with ``k`` the last step every building holds."""
    rng = random.Random(f"dashboard:{seed}")
    while True:
        cycle = list(DASHBOARD_CYCLE)
        rng.shuffle(cycle)
        for kind in cycle:
            b, day = rng.randrange(N_BUILDINGS), rng.randrange(days)
            if kind == "panel":
                yield kind, panel_query(b, day), {"panel": (b, day)}
            elif kind == "fleet":
                yield kind, FLEET_QUERY, {"fleet": days * STEPS_PER_DAY - 1}
            else:
                k0 = day * STEPS_PER_DAY
                k1 = k0 + STEPS_PER_DAY
                if kind == "raw":
                    k0 += rng.randrange(24) * STEPS_PER_HOUR
                    k1 = k0 + STEPS_PER_HOUR
                yield kind, range_query(b, k0, k1), {"range": (b, k0, k1)}


def write_body(seed: int, k0: int) -> bytes:
    """A 2000-point ``precision=s`` line-protocol body: steps
    ``[k0, k0 + WRITE_STEPS)`` of every building, time-major as a
    fleet of loggers flushing together would send it."""
    lines = []
    for k in range(k0, k0 + WRITE_STEPS):
        ts = step_ts(k)
        for b in range(N_BUILDINGS):
            lines.append(
                f"campus_flow,buildingID={building_id(b)} "
                f"flowRate={flow_rate(seed, b, k)!r} {ts}"
            )
    return ("\n".join(lines) + "\n").encode()


def read_building(seed: int, write_no: int) -> int:
    """Building whose live-day panel is read after write ``write_no``."""
    return random.Random(f"read:{seed}:{write_no}").randrange(N_BUILDINGS)


# ------------------------------------------------------------ CSVs


@dataclass(frozen=True)
class CsvFile:
    name: str
    text: str
    site: int
    qc: bool
    bad: bool


def residential_batch(seed: int, pass_no: int) -> list[CsvFile]:
    """The 25 residential CSVs landed before ingest pass ``pass_no``:
    exactly 5 QC-flagged and 1 malformed (one data row with a
    non-numeric pulse count, which quarantines the whole file). File
    names are unique per pass, so the stream sees new files.

    The files of a pass come from 25 distinct sites, the next 25 of a
    seeded rotation through all 37, and a file's role follows its place
    in the rotation. So the (siteID, date) partitions each pass adds to
    ``raw_data`` and ``qc_data`` — 19 raw_data files a pass, in 19, 31,
    then all 37 site directories — are the same for every seed; the
    seed only names them. Spark lists a table directory of more than 32
    subdirectories with a distributed job, so from the third pass on
    every read of ``raw_data`` (each ``/query`` loads every table) pays
    for one, on the same pass whatever the seed."""
    rng = random.Random(f"csv:{seed}:{pass_no}")
    rotation = random.Random(f"sites:{seed}").sample(range(CSV_SITES), CSV_SITES)
    slots = []
    for i in range(CSV_FILES_PER_PASS):
        role = ("bad" if i < CSV_BAD_PER_PASS
                else "qc" if i < CSV_BAD_PER_PASS + CSV_QC_PER_PASS else "raw")
        slots.append((role, rotation[(pass_no * CSV_FILES_PER_PASS + i) % CSV_SITES]))
    rng.shuffle(slots)
    start = datetime(2021, 3, 1, tzinfo=timezone.utc) + timedelta(hours=pass_no)
    out = []
    for i, (role, site) in enumerate(slots):
        t0 = start + timedelta(seconds=rng.randrange(3600))
        lines = [
            f"Site #: {site + 1:04d}{'QC' if role == 'qc' else ''}",
            f"Datalogger #: {rng.randrange(1, 100):04d}",
            "Meter #: 0001",
            "Time,Pulses",
        ]
        bad_row = rng.randrange(CSV_ROWS) if role == "bad" else -1
        for r in range(CSV_ROWS):
            ts = (t0 + timedelta(seconds=r * CSV_ROW_STEP_S)).strftime(
                "%Y-%m-%d %H:%M:%S"
            )
            pulses = "n/a" if r == bad_row else str(rng.randrange(40))
            lines.append(f"{ts},{pulses}")
        out.append(
            CsvFile(
                name=f"p{pass_no:05d}_f{i:02d}_s{site + 1:04d}.csv",
                text="\n".join(lines) + "\n",
                site=site,
                qc=role == "qc",
                bad=role == "bad",
            )
        )
    return out
