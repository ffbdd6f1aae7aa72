"""InfluxQL text front-end (SURVEY.md §2.11, §4 disposition (a)).

The reference's query language is InfluxQL; the single query shape its
code issues is projection + tag equality + closed time range
(``get_hot_intake_interval.py:117``):

    SELECT "hotOutFlowRate", "buildingID" FROM "flow"
    WHERE "buildingID" = 'A' AND time >= '...' AND time <= '...'

This module accepts that shape — plus the standard InfluxQL
time-bucket aggregation surface a tsdb user expects
(``GROUP BY time(1h)[, tag]`` with mean/sum/count/min/max/first/last,
and ``LIMIT``) — as TEXT, and translates it string-level into a
DataFrame plan. No Catalyst rule, no engine fork: the translation
targets the public DataFrame API, so Catalyst optimizes the result
exactly like a hand-written query (predicate pushdown, partition
pruning on tag/date columns).

Grammar (case-insensitive keywords):

    SELECT <item> [, <item>...]
    [INTO <target>]                          -- write-back (execute_into)
    FROM <measurement> | ( <statement> )     -- subqueries nest inside-out
    [WHERE <bool>]
    [GROUP BY time(<N><u>) [, <tag>...] [fill(<mode>)]]
    [ORDER BY time [ASC|DESC]]
    [LIMIT <n>] [OFFSET <n>] [SLIMIT <n>] [SOFFSET <n>]
                                             -- point + series pagination
                                             -- (OFFSET skips points,
                                             -- SOFFSET skips series;
                                             -- per-series when LIMIT
                                             -- combines with SLIMIT)
    [tz('<IANA zone>')]                      -- local-time bucket
                                             -- alignment + local WHERE
                                             -- literals (plain strings
                                             -- only: epoch ints and
                                             -- zone-suffixed strings
                                             -- stay absolute); fill()
                                             -- composes — the dense
                                             -- axis sits on the local
                                             -- wall-clock grid

    item  := "col" | col | agg(col) | agg("col") | agg(*) | * | xform
          |  math-expr                         -- point-wise math calls
                                               -- (InfluxDB 1.5+): abs,
                                               -- acos, asin, atan,
                                               -- atan2(y,x), ceil, cos,
                                               -- exp, floor, ln,
                                               -- log(x,b), log2, log10,
                                               -- pow(x,e), round, sin,
                                               -- sqrt, tan — over a
                                               -- field (raw points) or
                                               -- an aggregate, freely
                                               -- composed with select
                                               -- arithmetic; domain
                                               -- errors (acos(2),
                                               -- sqrt(-1)) yield NULL,
                                               -- mirroring InfluxDB's
                                               -- emit-no-point
    agg   := mean|sum|count|min|max|first|last
          |  spread|stddev|median|mode       -- max−min / sample stddev
                                             -- (rounded 6dp) / middle-
                                             -- or-mean-of-two / most-
                                             -- frequent (ties→smallest)
          |  percentile(col, <p>)            -- nearest-rank, InfluxQL's
                                             -- floor(n*p/100 + 0.5) index
    xform := derivative(arg [, <dur>])       -- Δv/Δt scaled to <dur>
          |  non_negative_derivative(arg [, <dur>])
          |  moving_average(arg, <n>)        -- trailing n-point mean
          |  difference(arg)                 -- v − prev v
          |  non_negative_difference(arg)
          |  cumulative_sum(arg)             -- running sum per series
          |  elapsed(col [, <dur>])          -- int Δt in units (dflt ns)
          |  integral(col [, <dur>])         -- trapezoid area per bucket
                                             -- (dflt per-second)
          |  chande_momentum_oscillator(arg, <n>)   -- TA (window)
          |  kaufmans_efficiency_ratio(arg, <n>)    -- TA (window)
          |  relative_strength_index(arg, <n>)      -- TA (fold)
          |  kaufmans_adaptive_moving_average(arg, <n>)  -- TA (fold)
          |  double_exponential_moving_average(arg, <n>) -- TA (fold)
          |  triple_exponential_moving_average(arg, <n>) -- TA (fold)
          |  triple_exponential_derivative(arg, <n>)     -- TA (fold)
          |  holt_winters[_with_fit](agg, <N>, <S>) -- additive HW
                                             -- forecast (see below)
          |  top(col, <n>) | bottom(col, <n>)-- n extreme POINTS per
                                             -- bucket/series, original
                                             -- timestamps kept
          |  exponential_moving_average(arg, <n>)
                                             -- α=2/(n+1), seeded at the
                                             -- first point, emitted
                                             -- from the n-th
    arg   := col | agg(col)                  -- agg form needs time(...)
    bool  := <bool> OR <bool> | <bool> AND <bool> | ( <bool> ) | cond
    cond  := col <op> 'value' | time <op> 'ts' | col =~ /re/ | col !~ /re/
    op    := = | != | <> | >= | <= | > | <
    mode  := none | null | previous | linear | <number>
    unit  := s|m|h|d|w (time(1h), time(30m), time(1w), ...)

Transforms follow InfluxQL 1.x semantics: ``derivative`` emits one row
per point after the first of each series ((v−prev)/(Δt seconds) ×
unit, default unit = the GROUP BY time interval for the aggregated
form, 1s for the raw form); ``non_negative_derivative`` additionally
drops negative results; ``moving_average(x, n)`` emits the trailing
n-point mean starting at the n-th point. The aggregated forms compose
with ``fill()`` (fill runs first, as InfluxQL does). All are window
expressions over the bucket/series machinery — one shuffle on the
series key, no self-joins.

Metadata statements: ``SHOW DATABASES``, ``SHOW RETENTION POLICIES
[ON db]`` (the single logical database + the InfluxDB 1.x default
``autogen`` policy row — retention here is an explicit partition-drop
job, not a store-enforced policy), ``SHOW MEASUREMENTS``,
``SHOW TAG KEYS FROM m``
(string columns), ``SHOW FIELD KEYS FROM m`` (typed value columns) —
schema introspection over the measurement registry, no scan — and
``SHOW TAG VALUES FROM m WITH KEY = "k"`` (distinct values of one
tag: the one metadata statement that scans, a partial-agg'd distinct
over the pruned single-column projection).

Continuous queries (``CREATE CONTINUOUS QUERY ... BEGIN <select-into>
END``, ``SHOW CONTINUOUS QUERIES``, ``DROP CONTINUOUS QUERY``) live in
:mod:`.continuous`, dispatched here — the scheduler tick is
``continuous.run_due_continuous_queries``.

Ops/admin plane (``SHOW SHARDS`` / ``SHOW SHARD GROUPS`` /
``DROP SHARD`` over the retention policy's logical shard-group
windows, ``SHOW QUERIES`` / ``KILL QUERY`` over active streaming
queries, ``SHOW STATS`` / ``SHOW DIAGNOSTICS``, and the
``CREATE/DROP SUBSCRIPTION`` + ``SHOW SUBSCRIPTIONS`` registry) lives
in :mod:`.admin`, dispatched from :func:`run_influxql`.
``EXPLAIN [ANALYZE] SELECT ...`` returns upstream's one-text-column
``QUERY PLAN`` shape with Catalyst's formatted physical plan as the
body (:func:`execute_explain`).

``fill()`` follows InfluxQL: it requires a closed time range in WHERE
(the dense bucket axis is generated from those bounds), emits one row
per (series, bucket), and fills empty buckets with null / the
previous value (LOCF) / a constant. ``fill(none)`` is the default
drop-empty-buckets behavior.

The technical-analysis tail IS supported (round 9):
``chande_momentum_oscillator`` and ``kaufmans_efficiency_ratio`` as
plain window functions; ``relative_strength_index`` (Wilder),
``kaufmans_adaptive_moving_average``, ``double/triple_exponential_
moving_average``, and ``triple_exponential_derivative`` as per-series
Arrow folds on the EMA machinery (same raw-series cap, same
buckets × series bound in the aggregated form), each with a
documented deterministic recursion and a term-for-term recursive-CTE
oracle. ``holt_winters`` / ``holt_winters_with_fit`` are supported
as textbook ADDITIVE Holt-Winters with a deterministic Nelder-Mead
SSE fit — a documented divergence: InfluxDB 1.x fits the same
objective with its own internal optimizer state, so exact doubles
need not match (there is no deterministic public spec to verify
against; correctness is pinned by property tests — a perfectly
seasonal/trended series must forecast its own continuation). OUT OF
SURFACE (explicitly unsupported; parsing raises rather than silently
mis-reading): ``histogram`` (reserved-but-unimplemented in InfluxQL
1.x itself). ``sample(f, N)`` IS supported, with a documented
divergence: InfluxDB's sample is nondeterministic; ours orders
points by ``xxhash64(time)`` and keeps the first N per bucket/series
— a uniform-looking, REPRODUCIBLE sample (same statement + same data
→ same points), which is the property a pipeline actually wants.

EXTENSION (beyond InfluxQL 1.x, explicitly flagged): ``GROUP BY
time(Nmo)`` / ``time(Ny)`` — calendar month/year buckets. InfluxQL
1.x itself has no calendar units (its ``w`` is a fixed 604800 s
epoch-aligned span), but monthly/quarterly rollups are the single
most common dashboard ask, so the front-end accepts calendar buckets
and documents the divergence here. Semantics: the month axis is
anchored at the epoch (1970-01), and ``time(Nmo)`` tiles it in
N-month groups — so ``time(3mo)`` is calendar quarters
(Jan/Apr/Jul/Oct) and ``time(1y)`` ≡ ``time(12mo)`` is calendar
years. A month-aligned offset shifts the grid: ``time(3mo, 1mo)``
= Feb/May/Aug/Nov fiscal quarters, ``time(1y, 6mo)`` = July-June
fiscal years. Offsets on calendar buckets must themselves be
month-aligned (``mo``/``y``) — a sub-month offset has no calendar
meaning and raises. ``time(1mo)``/``time(1y)`` with no offset lower
to plain ``date_trunc``. With ``tz()``, truncation happens in local
wall-clock time like the fixed-span units. ``derivative``/``non_
negative_derivative`` with the DEFAULT unit over calendar buckets
normalize per bucket STEP (Δv divided by the exact number of N-month
grid steps between the two buckets — adjacent buckets give a plain
difference, a k-bucket gap gives Δv/k), the calendar analogue of
InfluxQL's unit-equals-interval default; an explicit fixed-span unit
still works and rates against wall-clock Δt.
"""

from __future__ import annotations

import functools
import os
import re
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class InfluxQLError(ValueError):
    pass


#: Per-series point cap for exponential_moving_average over a RAW
#: (non-aggregated) field. The raw form folds an entire series through
#: one Python worker (see the EMA branch in _apply_transform); 5M
#: points ≈ 120 MB of Arrow batches per group — comfortably inside an
#: executor's Python worker, while anything hotter must be bucketed
#: with GROUP BY time(...) first. The aggregated form
#: ema(mean(f), n) is bounded at buckets × series and is exempt.
EMA_RAW_MAX_SERIES_ROWS = 5_000_000


def _holt_winters(y, season: int, horizon: int):
    """Additive Holt-Winters fit + forecast (numpy only).

    Returns (fit_indices, one_step_fitted, forecasts): the indices into
    ``y`` where a one-step-ahead prediction exists (past the init
    window), those predictions under the SSE-optimal smoothing
    parameters, and ``horizon`` forecasts continuing the series.

    Init (textbook): with season S — level = mean of the first season,
    trend = (mean of season 2 − mean of season 1)/S (last-first slope
    when only one full season exists), seasonal components = first
    season's deviations; without — level = y0, trend = y1 − y0.
    Parameters are clipped to [1e-4, 1] inside the objective, so the
    deterministic Nelder-Mead needs no constraint handling.
    """
    import numpy as np

    n = len(y)

    def run(params):
        if season:
            a, b_, g = params
            S = season
            level = y[:S].mean()
            trend = (
                (y[S : 2 * S].mean() - y[:S].mean()) / S
                if n >= 2 * S
                else (y[-1] - y[0]) / max(n - 1, 1)
            )
            seas = (y[:S] - level).astype(float)
            start = S
        else:
            a, b_ = params
            g = 0.0
            level, trend = y[0], y[1] - y[0]
            seas, S = None, 0
            start = 1
        preds = np.empty(n - start)
        for i, t in enumerate(range(start, n)):
            s_t = seas[t % S] if season else 0.0
            preds[i] = level + trend + s_t
            new_level = a * (y[t] - s_t) + (1 - a) * (level + trend)
            trend = b_ * (new_level - level) + (1 - b_) * trend
            if season:
                seas[t % S] = g * (y[t] - new_level) + (1 - g) * s_t
            level = new_level
        fcs = np.empty(horizon)
        for h in range(1, horizon + 1):
            s_f = seas[(n - 1 + h) % S] if season else 0.0
            fcs[h - 1] = level + h * trend + s_f
        return preds, fcs, start

    def sse(x):
        import numpy as _np

        p = _np.clip(x, 1e-4, 1.0)
        preds, _, start = run(p)
        return float(((y[start:] - preds) ** 2).sum())

    x0 = np.array([0.5, 0.1, 0.1] if season else [0.5, 0.1])
    best = np.clip(_nelder_mead(sse, x0), 1e-4, 1.0)
    preds, fcs, start = run(best)
    return list(range(start, n)), preds, fcs


def _nelder_mead(f, x0, iters: int = 200):
    """Minimal deterministic Nelder-Mead (fixed start simplex, fixed
    iteration budget) — enough for the 2-3 smooth parameters of
    Holt-Winters without pulling in scipy."""
    import numpy as np

    n = len(x0)
    simplex = [np.array(x0, dtype=float)]
    for i in range(n):
        x = np.array(x0, dtype=float)
        x[i] = min(1.0, x[i] + 0.25)
        simplex.append(x)
    vals = [f(x) for x in simplex]
    for _ in range(iters):
        order = list(np.argsort(vals))
        simplex = [simplex[i] for i in order]
        vals = [vals[i] for i in order]
        if abs(vals[-1] - vals[0]) < 1e-12:
            break
        centroid = np.mean(simplex[:-1], axis=0)
        xr = centroid + (centroid - simplex[-1])
        fr = f(xr)
        if fr < vals[0]:
            xe = centroid + 2 * (centroid - simplex[-1])
            fe = f(xe)
            simplex[-1], vals[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < vals[-2]:
            simplex[-1], vals[-1] = xr, fr
        else:
            xc = centroid + 0.5 * (simplex[-1] - centroid)
            fc_ = f(xc)
            if fc_ < vals[-1]:
                simplex[-1], vals[-1] = xc, fc_
            else:
                for i in range(1, n + 1):
                    simplex[i] = simplex[0] + 0.5 * (simplex[i] - simplex[0])
                    vals[i] = f(simplex[i])
    return simplex[int(np.argmin(vals))]


def _guard_raw_series(base: DataFrame, tag_cols: list[str]) -> None:
    """SCALE BOUND for per-series recursive folds over RAW fields: the
    whole series lands in one Python worker, so an over-cap series is
    an OOM/straggler at 100 TB. One cheap partial-aggregated count
    pass; an over-cap series raises a named error telling the user to
    bucket first (agg + GROUP BY time(...) — bounded at buckets ×
    series, the production shape). Aggregated forms are exempt.
    (Explicit alias, NOT .count(): a tag column literally named
    "count" would make F.col("count") ambiguous.)"""
    oversized = (
        base.groupBy(*tag_cols)
        .agg(F.count(F.lit(1)).alias("__fold_series_rows"))
        .where(F.col("__fold_series_rows") > EMA_RAW_MAX_SERIES_ROWS)
        .limit(1)
        .collect()
    )
    if oversized:
        raise InfluxQLError(
            "per-series recursive transforms over a raw field are "
            f"capped at {EMA_RAW_MAX_SERIES_ROWS} points per series "
            "(a longer series cannot fold in one worker); aggregate "
            "first, e.g. fn(mean(f), n) with GROUP BY time(...)"
        )


_QUERY_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.+?)"
    r"(?:\s+INTO\s+(?P<into>\S+))?"
    r"\s+FROM\s+(?P<from>\S+(?:\s*,\s*\S+)*)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>.+?))?"
    r"(?:\s+fill\s*\(\s*(?P<fill>[^)]*?)\s*\))?"
    r"(?:\s+(?P<orderby>ORDER\s+BY\s+\"?time\"?)(?:\s+(?P<order>ASC|DESC))?)?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
    r"(?:\s+OFFSET\s+(?P<offset>\d+))?"
    r"(?:\s+SLIMIT\s+(?P<slimit>\d+))?"
    r"(?:\s+SOFFSET\s+(?P<soffset>\d+))?"
    r"(?:\s+tz\s*\(\s*'(?P<tz>[^']+)'\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_AGG_RE = re.compile(
    r"^(mean|sum|count|min|max|first|last|spread|stddev|median|mode)"
    r"\s*\(\s*(.+?)\s*\)$",
    re.I,
)
_PERC_RE = re.compile(
    r"""^percentile\s*\(\s*("[^"]+"|\w+)\s*,\s*(\d+(?:\.\d+)?)\s*\)$""", re.I
)
_TRANSFORM_RE = re.compile(
    r"^(derivative|non_negative_derivative|moving_average|difference"
    r"|non_negative_difference|cumulative_sum|elapsed|integral"
    r"|exponential_moving_average|chande_momentum_oscillator"
    r"|kaufmans_efficiency_ratio|kaufmans_adaptive_moving_average"
    r"|relative_strength_index|double_exponential_moving_average"
    r"|triple_exponential_moving_average|triple_exponential_derivative"
    r"|holt_winters|holt_winters_with_fit)"
    r"\s*\(\s*(.+?)\s*\)$",
    re.I,
)

#: Technical-analysis transforms that are single recursive folds per
#: series (state cannot be windowed in closed form) — they share the
#: EMA applyInPandas machinery and the EMA raw-form series-size cap.
_TA_FOLDS = {
    "relative_strength_index",
    "kaufmans_adaptive_moving_average",
    "double_exponential_moving_average",
    "triple_exponential_moving_average",
    "triple_exponential_derivative",
}
#: TA transforms expressible as plain window functions.
_TA_WINDOWS = {"chande_momentum_oscillator", "kaufmans_efficiency_ratio"}

#: Named-but-unsupported 1.x functions — raise a named error instead of
#: falling through to column resolution (module docstring, OUT OF
#: SURFACE).
_UNSUPPORTED_FN_RE = re.compile(r"^(histogram)\s*\(", re.I)
_SELECTOR_RE = re.compile(
    r"""^(top|bottom|sample)\s*\(\s*("[^"]+"|\w+)\s*"""
    r"""(?:,\s*("[^"]+"|\w+)\s*)?,\s*(\d+)\s*\)$""",
    re.I,
)
_DISTINCT_RE = re.compile(r"""^distinct\s*\(\s*("[^"]+"|\w+)\s*\)$""", re.I)
# count(distinct(f)) / count(DISTINCT f) — upstream's one legal
# aggregate nesting
_COUNT_DISTINCT_RE = re.compile(
    r"""^count\s*\(\s*distinct\s*"""
    r"""(?:\(\s*("[^"]+"|\w+)\s*\)|\s+("[^"]+"|\w+))\s*\)$""",
    re.I,
)
_DURATION_RE = re.compile(r"^(\d+)\s*([smhdw])$", re.I)
# rhs regex literal: body allows \-escapes (incl. \/) per InfluxQL
_COND_RE = re.compile(
    r"""^(?P<lhs>"[^"]+"|\w+)\s*(?P<op>>=|<=|!=|<>|=~|!~|>|<|=)\s*"""
    r"""(?P<rhs>'[^']*'|/(?:[^/\\]|\\.)*/|\S+)$"""
)
_TIME_BUCKET_RE = re.compile(
    r"^time\s*\(\s*(\d+)\s*(mo|y|[smhdw])\s*"
    r"(?:,\s*(\d+)\s*(mo|y|[smhdw])\s*)?\)$",
    re.I,
)

# 1w = 604800s, epoch-aligned: InfluxQL weeks are fixed 7-day spans
# whose boundaries fall on the epoch grid (1970-01-01, a Thursday) —
# the same floor the other units use; month/year buckets use the
# calendar month axis below instead (irregular spans).
_UNIT_SECONDS = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


class _CalendarBucket(NamedTuple):
    """A calendar bucket: N months wide, grid shifted by ``offset``
    months, both on the epoch-anchored month axis (1970-01 = month 0).
    ``time(1y)`` is months=12; ``time(3mo, 1mo)`` is (3, 1). Fixed
    (seconds-denominated) buckets stay plain ints — every consumer
    branches on isinstance."""

    months: int
    offset: int = 0


def _calendar_floor(c, months: int, offset: int):
    """Floor a timestamp column to its calendar-bucket start.

    months-since-epoch arithmetic: ms = 12·(year−1970) + (month−1);
    bucket = floor((ms − offset) / months)·months + offset; back to a
    timestamp via make_date on the (year, month) split. floor-division
    (not %) so pre-1970 instants and offset > months both land on the
    correct grid cell. (1, 0) and (12, 0) take the cheaper date_trunc
    path — identical results, simpler plan."""
    if offset % months == 0:
        if months == 1:
            return F.date_trunc("month", c)
        if months == 12:
            return F.date_trunc("year", c)
    ms = (F.year(c) - F.lit(1970)) * F.lit(12) + F.month(c) - F.lit(1)
    bm = (
        F.floor((ms - F.lit(offset)) / F.lit(months)).cast("long")
        * F.lit(months)
        + F.lit(offset)
    )
    y = (F.lit(1970) + F.floor(bm / F.lit(12))).cast("int")
    mth = (F.pmod(bm, F.lit(12)) + F.lit(1)).cast("int")
    return F.to_timestamp(F.make_date(y, mth, F.lit(1)))


def _bucket_expr(
    time_col: str,
    bucket_secs: int | _CalendarBucket,
    bucket_offset: int = 0,
    tz: str | None = None,
):
    """Epoch-aligned (± offset) bucket start, like InfluxQL.

    With ``tz('Zone')`` the floor happens in LOCAL wall-clock time
    (shift in, floor, shift out), so ``time(1d)`` buckets align to
    local midnight across DST transitions — each instant uses its own
    zone offset. The output stays a UTC instant.
    """
    c = F.col(time_col)
    if tz:
        c = F.from_utc_timestamp(c, tz)
    if isinstance(bucket_secs, _CalendarBucket):
        # calendar extension (see module docstring) — irregular spans,
        # so floor on the month axis instead of epoch arithmetic
        b = _calendar_floor(c, bucket_secs.months, bucket_secs.offset)
    else:
        b = F.timestamp_seconds(
            ((F.unix_timestamp(c) - bucket_offset) / bucket_secs).cast("long")
            * bucket_secs
            + bucket_offset
        )
    if tz:
        b = F.to_utc_timestamp(b, tz)
    return b.alias("time_bucket")


def _split_commas(expr: str) -> list[str]:
    """Split on commas at paren depth 0 (time(1h, 30m) stays whole)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(expr):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(expr[start:i])
            start = i + 1
    parts.append(expr[start:])
    return parts


def _split_top(expr: str, keyword: str) -> list[str]:
    """Split on a keyword at paren depth 0, outside quoted strings."""
    parts, depth, in_q, i, start = [], 0, None, 0, 0
    kw = keyword.upper()
    n = len(expr)
    while i < n:
        ch = expr[i]
        if in_q:
            if ch == in_q:
                in_q = None
        elif ch in "'\"":
            in_q = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif (
            depth == 0
            and expr[i : i + len(kw)].upper() == kw
            and (i == 0 or not expr[i - 1].isalnum())
            and (i + len(kw) >= n or not expr[i + len(kw)].isalnum())
        ):
            parts.append(expr[start:i])
            i += len(kw)
            start = i
            continue
        i += 1
    parts.append(expr[start:])
    return parts


_NOW_RE = re.compile(
    r"now\(\)(?:\s*([+-])\s*(\d+)(s|m|h|d|w))?", re.IGNORECASE
)
_NOW_UNIT_S = {"s": 1, "m": 60, "h": 3600, "d": 86400, "w": 604800}


def _resolve_now(query: str, now) -> str:
    """Substitute ``now() [± <dur>]`` with literal timestamps — the
    canonical InfluxQL dashboard predicate (``WHERE time > now() - 1h``).

    ``now`` is always caller-supplied (the engine never reads the wall
    clock — the same determinism contract as the CQ scheduler); a
    query that uses now() without one is a named error. Quoted string
    spans are left untouched. Rewriting TEXT before parsing keeps the
    whole recursive predicate grammar now-free."""

    def sub_segment(seg: str) -> str:
        def repl(m: re.Match) -> str:
            if now is None:
                raise InfluxQLError(
                    "query uses now() — pass now=<datetime> "
                    "(this engine never reads the wall clock)"
                )
            import datetime as _dt

            delta = _dt.timedelta(
                seconds=int(m.group(2)) * _NOW_UNIT_S[m.group(3).lower()]
            ) if m.group(1) else _dt.timedelta(0)
            ts = now - delta if m.group(1) == "-" else now + delta
            fmt = "%Y-%m-%d %H:%M:%S.%f" if ts.microsecond else (
                "%Y-%m-%d %H:%M:%S"
            )
            return f"'{ts.strftime(fmt)}'"

        return _NOW_RE.sub(repl, seg)

    if "now" not in query.lower():
        return query
    # split on single-quoted literals so a tag value containing
    # "now()" is never rewritten
    parts = re.split(r"('[^']*')", query)
    return "".join(
        p if p.startswith("'") else sub_segment(p) for p in parts
    )


def _where_expr(
    expr: str,
    time_col: str,
    bounds: dict,
    tz: str | None = None,
    columns: set | None = None,
):
    """Recursive descent over OR → AND → atom, with parentheses.

    Time-range atoms additionally record lo/hi bounds in ``bounds``
    (consumed by fill() to generate the dense bucket axis), and the
    atoms every row must satisfy — those under AND only — as
    ``(op, literal as SQL)`` pairs in ``bounds["ranges"]`` (consumed by
    date-partition pruning, :func:`_date_bounds`).

    ``columns`` — when given, an identifier NOT in the measurement's
    schema evaluates as NULL (the comparison matches no rows) instead
    of leaking an unresolved-column AnalysisException out of the
    regex dispatcher. This is InfluxDB's behavior for conditions on
    nonexistent FIELDS; for nonexistent TAGS InfluxDB compares
    against the empty string (so ``missing != 'x'`` matches all
    rows) — a documented divergence, since an unknown name cannot be
    classified as tag or field at plan time.
    """
    expr = expr.strip()
    ors = _split_top(expr, "OR")
    if len(ors) > 1:
        kept = len(bounds.get("ranges", ()))
        col = _where_expr(ors[0], time_col, bounds, tz, columns)
        for part in ors[1:]:
            col = col | _where_expr(part, time_col, bounds, tz, columns)
        if "ranges" in bounds:
            # a time range under OR bounds no row on its own
            del bounds["ranges"][kept:]
        return col
    ands = _split_top(expr, "AND")
    if len(ands) > 1:
        col = _where_expr(ands[0], time_col, bounds, tz, columns)
        for part in ands[1:]:
            col = col & _where_expr(part, time_col, bounds, tz, columns)
        return col
    if expr.startswith("(") and expr.endswith(")"):
        # strip only if the outer parens wrap the WHOLE expression
        depth, wraps = 0, True
        for i, ch in enumerate(expr):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i < len(expr) - 1:
                    wraps = False
                    break
        if wraps:
            return _where_expr(expr[1:-1], time_col, bounds, tz, columns)
    cm = _COND_RE.match(expr)
    if not cm:
        raise InfluxQLError(f"unsupported condition: {expr!r}")
    lhs = _unquote(cm.group("lhs"))
    raw_rhs = cm.group("rhs").strip()
    rhs = _unquote(raw_rhs)
    # InfluxQL distinguishes BARE integers (epoch ns, per the HTTP
    # API) from QUOTED strings (RFC3339 only) — '20240101' must NOT
    # fall into the epoch path, it's a malformed date string
    rhs_quoted = raw_rhs != rhs
    op = cm.group("op")
    is_time = lhs.lower() == "time"
    if op in ("=~", "!~"):
        # InfluxQL regex predicate: tag =~ /re/ (unanchored match, as
        # in InfluxQL; pattern subset portable across RE2/Java/RE in
        # practice — no backrefs in InfluxQL anyway). Time column
        # regexes are not part of the language.
        if is_time:
            raise InfluxQLError("regex predicate not valid on time")
        if not (rhs.startswith("/") and rhs.endswith("/") and len(rhs) >= 2):
            raise InfluxQLError(f"regex rhs must be /pattern/: {rhs!r}")
        pattern = rhs[1:-1]
        if not pattern:
            # InfluxQL rejects the empty pattern // rather than
            # treating it as match-everything
            raise InfluxQLError("empty regex pattern //")
        # \/ escapes the delimiter; both Java regex and RE2 accept the
        # unescaped form, so normalize for portability
        pattern = pattern.replace("\\/", "/")
        try:
            # validity check at plan time: rlike compiles its pattern
            # on the EXECUTOR, so a bad regex would otherwise surface
            # as a mid-query task failure instead of a named error
            re.compile(pattern)
        except re.error as exc:
            raise InfluxQLError(
                f"invalid regex {rhs!r}: {exc}"
            ) from None
        unknown = columns is not None and lhs not in columns
        tag = F.lit(None).cast("string") if unknown else F.col(lhs)
        matched = tag.rlike(pattern)
        return matched if op == "=~" else ~matched
    if is_time:
        col = F.col(time_col).cast("timestamp")
    elif columns is not None and lhs not in columns:
        col = F.lit(None).cast("string")
    else:
        col = F.col(lhs)
    if is_time:
        em = None if rhs_quoted else re.match(r"^(\d+)(ns|u|µ|ms|s)?$", rhs)
        if em:
            # epoch-integer literal (the raw HTTP API's default form;
            # bare integers are nanoseconds per InfluxQL). Normalize
            # to an ISO string so bounds recording and the cast below
            # see the same shape as a quoted literal.
            import datetime as _dt

            # pure integer arithmetic: a modern ns literal (~1.7e18)
            # exceeds float64's 2^53 exact range, so going through
            # float could shift a range boundary by ~1µs and flip
            # edge-point inclusion. Sub-µs precision truncates toward
            # zero (matches InfluxDB storing ns and us comparing µs).
            v = int(em.group(1))
            unit = em.group(2) or "ns"
            micros = {
                "ns": v // 1000,
                "u": v,
                "µ": v,
                "ms": v * 1000,
                "s": v * 1_000_000,
            }[unit]
            ts = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=micros)
            rhs = ts.strftime(
                "%Y-%m-%d %H:%M:%S.%f" if ts.microsecond
                else "%Y-%m-%d %H:%M:%S"
            )
        # validate at plan time: ANSI mode makes a malformed literal a
        # DateTimeException at EXECUTION (cast inside the scan filter)
        # — the totality contract wants the named error here instead.
        # InfluxDB itself rejects non-RFC3339 strings at parse time.
        _validate_time_literal(rhs)
        # with tz('Zone') PLAIN string literals are LOCAL wall-clock
        # in that zone (InfluxQL); epoch integers and zone-suffixed
        # strings ('…Z' / '…+05:00') denote absolute instants and must
        # NOT be shifted again (shifting them too was an upstream
        # divergence, fixed r11)
        is_epoch = em is not None
        has_zone = bool(re.search(r"(?:Z|[+-]\d{2}:\d{2})$", rhs))
        # SQL text, which date pruning reuses: one Column call instead
        # of three. The validated literal holds no quote, nor does a
        # zone name ZoneInfo found.
        val_sql = f"CAST('{rhs}' AS TIMESTAMP)"
        if tz and not is_epoch and not has_zone:
            val_sql = f"to_utc_timestamp({val_sql}, '{tz}')"
        val = F.expr(val_sql)
    else:
        # type-aware literal: ANSI mode makes a mismatched comparison
        # (double field vs 'true', numeric field vs a word) a
        # CAST_INVALID_INPUT at execution — InfluxDB's semantics for a
        # type-conflicted predicate is "matches no points", so compile
        # it to FALSE instead (totality; found by probing, fuzz-gap)
        dtype = columns.get(lhs) if isinstance(columns, dict) else None
        base = (dtype or "").split("(")[0]
        if base in (
            "double", "float", "decimal",
            "bigint", "int", "smallint", "tinyint",
        ):
            try:
                num = int(rhs) if re.fullmatch(r"-?\d+", rhs) else float(rhs)
            except ValueError:
                return F.lit(False)
            val = F.lit(num)
        elif base == "boolean":
            if rhs.lower() in ("true", "false"):
                val = F.lit(rhs.lower() == "true")
            else:
                return F.lit(False)
        else:
            val = F.lit(rhs)
    if is_time and op in (">=", ">", "<=", "<"):
        # bounds feed the fill() axis: record one canonical NAIVE
        # shape — local wall-clock under tz() (the axis floors in
        # local time), naive UTC otherwise — so the lexicographic
        # min/max below compares like with like even when plain,
        # epoch and zone-suffixed literals mix in one WHERE
        b = _canon_bound(rhs, tz, absolute=is_epoch or has_zone)
        if op in (">=", ">"):
            bounds["lo"] = min(bounds.get("lo", b), b)
        else:
            bounds["hi"] = max(bounds.get("hi", b), b)
        bounds.setdefault("ranges", []).append((op, val_sql))
    if op == "=":
        return col == val
    if op in ("!=", "<>"):
        return col != val
    if op == ">=":
        return col >= val
    if op == "<=":
        return col <= val
    if op == ">":
        return col > val
    return col < val


# what Spark's ANSI timestamp cast is known to accept AND InfluxDB's
# RFC3339 parser accepts: dashed date, optional T-or-space time,
# optional .fraction, optional Z / ±HH:MM zone. Deliberately
# NARROWER than datetime.fromisoformat, which on Python 3.11+ takes
# forms Spark rejects at execution ('20240101', '2024-W01-1',
# '2024-01-01+05:00' date-with-zone) — the validator must never pass
# a literal the executor will throw on (totality contract).
_TIME_LITERAL_RE = re.compile(
    r"^\d{4}-\d{2}-\d{2}"
    r"(?:[T ]\d{2}:\d{2}(?::\d{2}(?:\.\d{1,6})?)?"
    r"(?:Z|[+-]\d{2}:\d{2})?)?$"
)


def _validate_time_literal(rhs: str) -> None:
    """Plan-time check of a quoted time literal. RFC3339 / ISO forms
    (date-only, T or space separator, optional zone, fractional
    seconds — a 7-9 digit fraction is trimmed to µs for the check,
    as Spark's cast truncates). Anything else gets the named error
    instead of an executor-side ANSI DateTimeException mid-scan."""
    import datetime as _dt

    s = rhs.strip()
    fm = re.match(r"^(.*\.\d{6})\d{1,3}(.*)$", s)
    if fm:
        s = fm.group(1) + fm.group(2)
    if not _TIME_LITERAL_RE.match(s):
        raise InfluxQLError(f"invalid time literal: {rhs!r}")
    try:
        # the regex pins the SHAPE; fromisoformat still vets the
        # field ranges (month 13, hour 25, Feb 30, bad zone offset)
        _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        raise InfluxQLError(f"invalid time literal: {rhs!r}") from None


def _canon_bound(rhs: str, tz: str | None, *, absolute: bool) -> str:
    """Normalize a validated time literal to the canonical naive
    string the fill() axis floors on: LOCAL wall-clock when tz() is
    set, naive UTC otherwise. ``absolute`` marks literals that denote
    an instant regardless of tz() (epoch integers, zone-suffixed
    strings); aware→naive conversions here are total and unambiguous
    (every instant has exactly one wall time in a zone — ambiguity
    only exists the other way)."""
    import datetime as _dt

    s = rhs.strip()
    fm = re.match(r"^(.*\.\d{6})\d{1,3}(.*)$", s)
    if fm:  # >6-digit fraction: truncate to µs, as Spark's cast does
        s = fm.group(1) + fm.group(2)
    d = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    if d.tzinfo is not None or (absolute and tz):
        if d.tzinfo is None:  # epoch literal rendered as naive UTC
            d = d.replace(tzinfo=_dt.timezone.utc)
        if tz:
            from zoneinfo import ZoneInfo

            d = d.astimezone(ZoneInfo(tz))
        else:
            d = d.astimezone(_dt.timezone.utc)
        d = d.replace(tzinfo=None)
    return d.strftime(
        "%Y-%m-%d %H:%M:%S.%f" if d.microsecond else "%Y-%m-%d %H:%M:%S"
    )


def _unquote(tok: str) -> str:
    tok = tok.strip()
    if tok[:1] in "\"'" and tok[:1] == tok[-1:]:
        return tok[1:-1]
    return tok


_NUMERIC_DTYPES = {
    "double", "float", "bigint", "int", "smallint", "tinyint", "decimal",
}


def _is_numeric_dtype(dtype: str | None) -> bool:
    return dtype is not None and dtype.split("(")[0] in _NUMERIC_DTYPES


#: Aggregates whose InfluxDB iterators are numeric-only — over a
#: string/bool field they see NO points. The engine's relational
#: mirror: aggregate a typed NULL column, so the group row keeps the
#: all-null-field convention (count 0 / null value — the same
#: contract the mutation-fuzz model encodes) instead of leaking an
#: executor CAST_INVALID_INPUT / AnalysisException.
_NUMERIC_ONLY_AGGS = {
    "mean", "sum", "spread", "stddev", "median", "percentile",
}


def _agg_column(
    fn: str,
    col: str,
    time_col: str,
    pct: float | None = None,
    dtype: str | None = None,
    alias: str | None = None,
):
    fn = fn.lower()
    out_name = alias or f"{fn}_{col}"
    if (
        fn in _NUMERIC_ONLY_AGGS
        and dtype is not None
        and not _is_numeric_dtype(dtype)
    ):
        return F.avg(F.lit(None).cast("double")).alias(out_name)
    if fn == "count_distinct":
        # count(distinct(f)) — upstream's one legal agg nesting
        return F.count_distinct(F.col(col)).alias(out_name)
    if fn == "percentile":
        # InfluxQL nearest-rank: sort ascending, 1-based index
        # floor(n*p/100 + 0.5); out-of-range index → null (matches
        # influxdb's PercentileReduceSlice). collect_list is bounded
        # by points-per-(bucket, series) — the same boundedness that
        # makes GROUP BY time() itself viable — so the array never
        # scales with corpus size. The when() guard keeps element_at
        # unevaluated on invalid indices (ANSI-safe).
        vals = F.sort_array(F.collect_list(F.col(col)))
        idx = (
            F.floor(F.size(vals) * F.lit(pct) / F.lit(100.0) + F.lit(0.5))
        ).cast("int")
        return F.when(
            (idx >= 1) & (idx <= F.size(vals)), F.element_at(vals, idx)
        ).alias(out_name)
    if fn == "mean":
        return F.avg(col).alias(out_name)
    if fn == "sum":
        return F.sum(col).alias(out_name)
    if fn == "count":
        return F.count(col).alias(out_name)
    if fn == "min":
        return F.min(col).alias(out_name)
    if fn == "max":
        return F.max(col).alias(out_name)
    # first/last: value of the earliest/latest POINT THAT HAS the
    # field (InfluxDB: a null field value is not a point of that
    # field, so it is skipped — not returned as the null at the
    # group's time extreme). The ordering column is nulled for
    # null-value rows; min_by/max_by ignore null ordering values,
    # so an all-null group still yields null. Divergence caught by
    # the differential oracle fuzz (last(f) under fill(0) turned a
    # latest-row null into 0 instead of the latest real value).
    if fn == "first":
        return F.min_by(
            col, F.when(F.col(col).isNotNull(), F.col(time_col))
        ).alias(out_name)
    if fn == "last":
        return F.max_by(
            col, F.when(F.col(col).isNotNull(), F.col(time_col))
        ).alias(out_name)
    if fn == "spread":  # max − min (InfluxQL SPREAD)
        return (F.max(col) - F.min(col)).alias(out_name)
    if fn == "stddev":
        # sample stddev. FP accumulation order is engine-dependent, so
        # round to 6 decimals (same convention as fill(linear)) for
        # cross-engine determinism.
        return F.round(F.stddev_samp(col), 6).alias(out_name)
    if fn == "median":
        # InfluxQL MEDIAN: middle of the sorted values; the average of
        # the two middle values when the count is even
        vals = F.sort_array(F.collect_list(F.col(col)))
        n = F.size(vals)
        mid_hi = F.element_at(vals, (n / 2 + 1).cast("int"))
        odd = F.element_at(vals, ((n + 1) / 2).cast("int"))
        even = (F.element_at(vals, (n / 2).cast("int")) + mid_hi) / 2
        return (
            F.when(n == 0, F.lit(None))
            .when(n % 2 == 1, odd)
            .otherwise(even)
            .alias(out_name)
        )
    if fn == "mode":
        # most frequent value; ties resolve to the SMALLEST value
        # (deterministic, unlike Spark's F.mode). One pass over the
        # sorted value array: equal values are adjacent, so a run-
        # length reduce finds the longest run; strict > keeps the
        # earlier (smaller) run on ties.
        vals = F.sort_array(F.collect_list(F.col(col)))
        # typed NULL of the ELEMENT type (get() with an invalid index
        # is a null of the right type) — mode works on string fields
        # too, as upstream; a double-cast seed used to throw
        # DATATYPE_MISMATCH on string measurements
        tnull = F.get(vals, F.lit(-1))
        init = F.struct(
            tnull.alias("best"),
            F.lit(0).alias("bestn"),
            tnull.alias("cur"),
            F.lit(0).alias("curn"),
        )

        def step(acc, x):
            curn = F.when(x == acc["cur"], acc["curn"] + 1).otherwise(F.lit(1))
            better = curn > acc["bestn"]
            return F.struct(
                F.when(better, x).otherwise(acc["best"]).alias("best"),
                F.when(better, curn).otherwise(acc["bestn"]).alias("bestn"),
                x.alias("cur"),
                curn.alias("curn"),
            )

        return F.aggregate(
            vals, init, step, lambda acc: acc["best"]
        ).alias(out_name)
    raise InfluxQLError(f"unsupported aggregate: {fn}")


def _apply_fill(
    agg_df: DataFrame,
    mode: str,
    bucket_secs: int | _CalendarBucket | None,
    tag_cols: list[str],
    time_bounds: dict,
    bucket_offset: int = 0,
    tz: str | None = None,
) -> DataFrame:
    """Densify the bucketed aggregate per series and fill gaps.

    Reuses the gap-fill shape of ``operators.timeseries.ts_gap_fill``:
    the axis is sequence+explode over the WHERE time range (a literal
    range — no extra scan), cross-joined with the distinct series tags
    present in the result, left-joined with the aggregate. LOCF
    (``fill(previous)``) is last(ignorenulls) over the series window;
    constants are coalesce. Axis size = buckets × series — bounded and
    independent of event count, the 100 TB-safe shape.

    With ``tz()`` the recorded bounds are LOCAL wall-clock strings
    (canonicalized at WHERE compile), the axis is generated on the
    naive local grid — the same grid ``_bucket_expr`` floors on — and
    each bucket start converts to its UTC instant with the SAME
    ``to_utc_timestamp`` the bucket column uses, so the left-join keys
    match bit-for-bit across DST transitions.
    """
    from pyspark.sql import Window as W

    if bucket_secs is None:
        raise InfluxQLError("fill() requires GROUP BY time(...)")
    if "lo" not in time_bounds or "hi" not in time_bounds:
        raise InfluxQLError(
            "fill() requires a closed time range in WHERE (InfluxQL rule)"
        )
    lo, hi = time_bounds["lo"], time_bounds["hi"]
    if isinstance(bucket_secs, _CalendarBucket):
        # calendar extension: axis steps by N calendar months
        # (sequence supports calendar-interval steps; stepping from a
        # month start by whole months stays on month starts)
        cal = bucket_secs
        floor = lambda ts: _calendar_floor(  # noqa: E731
            F.lit(ts).cast("timestamp"), cal.months, cal.offset
        )
        step = F.expr(f"INTERVAL {cal.months} MONTH")
    else:
        floor = lambda ts: F.timestamp_seconds(  # noqa: E731
            (
                (F.unix_timestamp(F.lit(ts).cast("timestamp")) - bucket_offset)
                / bucket_secs
            ).cast("long")
            * bucket_secs
            + bucket_offset
        )
        step = F.expr(f"INTERVAL {bucket_secs} SECOND")
    axis_col = F.explode(F.sequence(floor(lo), floor(hi), step)).alias(
        "time_bucket"
    )
    spark = agg_df.sparkSession
    if tag_cols:
        axis = agg_df.select(*tag_cols).distinct().select(
            *tag_cols, axis_col
        )
    else:
        axis = spark.range(1).select(axis_col)
    if tz:
        # naive-local axis → UTC instants (see docstring)
        axis = axis.withColumn(
            "time_bucket", F.to_utc_timestamp("time_bucket", tz)
        )
    value_cols = [
        c for c in agg_df.columns if c not in (*tag_cols, "time_bucket")
    ]
    if tag_cols:
        # NULL-SAFE tag equality: a series whose tag value is null
        # (InfluxDB's missing-tag series) must still receive its own
        # aggregate rows — a name-list join compares with = and would
        # leave that series all-null across the axis (caught by the
        # differential oracle fuzz)
        cond = [
            F.col(f"x.{t}").eqNullSafe(F.col(f"a.{t}"))
            for t in tag_cols
        ] + [F.col("x.time_bucket") == F.col("a.time_bucket")]
        out = (
            axis.alias("x")
            .join(agg_df.alias("a"), cond, "left")
            .select(
                *[F.col(f"x.{t}").alias(t) for t in tag_cols],
                F.col("x.time_bucket").alias("time_bucket"),
                *[F.col(f"a.{c}").alias(c) for c in value_cols],
            )
        )
    else:
        out = axis.join(agg_df, ["time_bucket"], "left")
    if mode == "null":
        return out
    if mode == "linear":
        # InfluxQL fill(linear): empty buckets interpolate between the
        # surrounding non-null points of the series; buckets before
        # the first / after the last point stay null. Two ignore-nulls
        # windows (prev from the left, next from the right); the
        # interpolation computes frac = (t-pt)/(nt-pt) FIRST and in
        # the same operation order as the SQL oracle so IEEE doubles
        # round identically. Values come back as double (interpolated
        # points are fractional even for integer aggregates).
        wp = (
            W.partitionBy(*tag_cols)
            .orderBy("time_bucket")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        wn = (
            W.partitionBy(*tag_cols)
            .orderBy("time_bucket")
            .rowsBetween(W.currentRow, W.unboundedFollowing)
        )
        t = F.unix_timestamp("time_bucket")
        filled = []
        for c in value_cols:
            v = F.col(c).cast("double")
            pv = F.last(v, ignorenulls=True).over(wp)
            pt = F.last(F.when(v.isNotNull(), t), ignorenulls=True).over(wp)
            nv = F.first(v, ignorenulls=True).over(wn)
            nt = F.first(F.when(v.isNotNull(), t), ignorenulls=True).over(wn)
            frac = (t - pt).cast("double") / (nt - pt).cast("double")
            interp = pv + (nv - pv) * frac
            filled.append(
                F.round(F.when(v.isNotNull(), v).otherwise(interp), 6).alias(c)
            )
        return out.select(*tag_cols, "time_bucket", *filled)
    if mode == "previous":
        w = (
            W.partitionBy(*tag_cols)
            .orderBy("time_bucket")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return out.select(
            *tag_cols,
            "time_bucket",
            *[
                F.last(c, ignorenulls=True).over(w).alias(c)
                for c in value_cols
            ],
        )
    try:
        const = float(mode)
    except ValueError:
        raise InfluxQLError(f"unsupported fill mode: {mode!r}") from None
    return out.select(
        *tag_cols,
        "time_bucket",
        *[F.coalesce(F.col(c), F.lit(const)).alias(c) for c in value_cols],
    )


def _apply_selector(
    out: DataFrame,
    sel_m,
    *,
    time_col: str,
    tag_cols: list[str],
    bucket_secs: int | _CalendarBucket | None,
    bucket_offset: int,
    fill_mode: str,
    order_desc: bool,
    tz: str | None = None,
) -> tuple[DataFrame, str]:
    """InfluxQL ``top(col, n)`` / ``bottom(col, n)`` selectors: the n
    extreme POINTS per bucket/series, original timestamps preserved
    (unlike max/min, which aggregate). One row_number window over
    (bucket, tags) — ties resolve to the earlier timestamp, as
    InfluxQL does.

    The three-argument form ``top(col, tag, n)`` returns the single
    extreme point per ``tag`` value for the n tag values whose extreme
    is greatest (InfluxQL 1.x: "the greatest field values associated
    with N tag values"): two stacked row_number windows — extreme
    point within each (bucket, series, tag-value), then top-n of
    those per (bucket, series). A null tag value is its own group,
    the engine's analogue of InfluxDB's empty-string tag."""
    from pyspark.sql import Window as W

    fn = sel_m.group(1).lower()
    col = _unquote(sel_m.group(2))
    sel_tag = _unquote(sel_m.group(3)) if sel_m.group(3) else None
    n = int(sel_m.group(4))
    if fill_mode != "none":
        raise InfluxQLError(f"fill() does not apply to {fn}()")
    if fn == "sample" and sel_tag is not None:
        raise InfluxQLError("sample() takes (field, N) — no tag argument")
    if sel_tag is not None and sel_tag not in out.columns:
        # unknown identifiers evaluate as null (module contract)
        out = out.withColumn(sel_tag, F.lit(None).cast("string"))
    part_cols = list(tag_cols)
    sel = [F.col(time_col), *[F.col(c) for c in tag_cols], F.col(col)]
    if sel_tag is not None and sel_tag not in (time_col, col, *tag_cols):
        sel.append(F.col(sel_tag))
    if bucket_secs is not None:
        sel.append(_bucket_expr(time_col, bucket_secs, bucket_offset, tz))
        part_cols.append("time_bucket")
    pts = out.select(*sel).where(F.col(col).isNotNull())
    if fn == "sample":
        # deterministic sample: xxhash64(time) is a uniform-looking
        # but REPRODUCIBLE order (documented divergence from
        # InfluxDB's nondeterministic reservoir) — same statement on
        # the same data always returns the same points. One
        # row_number window per (bucket, series), no full sort of
        # the output order.
        value_key = F.xxhash64(F.col(time_col)).asc()
    else:
        value_key = F.col(col).desc() if fn == "top" else F.col(col).asc()
    if sel_tag is not None:
        w1 = W.partitionBy(*part_cols, sel_tag).orderBy(
            value_key, F.col(time_col).asc()
        )
        pts = (
            pts.withColumn("_rn", F.row_number().over(w1))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    keep = [time_col, *tag_cols, F.col(col).alias(fn)]
    if sel_tag is not None and sel_tag not in tag_cols:
        keep.append(sel_tag)
    if not part_cols:
        # ungrouped: orderBy+limit compiles to TakeOrderedAndProject —
        # per-partition top-k with a driver-side merge of n rows — not
        # a single-partition window sorting the whole measurement
        res = pts.orderBy(value_key, F.col(time_col).asc()).limit(n)
        res = res.select(*keep)
    else:
        w = W.partitionBy(*part_cols).orderBy(
            value_key, F.col(time_col).asc()
        )
        res = (
            pts.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n)
            .select(*keep)
        )
    key = F.col(time_col)
    res = res.orderBy(key.desc() if order_desc else key.asc())
    return res, time_col


#: Aggregate functions that are POINT SELECTORS in InfluxQL 1.x and
#: may therefore carry companion fields/tags in the select list
#: (``SELECT max(f), tag FROM m``) — the companions come from the
#: selected point. mean/sum/count/etc. with a companion stays the
#: named mix error, as upstream ("mixing aggregate and non-aggregate
#: queries is not supported").
_COMPANION_SELECTORS = {"first", "last", "min", "max"}


def _apply_companion_selector(
    out: DataFrame,
    fn: str,
    col: str,
    companions: list[str],
    *,
    time_col: str,
    tag_cols: list[str],
    bucket_secs,
    bucket_offset: int,
    fill_mode: str,
    order_desc: bool,
    tz: str | None = None,
    pct: float | None = None,
) -> tuple[DataFrame, str]:
    """``SELECT max(f), tag [, field…] FROM m`` — a selector with
    companion columns: per bucket/series, pick THE point the selector
    names (greatest/smallest f, or earliest/latest non-null f) and
    carry that point's companion values alongside.

    Implemented as a hash aggregate (``max_by``/``min_by`` over a
    payload struct), not a window: partial aggregation runs map-side,
    so the shuffle carries one row per (bucket, series) — never a
    global sort. Ties on the extreme value resolve to the earlier
    timestamp via a composite (value, -epoch) ordering key, matching
    the two-argument selector's tie rule.

    Ungrouped output carries the selected POINT's timestamp (InfluxDB
    returns the point time for bare selectors); a time(...) bucket
    replaces it with the bucket start, like every other grouped
    aggregate here.
    """
    if fill_mode != "none":
        raise InfluxQLError(
            "fill() does not apply to a selector with companion fields"
        )
    if fn == "percentile" and not _is_numeric_dtype(
        dict(out.dtypes).get(col)
    ):
        # numeric-only selector over a string field: zero numeric
        # points (the bucketed-selection arithmetic below would
        # otherwise throw DATATYPE_MISMATCH at plan time)
        out = out.withColumn(col, F.lit(None).cast("double"))
    pts = out.where(F.col(col).isNotNull())
    group_exprs = [F.col(c) for c in tag_cols]
    if bucket_secs is not None:
        group_exprs.insert(
            0, _bucket_expr(time_col, bucket_secs, bucket_offset, tz)
        )
    epoch = F.unix_micros(F.col(time_col))
    payload = F.struct(
        F.col(time_col).alias("_t"),
        F.col(col).alias("_v"),
        *[F.col(c).alias(f"_c{i}") for i, c in enumerate(companions)],
    )
    if fn == "percentile" and bucket_secs is None:
        # ADVICE r10 (memory) + r11 (parallelism): without a time()
        # bucket each group is an ENTIRE series. collect_list would
        # materialize it as one executor array (OOM at scale), and a
        # per-group window sort runs at parallelism = #groups (the
        # tags-only query over 5 event types sorted 2M rows/task —
        # 6.4s at sf10, BENCH_NOTES §34). Exact BUCKETED SELECTION
        # instead: (1) one hash agg → per-group count/min/max (the
        # nearest-rank index and the value range); (2) histogram rows
        # into 1024 value buckets per group — fully parallel partial
        # aggregation; (3) a window over ≤1024 bucket-count rows per
        # group finds THE bucket whose cumulative count crosses the
        # index; (4) sort only that bucket's candidates (≈n/1024
        # rows) by the full (value, time, companions) key and pick
        # the local rank. Same point as a full per-group sort —
        # bucketing by value preserves the key-order prefix, so the
        # global nearest-rank element is the local_idx-th element of
        # its bucket. Degenerate all-equal-value groups collapse to
        # one bucket = the old per-group sort, never worse. All joins
        # on tags are NULL-SAFE (a null-tag series must survive — the
        # r10 fill() fuzz lesson).
        from pyspark.sql.window import Window

        order_cols = [F.col(col), F.col(time_col)] + [
            F.col(c) for c in companions
        ]
        n_buckets = 1024
        stats = (
            pts.groupBy(*[F.col(c) for c in tag_cols])
            .agg(
                F.count(F.lit(1)).alias("_n"),
                F.min(col).alias("_lo"),
                F.max(col).alias("_hi"),
            )
            .withColumn(
                "_idx",
                F.floor(
                    F.col("_n") * F.lit(pct) / F.lit(100.0) + F.lit(0.5)
                ).cast("int"),
            )
            # idx out of range (tiny group, small p) → group drops,
            # same as the bucketed-path when() guard
            .where((F.col("_idx") >= 1) & (F.col("_idx") <= F.col("_n")))
        )

        def _tag_join(left, right):
            if not tag_cols:
                return left.crossJoin(right)  # 1-row global stats
            # rename the right side's keys first: both frames descend
            # from `pts`, so a direct left[t]/right[t] condition is a
            # self-join ambiguity
            r = right
            cond = None
            for t in tag_cols:
                r = r.withColumnRenamed(t, f"_r_{t}")
            for t in tag_cols:
                c = left[t].eqNullSafe(F.col(f"_r_{t}"))
                cond = c if cond is None else (cond & c)
            return left.join(r, cond).drop(
                *[f"_r_{t}" for t in tag_cols]
            )

        joined = _tag_join(pts, stats)
        width = (F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets))
        bucket = F.when(F.col("_hi") == F.col("_lo"), F.lit(0)).otherwise(
            F.least(
                F.floor((F.col(col) - F.col("_lo")) / width).cast("int"),
                F.lit(n_buckets - 1),
            )
        )
        bucketed = joined.withColumn("_b", bucket)
        per_bucket = bucketed.groupBy(
            *[F.col(c) for c in tag_cols], "_b", "_idx"
        ).agg(F.count(F.lit(1)).alias("_bn"))
        wcum = Window.partitionBy(
            *[F.col(c) for c in tag_cols]
        ).orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
        per_bucket = per_bucket.withColumn("_cum", F.sum("_bn").over(wcum))
        targets = per_bucket.where(
            (F.col("_cum") - F.col("_bn") < F.col("_idx"))
            & (F.col("_idx") <= F.col("_cum"))
        ).select(
            *[F.col(c) for c in tag_cols],
            F.col("_b").alias("_tb"),
            (F.col("_idx") - (F.col("_cum") - F.col("_bn")))
            .cast("int")
            .alias("_local_idx"),
        )
        cand = _tag_join(
            bucketed.drop("_n", "_lo", "_hi", "_idx"), targets
        ).where(F.col("_b") == F.col("_tb"))
        wsel = Window.partitionBy(
            *[F.col(c) for c in tag_cols]
        ).orderBy(*order_cols)
        sel = cand.withColumn("_rn", F.row_number().over(wsel)).where(
            F.col("_rn") == F.col("_local_idx")
        )
        cols = [F.col(time_col)] + [F.col(c) for c in tag_cols]
        cols.append(F.col(col).alias(fn))
        cols += [F.col(c) for c in companions]
        res = sel.select(*cols)
        key = F.col(time_col)
        res = res.orderBy(key.desc() if order_desc else key.asc())
        return res, time_col
    if fn == "percentile":
        # nearest-rank point, same 1-based floor(n*p/100 + 0.5) index
        # as the plain percentile aggregate (_agg_column); sort key is
        # (value, time) so equal values pick the earlier point's
        # companions deterministically. collect_list is bounded per
        # (bucket, series) — WITH a time() bucket (the branch above
        # handles the unbounded no-bucket case), the same boundedness
        # that makes GROUP BY time() itself viable.
        sortable = F.struct(
            F.col(col).alias("_v"),
            F.col(time_col).alias("_t"),
            *[
                F.col(c).alias(f"_c{i}")
                for i, c in enumerate(companions)
            ],
        )
        vals = F.sort_array(F.collect_list(sortable))
        idx = (
            F.floor(
                F.size(vals) * F.lit(pct) / F.lit(100.0) + F.lit(0.5)
            )
        ).cast("int")
        agg = F.when(
            (idx >= 1) & (idx <= F.size(vals)), F.element_at(vals, idx)
        )
    elif fn == "max":
        agg = F.max_by(payload, F.struct(F.col(col), (-epoch).alias("_k")))
    elif fn == "min":
        agg = F.min_by(payload, F.struct(F.col(col), epoch.alias("_k")))
    elif fn == "first":
        agg = F.min_by(payload, epoch)
    else:  # last
        agg = F.max_by(payload, epoch)
    g = pts.groupBy(*group_exprs) if group_exprs else pts.groupBy()
    res = g.agg(agg.alias("_sel"))
    # selector semantics: no selected point → no row. The ungrouped
    # global aggregate otherwise emits one all-null row on empty
    # input, and a grouped percentile whose nearest-rank index is out
    # of range (tiny bucket, small p) emits a null struct.
    res = res.where(F.col("_sel").isNotNull())
    cols = []
    if bucket_secs is not None:
        time_key = "time_bucket"
        cols.append(F.col("time_bucket"))
    else:
        time_key = time_col
        cols.append(F.col("_sel._t").alias(time_col))
    cols += [F.col(c) for c in tag_cols]
    cols.append(F.col("_sel._v").alias(fn))
    cols += [
        F.col(f"_sel._c{i}").alias(c) for i, c in enumerate(companions)
    ]
    res = res.select(*cols)
    key = F.col(time_key)
    res = res.orderBy(key.desc() if order_desc else key.asc())
    return res, time_key


def _apply_transform(
    out: DataFrame,
    xform_m,
    *,
    time_col: str,
    group_cols: list,
    tag_cols: list[str],
    bucket_secs: int | _CalendarBucket | None,
    bucket_offset: int,
    fill_mode: str,
    time_bounds: dict,
    order_desc: bool,
    tz: str | None = None,
) -> tuple[DataFrame, str]:
    """InfluxQL 1.x transforms: derivative / non_negative_derivative /
    moving_average, over a raw field or an aggregated+bucketed series.

    All three are ONE window pass over the series key (the GROUP BY
    tags), ordered by time — one shuffle on (tags), no self-join, no
    driver state. The aggregated form runs the bucket aggregate (and
    ``fill()``, first, as InfluxQL does) and then windows over bucket
    rows — cardinality buckets × series, independent of event count.
    Null field values are dropped up front so differences span
    successive NON-null points (InfluxQL semantics).

    Returns (frame, time-column-name-in-output).
    """
    from pyspark.sql import Window as W

    fn = xform_m.group(1).lower()
    args = [a.strip() for a in _split_commas(xform_m.group(2))]
    inner = args[0]
    im = _AGG_RE.match(inner)
    # the inner argument must BE a field reference (or agg-of-field):
    # _AGG_RE's lazy body can swallow garbage, and a raw inner that
    # isn't identifier-shaped would reach F.col() and leak an
    # executor/analysis exception instead of the named error
    # (totality contract; found by the seeded 10k statement fuzz)
    _ident = r'"[^"]+"|[A-Za-z_]\w*'
    if im:
        if not re.fullmatch(_ident, im.group(2)):
            raise InfluxQLError(
                f"unparseable transform argument: {inner!r}"
            )
        inner_fn, inner_col = im.group(1).lower(), _unquote(im.group(2))
    else:
        if not re.fullmatch(_ident, inner):
            raise InfluxQLError(
                f"unparseable transform argument: {inner!r}"
            )
        inner_fn, inner_col = None, _unquote(inner)

    # Per-transform parameter parsing -----------------------------
    n_points = None
    unit_secs: float = 1.0
    calendar_step_months: int | None = None
    if (
        fn in ("moving_average", "exponential_moving_average")
        or fn in _TA_FOLDS
        or fn in _TA_WINDOWS
    ):
        if len(args) != 2 or not args[1].isdigit() or int(args[1]) < 1:
            raise InfluxQLError(
                f"{fn} requires a positive integer point count"
            )
        n_points = int(args[1])
    elif fn in ("holt_winters", "holt_winters_with_fit"):
        if (
            len(args) != 3
            or not args[1].isdigit()
            or int(args[1]) < 1
            or not args[2].isdigit()
        ):
            raise InfluxQLError(
                f"{fn} takes (aggregate, N forecast points >= 1, "
                f"seasonal pattern length >= 0)"
            )
        hw_n, hw_season = int(args[1]), int(args[2])
        if inner_fn is None or bucket_secs is None:
            raise InfluxQLError(
                f"{fn} requires an aggregate argument and GROUP BY time(...)"
            )
    elif fn in ("difference", "non_negative_difference", "cumulative_sum"):
        if len(args) != 1:
            raise InfluxQLError(f"{fn} takes exactly 1 argument")
    elif fn in ("derivative", "non_negative_derivative", "elapsed", "integral"):
        if len(args) > 2:
            raise InfluxQLError(f"{fn} takes at most 2 arguments")
        if len(args) == 2:
            dm = _DURATION_RE.match(args[1])
            if not dm:
                raise InfluxQLError(f"bad duration: {args[1]!r}")
            unit_secs = float(
                int(dm.group(1)) * _UNIT_SECONDS[dm.group(2).lower()]
            )
        elif fn in ("derivative", "non_negative_derivative"):
            if inner_fn is not None:
                # default unit = the GROUP BY time interval (InfluxQL)
                if bucket_secs is None:
                    raise InfluxQLError(
                        f"{fn}({inner_fn}(...)) requires GROUP BY time(...)"
                    )
                if isinstance(bucket_secs, _CalendarBucket):
                    # calendar extension: "per interval" over an
                    # irregular-span axis means per BUCKET STEP — Δv
                    # normalized by how many N-month grid steps the two
                    # buckets are apart (exact: months_between of two
                    # bucket starts is an integer). Adjacent buckets →
                    # plain difference, a gap of k buckets → Δv/k: the
                    # same normalization InfluxQL's Δt/unit does on the
                    # fixed-span axis.
                    calendar_step_months = bucket_secs.months
                    unit_secs = 1.0
                else:
                    unit_secs = float(bucket_secs)
            else:
                unit_secs = 1.0  # raw form default: per second
        # elapsed defaults to nanoseconds (InfluxQL), integral to 1s;
        # both handled at expression build below
        elif fn == "elapsed":
            unit_secs = 1e-9

    # Numeric-only transforms over a non-numeric field: the field has
    # no numeric points, so the transform sees an empty sequence —
    # null the column and let the existing isNotNull point filters
    # produce the empty result (InfluxDB's numeric iterators simply
    # find nothing; previously the ANSI cast threw CAST_INVALID_INPUT
    # on the executor — a totality leak). elapsed is type-agnostic
    # (it measures time gaps between points that HAVE the field) and
    # keeps the real column.
    if (
        fn != "elapsed"
        and inner_col in dict(out.dtypes)
        and not _is_numeric_dtype(dict(out.dtypes)[inner_col])
    ):
        out = out.withColumn(inner_col, F.lit(None).cast("double"))

    # integral: field-only "aggregate transform" — per-bucket (or
    # whole-range) trapezoid area, so it builds its own base frame
    # (raw points + optional bucket column) instead of the generic one
    if fn == "integral":
        if inner_fn is not None:
            raise InfluxQLError("integral takes a field, not an aggregate")
        if len(args) == 1:
            unit_secs = 1.0  # InfluxQL default: per second
        part_cols = list(tag_cols)
        sel = [F.col(time_col), *[F.col(c) for c in tag_cols],
               F.col(inner_col)]
        if bucket_secs is not None:
            sel.append(
                _bucket_expr(time_col, bucket_secs, bucket_offset, tz)
            )
            part_cols.append("time_bucket")
        pts = out.select(*sel).where(F.col(inner_col).isNotNull())
        wi = W.partitionBy(*part_cols).orderBy(time_col)
        v = F.col(inner_col).cast("double")
        pv = F.lag(v).over(wi)
        pt = F.lag(F.col(time_col)).over(wi)
        dt = F.col(time_col).cast("double") - pt.cast("double")
        contrib = (v + pv) / 2 * dt / F.lit(unit_secs)
        seg = pts.withColumn("_c", contrib).where(F.col("_c").isNotNull())
        grouped = seg.groupBy(*part_cols) if part_cols else seg.groupBy()
        res = grouped.agg(F.sum("_c").alias("integral"))
        tkey = "time_bucket" if bucket_secs is not None else None
        if tkey:
            key = F.col(tkey)
            res = res.orderBy(key.desc() if order_desc else key.asc())
        return res, tkey

    # Base series frame -------------------------------------------
    if inner_fn is not None:
        if fn == "elapsed":
            raise InfluxQLError("elapsed takes a field, not an aggregate")
        if bucket_secs is None:
            raise InfluxQLError(
                f"{fn}({inner_fn}(...)) requires GROUP BY time(...)"
            )
        vname = f"{inner_fn}_{inner_col}"
        base = out.groupBy(*group_cols).agg(
            _agg_column(inner_fn, inner_col, time_col)
        )
        if fill_mode != "none":
            base = _apply_fill(
                base, fill_mode, bucket_secs, tag_cols, time_bounds,
                bucket_offset, tz,
            )
        tkey = "time_bucket"
    else:
        if bucket_secs is not None:
            raise InfluxQLError(
                "GROUP BY time(...) requires an aggregate transform argument"
            )
        if fill_mode != "none":
            raise InfluxQLError("fill() requires GROUP BY time(...)")
        vname = inner_col
        base = out.select(time_col, *tag_cols, inner_col)
        tkey = time_col

    base = base.where(F.col(vname).isNotNull())
    w = W.partitionBy(*tag_cols).orderBy(tkey)
    v = F.col(vname).cast("double")

    if fn in ("holt_winters", "holt_winters_with_fit"):
        # Additive Holt-Winters over the bucketed series, α/β/γ fit by
        # SSE-minimizing Nelder-Mead (deterministic fixed start
        # simplex) — the textbook triple exponential smoothing; S = 0
        # drops the seasonal component (Holt's linear trend). This is
        # the documented DIVERGENCE from InfluxDB 1.x, whose output
        # depends on its internal optimizer state: the model and the
        # objective are the same, the fitted parameters (and therefore
        # exact doubles) need not be. Emits N forecast buckets
        # continuing the series' bucket axis (calendar buckets step in
        # months); *_with_fit additionally emits the one-step-ahead
        # fitted values over the history past the init window. A
        # series shorter than the init window (2 points, or 2 seasons)
        # emits nothing. Per-series cost is O(points × NM iterations)
        # in ONE Arrow fold — aggregated form only, so the input is
        # buckets × series rows, never event count.
        import pandas as pd

        from pyspark.sql.types import DoubleType, StructField, StructType

        out_schema = StructType(
            [base.schema[tkey]]
            + [base.schema[t] for t in tag_cols]
            + [StructField(fn, DoubleType())]
        )
        season, horizon = hw_season, hw_n
        with_fit = fn == "holt_winters_with_fit"
        vcol = vname
        the_fn = fn
        if isinstance(bucket_secs, _CalendarBucket):
            step_months, step_secs = bucket_secs.months, None
        else:
            step_months, step_secs = None, float(bucket_secs)

        def hw_fold(pdf):
            pdf = pdf.sort_values(tkey)
            y = pdf[vcol].astype(float).to_numpy()
            need = max(2, 2 * season) if season else 2
            if len(y) < need:
                return pdf.iloc[0:0][[tkey, *tag_cols]].assign(**{the_fn: []})
            fit_t, fitted, fc = _holt_winters(y, season, horizon)
            times = list(pdf[tkey])
            last = times[-1]
            if step_months is not None:
                fut = [
                    last + pd.DateOffset(months=step_months * (h + 1))
                    for h in range(horizon)
                ]
            else:
                fut = [
                    last + pd.Timedelta(seconds=step_secs * (h + 1))
                    for h in range(horizon)
                ]
            out_times, out_vals = list(fut), list(fc)
            if with_fit:
                out_times = [times[t] for t in fit_t] + out_times
                out_vals = list(fitted) + out_vals
            rows = {tkey: out_times, the_fn: out_vals}
            for t in tag_cols:
                rows[t] = [pdf[t].iloc[0]] * len(out_times)
            return pd.DataFrame(rows)[[tkey, *tag_cols, the_fn]]

        res = base.groupBy(*tag_cols).applyInPandas(hw_fold, out_schema)
        key = F.col(tkey)
        return res.orderBy(key.desc() if order_desc else key.asc()), tkey

    if fn in _TA_WINDOWS:
        # Closed-form TA indicators — plain window functions over the
        # series (one shuffle on the series key, no Python):
        #   chande_momentum_oscillator(x, n): over the last n deltas,
        #     100·(Σup − Σdown)/(Σup + Σdown); 0 when the series was
        #     flat across the span.
        #   kaufmans_efficiency_ratio(x, n): |v_t − v_{t−n}| divided by
        #     Σ|delta| over those n steps (signal ÷ noise, 0 when the
        #     path length is 0).
        # Both emit once n deltas exist (from the (n+1)-th point of
        # each series), mirroring the moving_average warmup convention.
        d = v - F.lag(v).over(w)
        stepped = base.withColumn("_d", d).withColumn(
            "_rn", F.row_number().over(w)
        )
        wn = w.rowsBetween(-(n_points - 1), 0)
        if fn == "chande_momentum_oscillator":
            su = F.sum(F.greatest(F.col("_d"), F.lit(0.0))).over(wn)
            sd = F.sum(F.greatest(-F.col("_d"), F.lit(0.0))).over(wn)
            expr = F.when(su + sd == 0, F.lit(0.0)).otherwise(
                F.lit(100.0) * (su - sd) / (su + sd)
            )
        else:
            change = F.abs(v - F.lag(v, n_points).over(w))
            noise = F.sum(F.abs(F.col("_d"))).over(wn)
            expr = F.when(noise == 0, F.lit(0.0)).otherwise(change / noise)
        res = (
            stepped.withColumn(fn, expr)
            .where(F.col("_rn") >= n_points + 1)
            .select(tkey, *tag_cols, fn)
        )
        key = F.col(tkey)
        return res.orderBy(key.desc() if order_desc else key.asc()), tkey

    if fn in _TA_FOLDS:
        # Recursive TA indicators — per-series folds with no windowed
        # closed form, run exactly like the EMA below: one
        # Arrow-batched applyInPandas pass per series (aggregated form
        # = buckets × series rows; raw form capped by the same
        # series-size guard). Recursions (α = 2/(n+1), all states
        # seeded from the series' first point(s) — deterministic,
        # documented conventions; each has a term-for-term recursive
        # CTE oracle):
        #   relative_strength_index: Wilder — seed avgGain/avgLoss =
        #     mean of the first n gains/losses, then
        #     avg_t = (avg_{t−1}·(n−1) + x_t)/n;
        #     RSI = 100 − 100/(1 + avgG/avgL), 100 when avgL = 0.
        #     Emits from the (n+1)-th point.
        #   kaufmans_adaptive_moving_average: ER as above; smoothing
        #     SC = (ER·(2/3 − 2/31) + 2/31)²; KAMA seeded with the
        #     (n+1)-th point, then KAMA += SC·(v − KAMA). Emits from
        #     the (n+1)-th point.
        #   double/triple_exponential_moving_average: EMA chains
        #     e1/e2/e3 all seeded with the first point and updated
        #     every point (e2 over e1, e3 over e2); DEMA = 2e1 − e2,
        #     TEMA = 3e1 − 3e2 + e3, emitted from the n-th point.
        #   triple_exponential_derivative (TRIX):
        #     100·(e3_t − e3_{t−1})/e3_{t−1}, emitted from the
        #     (n+1)-th point.
        if inner_fn is None:
            _guard_raw_series(base, tag_cols)
        import numpy as np

        from pyspark.sql.types import DoubleType, StructField, StructType

        out_schema = StructType(
            [base.schema[tkey]]
            + [base.schema[t] for t in tag_cols]
            + [StructField(fn, DoubleType())]
        )
        npts = n_points
        vcol = vname
        alpha = 2.0 / (n_points + 1)
        the_fn = fn

        def ta_fold(pdf):
            pdf = pdf.sort_values(tkey)
            vals = pdf[vcol].astype(float).to_numpy()
            out = np.full(len(vals), np.nan)
            if the_fn == "relative_strength_index" and len(vals) > npts:
                d = np.diff(vals)
                gains = np.maximum(d, 0.0)
                losses = np.maximum(-d, 0.0)
                ag, al = gains[:npts].mean(), losses[:npts].mean()
                out[npts] = 100.0 if al == 0 else 100.0 - 100.0 / (1 + ag / al)
                for i in range(npts + 1, len(vals)):
                    ag = (ag * (npts - 1) + gains[i - 1]) / npts
                    al = (al * (npts - 1) + losses[i - 1]) / npts
                    out[i] = (
                        100.0 if al == 0 else 100.0 - 100.0 / (1 + ag / al)
                    )
            elif (
                the_fn == "kaufmans_adaptive_moving_average"
                and len(vals) > npts
            ):
                d = np.abs(np.diff(vals))
                fast, slow = 2.0 / 3.0, 2.0 / 31.0
                kama = vals[npts]
                out[npts] = kama
                for i in range(npts + 1, len(vals)):
                    noise = d[i - npts : i].sum()
                    er = 0.0 if noise == 0 else abs(vals[i] - vals[i - npts]) / noise
                    sc = (er * (fast - slow) + slow) ** 2
                    kama = kama + sc * (vals[i] - kama)
                    out[i] = kama
            elif the_fn in (
                "double_exponential_moving_average",
                "triple_exponential_moving_average",
                "triple_exponential_derivative",
            ):
                e1 = e2 = e3 = vals[0] if len(vals) else 0.0
                prev_e3 = None
                for i, x in enumerate(vals):
                    if i > 0:
                        prev_e3 = e3
                        e1 = alpha * x + (1 - alpha) * e1
                        e2 = alpha * e1 + (1 - alpha) * e2
                        e3 = alpha * e2 + (1 - alpha) * e3
                    if the_fn == "double_exponential_moving_average":
                        if i >= npts - 1:
                            out[i] = 2 * e1 - e2
                    elif the_fn == "triple_exponential_moving_average":
                        if i >= npts - 1:
                            out[i] = 3 * e1 - 3 * e2 + e3
                    else:  # TRIX
                        if i >= npts and prev_e3 not in (None, 0.0):
                            out[i] = 100.0 * (e3 - prev_e3) / prev_e3
            pdf = pdf.assign(**{the_fn: out})
            keep = pdf[~pdf[the_fn].isna()]
            return keep[[tkey, *tag_cols, the_fn]]

        res = base.groupBy(*tag_cols).applyInPandas(ta_fold, out_schema)
        key = F.col(tkey)
        return res.orderBy(key.desc() if order_desc else key.asc()), tkey

    if fn == "exponential_moving_average":
        # EMA_t = α·v_t + (1−α)·EMA_{t−1}, α = 2/(n+1), seeded with the
        # first point (InfluxQL's default exponential warmup) and
        # emitted from the n-th point on (same warmup emission as
        # moving_average). The recursion has no windowed closed form
        # that is numerically safe on long series, so each series folds
        # in ONE Arrow-batched applyInPandas pass — O(points) per
        # series, grouped on the series key (for the aggregated form
        # the input is buckets × series rows, never event count). The
        # explicit per-step expression mirrors the documented DuckDB
        # oracle CTE term-for-term, so doubles stay bit-comparable.
        #
        # SCALE BOUND (raw form): ema(raw_field, n) with no
        # GROUP BY time() puts ALL of one series' points in a single
        # Python worker — at 100 TB a hot series is an OOM/straggler.
        # The raw form is therefore capped at EMA_RAW_MAX_SERIES_ROWS
        # points per series, checked with one cheap partial-aggregated
        # count pass before the fold; an over-cap series raises a
        # named error telling the user to bucket first
        # (ema(mean(f), n) + GROUP BY time(...) — bounded at buckets ×
        # series, the production shape). The aggregated form is exempt.
        if inner_fn is None:
            _guard_raw_series(base, tag_cols)
        import numpy as np

        from pyspark.sql.types import DoubleType, StructField, StructType

        alpha = 2.0 / (n_points + 1)
        out_schema = StructType(
            [base.schema[tkey]]
            + [base.schema[t] for t in tag_cols]
            + [StructField("exponential_moving_average", DoubleType())]
        )
        npts = n_points
        vcol = vname

        def ema_group(pdf):
            pdf = pdf.sort_values(tkey)
            vals = pdf[vcol].astype(float).to_numpy()
            emas = np.empty(len(vals))
            e = 0.0
            for i, x in enumerate(vals):
                e = x if i == 0 else alpha * x + (1.0 - alpha) * e
                emas[i] = e
            pdf = pdf.assign(exponential_moving_average=emas)
            return pdf.iloc[npts - 1 :][
                [tkey, *tag_cols, "exponential_moving_average"]
            ]

        res = base.groupBy(*tag_cols).applyInPandas(ema_group, out_schema)
        key = F.col(tkey)
        return res.orderBy(key.desc() if order_desc else key.asc()), tkey

    if fn == "moving_average":
        # trailing n-point mean, emitted from the n-th point on
        wn = w.rowsBetween(-(n_points - 1), 0)
        res = (
            base.withColumn("moving_average", F.avg(v).over(wn))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") >= n_points)
            .select(tkey, *tag_cols, "moving_average")
        )
    elif fn == "cumulative_sum":
        # running sum per series, emitted at every point
        wc = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        res = base.select(
            tkey, *tag_cols, F.sum(v).over(wc).alias("cumulative_sum")
        )
    elif fn in ("difference", "non_negative_difference"):
        # value − previous value, one row per point after the first
        res = (
            base.withColumn("_pv", F.lag(v).over(w))
            .where(F.col("_pv").isNotNull())
            .withColumn(fn, v - F.col("_pv"))
        )
        if fn == "non_negative_difference":
            res = res.where(F.col(fn) >= 0)
        res = res.select(tkey, *tag_cols, fn)
    elif fn == "elapsed":
        # integer time-delta between consecutive points, truncated to
        # the unit (default nanoseconds, as InfluxQL). Exact integer
        # math from microsecond timestamps — no double rounding.
        t_us = F.unix_micros(F.col(tkey))
        pt_us = F.lag(t_us).over(w)
        if unit_secs == 1e-9:
            expr = (t_us - pt_us) * F.lit(1000)
        else:
            unit_us = int(round(unit_secs * 1_000_000))
            expr = F.floor((t_us - pt_us) / F.lit(unit_us)).cast("long")
        res = (
            base.withColumn("_e", expr)
            .where(F.col("_e").isNotNull())
            .select(tkey, *tag_cols, F.col("_e").alias("elapsed"))
        )
    else:
        # Δvalue / Δt(seconds) × unit, one row per point after the
        # first of each series; equal-timestamp pairs are skipped
        # (Δt=0, as InfluxQL does)
        dt_expr = (
            # calendar default unit: Δt in N-month grid steps
            F.months_between(F.col(tkey), F.col("_pt"))
            / F.lit(float(calendar_step_months))
            if calendar_step_months is not None
            else F.col(tkey).cast("double") - F.col("_pt").cast("double")
        )
        res = (
            base.withColumn("_pv", F.lag(v).over(w))
            .withColumn("_pt", F.lag(F.col(tkey)).over(w))
            .withColumn("_dt", dt_expr)
            .where(F.col("_pv").isNotNull() & (F.col("_dt") > 0))
            .withColumn(
                fn, (v - F.col("_pv")) / F.col("_dt") * F.lit(unit_secs)
            )
        )
        if fn == "non_negative_derivative":
            res = res.where(F.col(fn) >= 0)
        res = res.select(tkey, *tag_cols, fn)

    key = F.col(tkey)
    res = res.orderBy(key.desc() if order_desc else key.asc())
    return res, tkey


# --- SELECT-item arithmetic (binary expressions over fields or over
# aggregate calls — `SELECT hot + cold`, `SELECT mean(a) / mean(b)`).
# InfluxQL supports + - * / % between fields, literals, and aggregate
# calls (not a mix of raw fields and aggregates in one expression).
_AS_RE = re.compile(r"^(?P<expr>.+?)\s+AS\s+(?P<alias>\"[^\"]+\"|\w+)\s*$",
                    re.IGNORECASE)
#: Point-wise math functions (InfluxDB 1.5+ "mathematical operators"
#: surface). Arity-checked at parse time; compiled to the matching
#: built-in Spark expression (JVM-side, codegen'd — never a UDF).
#: ``ceil``/``floor`` are cast back to double (Spark returns LONG,
#: InfluxDB keeps floats float); NaN results (domain errors like
#: acos(2) or sqrt(-1)) become NULL, mirroring InfluxDB's
#: emit-no-point for undefined input.
_MATH_ARITY = {
    "abs": 1, "acos": 1, "asin": 1, "atan": 1, "atan2": 2, "ceil": 1,
    "cos": 1, "exp": 1, "floor": 1, "ln": 1, "log": 2, "log2": 1,
    "log10": 1, "pow": 2, "round": 1, "sin": 1, "sqrt": 1, "tan": 1,
}
# longest-first alternation so atan2 wins over atan, log2/log10 over log
_MATH_NAMES_ALT = (
    "atan2|acos|asin|atan|abs|ceil|cos|exp|floor|ln|log2|log10|log"
    "|pow|round|sin|sqrt|tan"
)
_MATH_ITEM_RE = re.compile(rf"^(?:{_MATH_NAMES_ALT})\s*\(", re.I)

#: fn → Spark Column builder. Inputs are pre-cast to double by the
#: caller, so every builder is double → double (ceil/floor cast back
#: from Spark's LONG; log(x, b) = ln x / ln b because F.log's two-arg
#: form takes a Python-float base, not a Column).
_MATH_BUILDERS = {
    "abs": F.abs,
    "acos": F.acos,
    "asin": F.asin,
    "atan": F.atan,
    "atan2": F.atan2,
    "ceil": lambda c: F.ceil(c).cast("double"),
    "cos": F.cos,
    "exp": F.exp,
    "floor": lambda c: F.floor(c).cast("double"),
    "ln": lambda c: F.log(c),
    "log": lambda c, b: F.log(c) / F.log(b),
    "log2": F.log2,
    "log10": F.log10,
    "pow": F.pow,
    "round": lambda c: F.round(c, 0),
    "sin": F.sin,
    "sqrt": F.sqrt,
    "tan": F.tan,
}

_ARITH_TOK_RE = re.compile(
    r'\s*(?:(?P<num>\d+\.\d+|\d+)'
    rf'|(?P<mathopen>(?:{_MATH_NAMES_ALT})\s*\()'
    r'|(?P<call>\w+\s*\(\s*(?:"[^"]+"|\w+|\*)\s*\))'
    r'|(?P<field>"[^"]+"|\w+)|(?P<op>[+\-*/%(),]))',
    re.I,
)
_OP_WORD = {"+": "add", "-": "sub", "*": "mul", "/": "div", "%": "mod"}


def _arith_tokens(item: str) -> list | None:
    """Tokenize a select item; None if any text fails to tokenize."""
    toks, i = [], 0
    while i < len(item):
        m = _ARITH_TOK_RE.match(item, i)
        if not m:
            return None if item[i:].strip() else toks
        i = m.end()
        if m.group("num") is not None:
            toks.append(("num", m.group("num")))
        elif m.group("mathopen") is not None:
            # "abs(" → ("mathopen", "abs"); args parsed recursively
            toks.append(
                ("mathopen", m.group("mathopen")[:-1].strip().lower())
            )
        elif m.group("call") is not None:
            toks.append(("call", m.group("call")))
        elif m.group("field") is not None:
            toks.append(("field", _unquote(m.group("field"))))
        else:
            toks.append(("op", m.group("op")))
    return toks


def _has_top_level_op(item: str) -> bool:
    """True when a binary operator appears outside parens/quotes —
    the signal that a select item is an arithmetic expression."""
    depth, q = 0, False
    for ch in item:
        if ch == '"':
            q = not q
        elif not q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and ch in "+-*/%":
                return True
    return False


class _Arith:
    """Parsed arithmetic select item. Nodes: ("num", s) / ("field", n)
    / ("agg", fn, col) / (op, left, right)."""

    def __init__(self, item: str):
        self.text = item  # for exact-duplicate collapse
        am = _AS_RE.match(item)
        expr_text = am.group("expr") if am else item
        self.alias = _unquote(am.group("alias")) if am else None
        toks = _arith_tokens(expr_text)
        if toks is None:
            raise InfluxQLError(f"unparseable select expression: {item!r}")
        self._toks, self._i = toks, 0
        self.tree = self._expr()
        if self._i != len(toks):
            raise InfluxQLError(f"unparseable select expression: {item!r}")
        self.aggs: list[tuple[str, str]] = []
        self.fields: list[str] = []
        self._walk(self.tree)
        if self.aggs and self.fields:
            raise InfluxQLError(
                "cannot mix raw fields and aggregate calls in one "
                "select expression (InfluxQL restriction)"
            )
        if self.alias is None:
            # a bare math call names its column after the function
            # alone (InfluxDB: SELECT abs(a) → column "abs");
            # composites get the descriptive synthetic name
            self.alias = (
                self.tree[1]
                if self.tree[0] == "math"
                else self._name(self.tree)
            )

    # recursive descent: expr := term ((+|-) term)*, term := factor
    # ((*|/|%) factor)*
    def _peek(self):
        return self._toks[self._i] if self._i < len(self._toks) else None

    def _expr(self):
        node = self._term()
        while self._peek() in (("op", "+"), ("op", "-")):
            op = self._toks[self._i][1]
            self._i += 1
            node = (op, node, self._term())
        return node

    def _term(self):
        node = self._factor()
        while self._peek() in (("op", "*"), ("op", "/"), ("op", "%")):
            op = self._toks[self._i][1]
            self._i += 1
            node = (op, node, self._factor())
        return node

    def _factor(self):
        tok = self._peek()
        if tok is None:
            raise InfluxQLError("dangling operator in select expression")
        self._i += 1
        if tok == ("op", "("):
            node = self._expr()
            if self._peek() != ("op", ")"):
                raise InfluxQLError("unbalanced parens in select expression")
            self._i += 1
            return node
        if tok == ("op", "-"):
            # unary minus: -x ≡ 0 − x (binds at factor level, so
            # a * -b parses; unary + stays rejected as before)
            return ("-", ("num", "0"), self._factor())
        if tok[0] == "mathopen":
            fn = tok[1]
            args = [self._expr()]
            while self._peek() == ("op", ","):
                self._i += 1
                args.append(self._expr())
            if self._peek() != ("op", ")"):
                raise InfluxQLError(
                    f"unbalanced parens in {fn}() call"
                )
            self._i += 1
            want = _MATH_ARITY[fn]
            if len(args) != want:
                raise InfluxQLError(
                    f"{fn} takes exactly {want} "
                    f"argument{'s' if want > 1 else ''}"
                )
            return ("math", fn, args)
        if tok[0] == "num":
            return tok
        if tok[0] == "call":
            am = _AGG_RE.match(tok[1])
            if not am:
                raise InfluxQLError(
                    f"only aggregate calls compose arithmetically: {tok[1]!r}"
                )
            return ("agg", _unquote(am.group(1)), _unquote(am.group(2)))
        if tok[0] == "field":
            return tok
        raise InfluxQLError(f"unexpected token in select expression: {tok!r}")

    def _walk(self, node):
        if node[0] == "agg":
            self.aggs.append((node[1], node[2]))
        elif node[0] == "field":
            self.fields.append(node[1])
        elif node[0] == "math":
            for a in node[2]:
                self._walk(a)
        elif node[0] in _OP_WORD:
            self._walk(node[1])
            self._walk(node[2])

    def _name(self, node) -> str:
        if node[0] == "num":
            return node[1].replace(".", "_")
        if node[0] == "field":
            return node[1]
        if node[0] == "agg":
            return f"{node[1]}_{node[2]}"
        if node[0] == "math":
            return f"{node[1]}_{self._name(node[2][0])}"
        return (
            f"{self._name(node[1])}_{_OP_WORD[node[0]]}_"
            f"{self._name(node[2])}"
        )

    def column(self, resolve) -> "F.Column":
        """Spark Column for the tree; ``resolve(node)`` maps agg/field
        leaves to Columns (projection vs post-aggregation context)."""

        def build(node):
            if node[0] == "num":
                return F.lit(float(node[1]))
            if node[0] in ("field", "agg"):
                return resolve(node)
            if node[0] == "math":
                c = _MATH_BUILDERS[node[1]](
                    *[build(a).cast("double") for a in node[2]]
                )
                # domain error (acos(2), sqrt(-1), 0^-1, …) → NULL:
                # InfluxDB emits no point for undefined math; NULL is
                # the relational mirror and what a CASE-guarded
                # oracle computes
                return F.when(~F.isnan(c), c)
            left, right = build(node[1]), build(node[2])
            op = node[0]
            if op == "+":
                return left + right
            if op == "-":
                return left - right
            if op == "*":
                return left * right
            if op == "%":
                return left % right
            return left / right

        return build(self.tree)


#: Every word with grammar meaning inside a select item or GROUP BY —
#: excluded when scraping identifiers for the unknown-name null-fill.
_GRAMMAR_WORDS = frozenset(
    w.lower()
    for w in (
        "mean sum count min max first last spread stddev median mode "
        "percentile top bottom distinct derivative "
        "non_negative_derivative moving_average difference "
        "non_negative_difference cumulative_sum elapsed integral "
        "exponential_moving_average chande_momentum_oscillator "
        "kaufmans_efficiency_ratio kaufmans_adaptive_moving_average "
        "relative_strength_index double_exponential_moving_average "
        "triple_exponential_moving_average "
        "triple_exponential_derivative holt_winters "
        "holt_winters_with_fit sample histogram time fill as and or "
        "not abs acos asin atan atan2 ceil cos exp floor ln log log2 "
        "log10 pow round sin sqrt tan"
    ).split()
)

_IDENT_SCRAPE_RE = re.compile(r'"[^"]+"|[A-Za-z_][A-Za-z0-9_]*')
_AS_TAIL_RE = re.compile(r'\bAS\s+("[^"]+"|\w+)\s*$', re.I)

#: Grammar words that act as grammar even WITHOUT a following "(" —
#: keywords and the special time column. Everything else in
#: _GRAMMAR_WORDS is a function name, grammar only in call position.
_NONCALL_GRAMMAR = frozenset("time fill as and or not".split())


def _null_fill_unknown_identifiers(
    df: DataFrame,
    select_items: list,
    tag_cols: list,
    time_col: str,
) -> DataFrame:
    """Add a NULL column for every identifier referenced in SELECT or
    GROUP BY that the measurement lacks, so downstream column
    resolution is total (see the call-site comment for the InfluxDB
    semantics this implements)."""
    have = {c.lower() for c in df.columns} | {time_col.lower()}
    missing_fields: list = []
    for item in select_items:
        item = _AS_TAIL_RE.sub("", item)  # an alias is not a reference
        for m in _IDENT_SCRAPE_RE.finditer(item):
            tok = m.group(0)
            name = _unquote(tok)
            low = name.lower()
            if low in have or _DURATION_RE.match(name):
                continue
            # a grammar word is only grammar in CALL position —
            # ``min(count)`` on a table with no ``count`` column must
            # null-fill ``count`` like any unknown field (a field may
            # legally be NAMED count/min/...; soak-found r14, the
            # unresolved column escaped the wire as a raised
            # AnalysisException). Quoted tokens are always
            # identifiers, never grammar.
            is_call = item[m.end():].lstrip().startswith("(")
            if (
                low in _GRAMMAR_WORDS
                and not tok.startswith('"')
                and (is_call or low in _NONCALL_GRAMMAR)
            ):
                continue
            have.add(low)
            missing_fields.append((name, "double"))
    for g in tag_cols:
        if g != "*" and g.lower() not in have:
            have.add(g.lower())
            missing_fields.append((g, "string"))
    for name, typ in missing_fields:
        df = df.withColumn(name, F.lit(None).cast(typ))
    return df


def _day_partitioned_relation(df: DataFrame):
    """The ``HadoopFsRelation`` that ``df`` is a bare scan of, when it
    is a store table whose ``date`` partition is ``to_date(time)``
    (:func:`sinks.date_is_day_of_time`); None for any other frame — a
    derived one, or a ``/write`` measurement that may carry its own
    ``date`` field. Only on such a scan does a day partition bound the
    times of its rows."""
    from ..sources import sinks

    dtypes = dict(df.dtypes)
    if dtypes.get("time") != "timestamp" or dtypes.get("date") != "date":
        return None
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or not rel.partitionSchema().getFieldIndex("date").isDefined()
    ):
        return None
    if not sinks.date_is_day_of_time(
        rel.location().rootPaths().head().getName()
    ):
        return None
    return rel


def _date_bounds(df: DataFrame, ranges: list):
    """The ``date`` bounds that the conjunctive time ranges of a WHERE
    imply, as one Column, when ``df`` is a day-partitioned scan
    (:func:`_day_partitioned_relation`); else None. Spark cannot infer
    a partition bound from a bound on ``time``, so without these a
    one-day panel selects every day-file of its building and skips
    their rows by row-group statistics. Each day is taken by
    ``to_date`` of the WHERE's own literal, in the session time zone
    the writers took ``to_date(time)`` in."""
    if _day_partitioned_relation(df) is None:
        return None
    # one SQL expression: every Column call costs the driver several
    # py4j round trips
    return F.expr(
        " AND ".join(
            f"`date` >= to_date({lit})" if op in (">=", ">")
            else f"`date` <= to_date({lit})" if op == "<="
            # the last instant a row may hold is one microsecond before
            else f"`date` <= to_date({lit} - INTERVAL 1 MICROSECOND)"
            for op, lit in ranges
        )
    )


#: a ``first(f)`` or ``last(f)`` select item on one named field
_EDGE_SELECTOR_RE = re.compile(
    r'^(first|last)\s*\(\s*("[^"]+"|[A-Za-z_]\w*)\s*\)$', re.I
)
_ISO_DAY_RE = re.compile(r"\d{4}-\d{2}-\d{2}")


def _sql_string(v: str) -> str:
    """``v`` as a Spark SQL string literal."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _selector_edge_days(df: DataFrame, m, time_col: str) -> DataFrame:
    """``df`` filtered, for a ``last()`` (``first()``) statement, to
    each group's newest (oldest) ``date`` partition wherever the
    Parquet footers prove that every selected field has a value
    there; ``df`` unchanged when the statement or frame does not
    qualify (see :func:`translate` for the rule).

    Phase 1 lists the scan's file index
    (:func:`sinks.indexed_partition_files`) and keeps, per group key,
    its edge day and that day's files. Phase 2
    (:func:`sinks.footers_prove_values`) keeps a group on that day
    only if its files hold a non-null value of every field; any other
    group keeps all of its days. Neither phase reads data or starts a
    Spark job."""
    from ..sources import sinks

    if time_col != "time" or any(
        m.group(k) for k in ("where", "fill", "orderby")
    ):
        return df
    items = [
        _EDGE_SELECTOR_RE.match(s.strip())
        for s in _split_commas(m.group("select"))
    ]
    if not all(items) or len({i.group(1).lower() for i in items}) != 1:
        return df
    rel = _day_partitioned_relation(df)
    if rel is None:
        return df
    parts = list(rel.partitionSchema().fieldNames())
    dtypes = dict(df.dtypes)
    groups = []
    for g in _split_commas(m.group("group")) if m.group("group") else ():
        name = _unquote(g)
        if name not in parts or dtypes.get(name) != "string":
            return df
        groups.append(name)
    data_cols = {c.lower(): c for c in df.columns if c not in parts}
    fields = [data_cols.get(_unquote(i.group(2)).lower()) for i in items]
    if None in fields:
        return df
    files = sinks.indexed_partition_files(df, parts)
    if files is None:
        return df
    day_at, key_at = parts.index("date"), [parts.index(g) for g in groups]
    by_group: dict[tuple, list] = {}
    for values, uri in files:
        if values[day_at] is not None and not _ISO_DAY_RE.fullmatch(
            values[day_at]
        ):
            return df
        by_group.setdefault(
            tuple(values[i] for i in key_at), []
        ).append((values[day_at], uri))
    edge = max if items[0].group(1).lower() == "last" else min
    quoted = ["`" + g.replace("`", "``") + "`" for g in groups]
    terms, narrowed = [], False
    for key, day_files in by_group.items():
        cond = [
            f"{g} IS NULL" if v is None else f"{g} = {_sql_string(v)}"
            for g, v in zip(quoted, key)
        ]
        days = {d for d, _ in day_files if d is not None}
        if days:
            day = edge(days)
            if sinks.footers_prove_values(
                [u for d, u in day_files if d == day], fields
            ):
                cond.append(f"`date` = DATE'{day}'")
                narrowed = True
        terms.append(" AND ".join(cond))
    if not narrowed:
        return df
    # one SQL expression: every Column call costs the driver several
    # py4j round trips
    return df.where(F.expr(" OR ".join(f"({t})" for t in terms)))


def _one_partition_if_small(out: DataFrame) -> DataFrame:
    """``out`` read as one partition when every leaf of its plan is a
    file scan and the files those scans select (after partition
    pruning) total at most ``spark.sql.files.openCostInBytes``; else
    ``out`` unchanged. The probe is one synchronous planning of
    ``out``; the coalesce sits above the filter, so pushdown and
    pruning still happen below it."""
    jqe = out._jdf.queryExecution()
    leaves = jqe.sparkPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "FileSourceScanExec":
            return out
        total += leaf.selectedPartitions().totalFileSize()
    conf = jqe.sparkSession().sessionState().conf()
    if total > conf.filesOpenCostInBytes():
        return out
    return out.coalesce(1)


def translate(
    df: DataFrame, query: str | Statement, time_col: str = "time", now=None
) -> DataFrame:
    """Translate one InfluxQL statement (text, or a :class:`Statement`)
    against a measurement frame.

    ``df`` is the measurement's DataFrame (the FROM name is validated
    but binding is the caller's job — pass ``tables[name]``); returns
    the translated DataFrame plan.

    Small statements plan as one partition. Once the WHERE filter is
    on (with its time range also pruning ``date`` partitions, see
    :func:`_date_bounds`), Spark is asked what the file scans select;
    when every leaf is a file scan and the selected files total at
    most ``spark.sql.files.openCostInBytes`` — Spark's own cost of
    opening one file, 4 MB by default — the filtered frame is read
    as one partition (:func:`_one_partition_if_small`). A one-day
    panel then runs as one Spark job with a local sort, instead of a
    hash Exchange, a range-sort sampling job and the AQE stages around
    them. The gate is the open cost, not
    ``spark.sql.files.maxPartitionBytes`` (128 MB): a fleet-wide
    ``last()`` over 22 MB read as one partition took twice as long as
    its parallel scan. Any other input — a larger one, an in-memory
    frame, a Python data source, the measurements of a ``FROM /re/``
    or ``FROM a, b`` statement — plans as before.

    Selectors read each group's newest day first. A statement whose
    SELECT items are all ``last(f)`` (or all ``first(f)``) on fields
    of the table, with no WHERE, ``fill()`` or ORDER BY, GROUP BY
    only string partition tags of the table (or nothing), over a bare
    scan of a table whose ``date`` is ``to_date(time)`` and outside a
    ``FROM /re/`` or ``FROM a, b`` statement, scans for each group
    only its newest ``date`` partition (its oldest, for ``first()``)
    — provided the Parquet footers of that day's files prove a
    non-null value of every selected field: ``num_rows -
    null_count``, summed over their row groups, is above 0. A group
    without that proof (a field that stopped arriving, a file that
    lacks the column, a row group without a null count) keeps all of
    its days. The partition list comes from the file index Spark
    scans, and no data is read to choose (:func:`_selector_edge_days`).
    The fleet ``last()`` of one value per building then reads one
    file per building, not its whole history, and usually passes the
    one-partition gate. Any other statement plans as before.
    """
    stmt = parse(query, now) if isinstance(query, str) else query
    return _translate(df, stmt, time_col, fan_out=False)


def _translate(
    df: DataFrame, stmt: Statement, time_col: str, *, fan_out: bool
) -> DataFrame:
    """:func:`translate`. ``fan_out`` marks one measurement of a
    multi-measurement statement: its frame keeps its partitioning,
    because each measurement passing the one-partition gate does not
    make their union pass it."""
    if stmt.error:
        raise stmt.error
    m = stmt.match if stmt.kind in ("select", "into") else None
    if not m:
        raise InfluxQLError(f"unparseable InfluxQL: {stmt.text!r}")
    if stmt.into:
        raise InfluxQLError(
            "INTO is a write statement — run it via execute_into()"
        )

    out = df
    # tz ----------------------------------------------------------
    tz = m.group("tz")
    if tz:
        try:
            from zoneinfo import ZoneInfo

            ZoneInfo(tz)
        except Exception:
            raise InfluxQLError(f"unknown time zone: {tz!r}") from None
    # WHERE --------------------------------------------------------
    time_bounds: dict = {}
    if m.group("where"):
        cond = _where_expr(
            m.group("where"), time_col, time_bounds, tz,
            columns=dict(df.dtypes),
        )
        if time_col == "time" and time_bounds.get("ranges"):
            days = _date_bounds(df, time_bounds["ranges"])
            if days is not None:
                cond = cond & days
        out = out.where(cond)
    if not fan_out:
        out = _one_partition_if_small(
            _selector_edge_days(out, m, time_col)
        )

    # GROUP BY -----------------------------------------------------
    group_cols = []
    tag_cols: list[str] = []
    bucket = None
    bucket_secs = None
    bucket_offset = 0
    if m.group("group"):
        for g in _split_commas(m.group("group")):
            g = g.strip()
            tb = _TIME_BUCKET_RE.match(g)
            if tb:
                n, unit = int(tb.group(1)), tb.group(2).lower()
                if n == 0:
                    raise InfluxQLError("time() interval must be > 0")
                if unit in ("mo", "y"):
                    # calendar extension (module docstring): N-month
                    # tiling of the epoch-anchored month axis; offsets
                    # must be month-aligned
                    months = n * (12 if unit == "y" else 1)
                    off_months = 0
                    if tb.group(3):
                        ou = tb.group(4).lower()
                        if ou not in ("mo", "y"):
                            raise InfluxQLError(
                                "calendar bucket offset must be "
                                "month-aligned (mo/y); a sub-month "
                                "offset has no calendar meaning"
                            )
                        off_months = int(tb.group(3)) * (
                            12 if ou == "y" else 1
                        )
                    bucket_secs = _CalendarBucket(months, off_months)
                else:
                    bucket_secs = n * _UNIT_SECONDS[unit]
                    if tb.group(3):
                        ou = tb.group(4).lower()
                        if ou in ("mo", "y"):
                            raise InfluxQLError(
                                "fixed-span bucket cannot take a "
                                "calendar (mo/y) offset"
                            )
                        # time(n, offset): shift bucket boundaries
                        bucket_offset = int(tb.group(3)) * _UNIT_SECONDS[ou]
                bucket = _bucket_expr(
                    time_col, bucket_secs, bucket_offset, tz
                )
                group_cols.append(bucket)
            elif g == "*":
                # GROUP BY *: every tag of the measurement — i.e. all
                # string-typed columns except the time column (the
                # line-protocol tag/field distinction)
                for c, t in df.dtypes:
                    if t == "string" and c != time_col and c not in tag_cols:
                        tag_cols.append(c)
                        group_cols.append(F.col(c))
            else:
                # a failed time(...) form must not fall through as a
                # tag named "time(...)" — bad durations (time(),
                # time(7x)) get the named error here
                if re.match(r"time\s*\(", g, re.I):
                    raise InfluxQLError(f"bad time() bucket: {g!r}")
                if not re.fullmatch(r'"[^"]+"|\w+', g):
                    raise InfluxQLError(f"unparseable GROUP BY: {g!r}")
                tag_cols.append(_unquote(g))
                group_cols.append(F.col(_unquote(g)))

    # SELECT -------------------------------------------------------
    select_raw = [s.strip() for s in _split_commas(m.group("select"))]
    # An identifier referenced in SELECT or GROUP BY but absent from
    # the measurement evaluates as a NULL column (InfluxDB: unknown
    # fields come back null / aggregate to nothing; an unknown GROUP
    # BY tag yields one all-points group) — never an unresolved-
    # column AnalysisException out of the dispatcher. Catalyst prunes
    # the added columns wherever they end up unreferenced.
    out = _null_fill_unknown_identifiers(
        out, select_raw, tag_cols, time_col
    )
    agg_items = []  # (fn, col, pct-or-None)
    plain_items = []
    arith_raw: list[_Arith] = []  # field arithmetic / AS-aliased items
    arith_agg: list[_Arith] = []  # aggregate arithmetic
    xform_m = None
    selector_m = None
    distinct_m = None
    for item in select_raw:
        um = _UNSUPPORTED_FN_RE.match(item)
        if um:
            raise InfluxQLError(
                f"{um.group(1).lower()} is out of surface: "
                "reserved-but-unimplemented in InfluxQL 1.x"
            )
        # arithmetic / AS / math-call items must classify BEFORE
        # _AGG_RE: its lazy body would swallow "mean(a) + mean(b)" as
        # one malformed agg, and pow(v, 2) as a malformed transform
        if item != "*" and (
            _has_top_level_op(item)
            or _AS_RE.match(item)
            or _MATH_ITEM_RE.match(item)
        ):
            a = _Arith(item)
            (arith_agg if a.aggs else arith_raw).append(a)
            continue
        cdm = _COUNT_DISTINCT_RE.match(item)
        if cdm:
            agg_items.append(
                ("count_distinct", _unquote(cdm.group(1) or cdm.group(2)),
                 None)
            )
            continue
        tm = _TRANSFORM_RE.match(item)
        sm = _SELECTOR_RE.match(item)
        dm = _DISTINCT_RE.match(item)
        pm = _PERC_RE.match(item)
        am = _AGG_RE.match(item)
        if tm or sm or dm:
            if len(select_raw) != 1:
                raise InfluxQLError(
                    "a transform must be the only select item"
                )
            xform_m, selector_m, distinct_m = tm, sm, dm
        elif pm:
            agg_items.append(
                ("percentile", _unquote(pm.group(1)), float(pm.group(2)))
            )
        elif am:
            fn_name, target = _unquote(am.group(1)), _unquote(am.group(2))
            # _AGG_RE's lazy body can swallow garbage like
            # "mean(f) mean(g)" as one call whose target is
            # "f) mean(g" — a target must BE a field reference
            if target != "*" and not re.fullmatch(
                r'"[^"]+"|[A-Za-z_]\w*', am.group(2)
            ):
                raise InfluxQLError(
                    f"unparseable select item: {item!r}"
                )
            if target == "*":
                # InfluxQL agg(*): the aggregate applies to every
                # field (numeric column) of the measurement
                numeric = {
                    "double", "float", "bigint", "int", "smallint",
                    "tinyint",
                }
                for cname, ctype in df.dtypes:
                    if ctype.split("(")[0] in numeric | {"decimal"}:
                        agg_items.append((fn_name, cname, None))
            else:
                agg_items.append((fn_name, target, None))
        elif item == "*":
            plain_items = None  # all columns
        else:
            # bare field reference — anything else that reached here
            # is a malformed call (e.g. top(f, 95.5): selector N must
            # be an integer) and gets the named error, not a column
            # lookup on the raw text
            if not re.fullmatch(r'"[^"]+"|[A-Za-z_]\w*', item):
                raise InfluxQLError(f"unparseable select item: {item!r}")
            if plain_items is not None:
                # SELECT f, "f" names one field twice — InfluxQL
                # returns the field once, so dedupe instead of letting
                # the projection throw COLUMN_ALREADY_EXISTS
                name = _unquote(item)
                if name not in plain_items:
                    plain_items.append(name)

    # Duplicate select items: exact duplicates collapse to one column
    # (the SELECT f, "f" convention); distinct items whose derived
    # names collide (percentile at two different p's, two AS x) get
    # deterministic _2/_3 ordinals — output names stay unique, so no
    # downstream select/union/compare ever hits COLUMN_ALREADY_EXISTS
    # (widened-grammar 10k-fuzz find: SELECT stddev(f), stddev(f)
    # FROM /re/ leaked at the multi-measurement union).
    _dedup, _seen_items = [], set()
    for _it in agg_items:
        if _it not in _seen_items:
            _seen_items.add(_it)
            _dedup.append(_it)
    agg_items = _dedup
    _used_names: dict[str, int] = {}

    def _claim(name: str) -> str:
        n = _used_names.get(name, 0) + 1
        _used_names[name] = n
        return name if n == 1 else f"{name}_{n}"

    agg_aliases = [
        _claim(f"{fn.lower()}_{col}") for fn, col, _p in agg_items
    ]
    for _group in (arith_agg, arith_raw):
        _kept, _seen_text = [], set()
        for a in _group:
            if a.text in _seen_text:
                continue
            _seen_text.add(a.text)
            a.alias = _claim(a.alias)
            _kept.append(a)
        _group[:] = _kept

    fill_mode = (m.group("fill") or "none").strip().lower()
    # InfluxQL only sorts on time; direction defaults to ASC. The sort
    # key is the raw time column (no GROUP BY) or the bucket column.
    order_desc = (m.group("order") or "ASC").upper() == "DESC"
    has_order = m.group("orderby") is not None
    time_key: str | None = None  # time column present in the output
    if distinct_m is not None:
        # InfluxQL DISTINCT(field): unique field values per
        # bucket/series (the values become the points; one shuffle on
        # the distinct key set)
        dcol = _unquote(distinct_m.group(1))
        if fill_mode != "none":
            raise InfluxQLError("fill() does not apply to distinct()")
        cols = [*[F.col(c) for c in tag_cols], F.col(dcol).alias("distinct")]
        if bucket_secs is not None:
            cols.insert(
                0, _bucket_expr(time_col, bucket_secs, bucket_offset, tz)
            )
            time_key = "time_bucket"
        out = out.select(*cols).where(F.col("distinct").isNotNull()).distinct()
        if time_key:
            key = F.col(time_key)
            out = out.orderBy(key.desc() if order_desc else key.asc())
    elif selector_m is not None:
        out, time_key = _apply_selector(
            out,
            selector_m,
            time_col=time_col,
            tag_cols=tag_cols,
            bucket_secs=bucket_secs,
            bucket_offset=bucket_offset,
            fill_mode=fill_mode,
            order_desc=order_desc,
            tz=tz,
        )
    elif xform_m is not None:
        out, time_key = _apply_transform(
            out,
            xform_m,
            time_col=time_col,
            group_cols=group_cols,
            tag_cols=tag_cols,
            bucket_secs=bucket_secs,
            bucket_offset=bucket_offset,
            fill_mode=fill_mode,
            time_bounds=time_bounds,
            order_desc=order_desc,
            tz=tz,
        )
    elif (
        len(agg_items) == 1
        and plain_items
        and not arith_agg
        and not arith_raw
        and agg_items[0][0].lower()
        in _COMPANION_SELECTORS | {"percentile"}
    ):
        # selector + companion columns (SELECT max(f), tag): the
        # companions come from the selected point
        fn, scol, pct = agg_items[0]
        companions = [
            c
            for c in plain_items
            if c != time_col and c not in tag_cols
        ]
        out, time_key = _apply_companion_selector(
            out,
            fn.lower(),
            scol,
            companions,
            time_col=time_col,
            tag_cols=tag_cols,
            bucket_secs=bucket_secs,
            bucket_offset=bucket_offset,
            fill_mode=fill_mode,
            order_desc=order_desc,
            tz=tz,
            pct=pct,
        )
    elif agg_items or arith_agg:
        # plain_items is [] when only aggregates were named, None for
        # SELECT * — a bare field NAME alongside an aggregate is the
        # same mix error as field arithmetic alongside one
        if arith_raw or plain_items:
            raise InfluxQLError(
                "cannot mix raw-field and aggregate select items"
            )
        # aggregate arithmetic: compute each distinct component
        # aggregate once under a temp name, combine post-agg, drop the
        # temps — fill/order then see the combined column like any
        # other aggregate output
        components: dict[tuple, str] = {}
        for a in arith_agg:
            for fn, col in a.aggs:
                components.setdefault((fn, col), f"__arith_{len(components)}")
        grouped = out.groupBy(*group_cols) if group_cols else out.groupBy()
        dtypes = dict(out.dtypes)
        out = grouped.agg(
            *[
                _agg_column(
                    fn, col, time_col, p, dtypes.get(col), agg_aliases[i]
                )
                for i, (fn, col, p) in enumerate(agg_items)
            ],
            *[
                _agg_column(fn, col, time_col, None, dtypes.get(col)).alias(
                    tmp
                )
                for (fn, col), tmp in components.items()
            ],
        )
        if arith_agg:
            combos = [
                a.column(
                    lambda n: F.col(components[(n[1], n[2])])
                ).alias(a.alias)
                for a in arith_agg
            ]
            keep = [
                c for c in out.columns if not c.startswith("__arith_")
            ]
            out = out.select(*keep, *combos)
        if fill_mode != "none":
            out = _apply_fill(
                out, fill_mode, bucket_secs, tag_cols, time_bounds,
                bucket_offset, tz,
            )
        if bucket is not None:
            time_key = "time_bucket"
            key = F.col(time_key)
            out = out.orderBy(key.desc() if order_desc else key.asc())
        elif has_order:
            raise InfluxQLError("ORDER BY time requires a time(...) bucket")
    else:
        if group_cols:
            raise InfluxQLError("GROUP BY requires aggregate select items")
        if plain_items is not None:
            # InfluxQL always returns time alongside projected fields
            cols = [time_col] + [c for c in plain_items if c != time_col]
            cols += [
                a.column(lambda n: F.col(n[1])).alias(a.alias)
                for a in arith_raw
            ]
            out = out.select(*cols)
        elif arith_raw:  # SELECT *, expr — project all plus the exprs
            out = out.select(
                "*",
                *[
                    a.column(lambda n: F.col(n[1])).alias(a.alias)
                    for a in arith_raw
                ],
            )
        time_key = time_col
        if has_order:
            key = F.col(time_col)
            # with a LIMIT below this becomes TakeOrderedAndProject —
            # a per-partition top-k + driver-side merge, never a full
            # global sort of the scan
            out = out.orderBy(key.desc() if order_desc else key.asc())

    # SLIMIT / SOFFSET ---------------------------------------------
    if m.group("soffset") and not m.group("slimit"):
        raise InfluxQLError("SOFFSET requires SLIMIT")
    if m.group("slimit"):
        if not tag_cols:
            raise InfluxQLError("SLIMIT requires GROUP BY on ≥1 tag")
        # InfluxQL keeps the first n series in tag order, skipping the
        # first SOFFSET series. Series cardinality is bounded (it's a
        # GROUP BY key), so the kept set is a broadcastable dimension:
        # distinct-sort-paginate it and semi-join — no window over the
        # full result.
        n = int(m.group("slimit"))
        so = int(m.group("soffset") or 0)
        kept = out.select(*tag_cols).distinct().orderBy(*tag_cols)
        if so:
            kept = kept.offset(so)
        kept = kept.limit(n)
        out = out.join(F.broadcast(kept), tag_cols, "left_semi")

    # LIMIT / OFFSET -----------------------------------------------
    if m.group("limit") or m.group("offset"):
        n = int(m.group("limit")) if m.group("limit") else None
        o = int(m.group("offset") or 0)
        if m.group("slimit"):
            # InfluxQL: combined with SLIMIT, LIMIT/OFFSET page points
            # PER SERIES (skip the first OFFSET points of each kept
            # series in time order, keep the next LIMIT). Without a
            # time column in the output (tag-only GROUP BY: exactly
            # one row per series) any per-series order gives the same
            # result; tag columns are a deterministic stand-in.
            from pyspark.sql import Window as W

            if time_key is not None:
                key = (
                    F.col(time_key).desc()
                    if order_desc
                    else F.col(time_key).asc()
                )
                w = W.partitionBy(*tag_cols).orderBy(key)
            else:
                w = W.partitionBy(*tag_cols).orderBy(
                    *[F.col(c) for c in tag_cols]
                )
            cond = F.col("_rn") > o
            if n is not None:
                cond = cond & (F.col("_rn") <= o + n)
            out = (
                out.withColumn("_rn", F.row_number().over(w))
                .where(cond)
                .drop("_rn")
            )
        else:
            # global pagination: skip o points, keep n. Deterministic
            # only after ORDER BY time (same contract as bare LIMIT);
            # with a LIMIT this stays TakeOrderedAndProject-shaped —
            # offset+limit rows fetched, o dropped at the driver edge.
            if o:
                out = out.offset(o)
            if n is not None:
                out = out.limit(n)
    return out


_SHOW_RE = re.compile(
    # upstream's optional EXACT qualifier on every CARDINALITY kind:
    # estimated vs exact is a TSI-index distinction — this engine
    # always computes the exact count, so EXACT is an accepted
    # synonym (the kind group strips it below)
    r"^\s*SHOW\s+(MEASUREMENT\s+(?:EXACT\s+)?CARDINALITY|MEASUREMENTS"
    r"|TAG\s+KEY\s+(?:EXACT\s+)?CARDINALITY|TAG\s+KEYS"
    r"|FIELD\s+KEY\s+(?:EXACT\s+)?CARDINALITY|FIELD\s+KEYS"
    r"|TAG\s+VALUES\s+(?:EXACT\s+)?CARDINALITY|TAG\s+VALUES"
    r"|DATABASES|RETENTION\s+POLICIES"
    r"|SERIES\s+(?:EXACT\s+)?CARDINALITY|SERIES)"
    r"(?:\s+ON\s+(\"[^\"]+\"|\w+))?"
    # SHOW MEASUREMENTS filter: WITH MEASUREMENT =~ /re/ | = name
    r"(?:\s+WITH\s+MEASUREMENT\s*(?:=~\s*(?P<mre>/[^/]*/)"
    r"|=\s*(?P<mname>\"[^\"]+\"|\w+)))?"
    r"(?:\s+FROM\s+(?P<frm>\S+))?"
    # WITH KEY forms (InfluxQL 1.x): = k | IN (k1, k2) | =~ /re/ | !~ /re/
    r"(?:\s+WITH\s+KEY\s*(?:=~\s*(?P<kre>/[^/]*/)"
    r"|!~\s*(?P<knre>/[^/]*/)"
    r"|=\s*(?P<key>\"[^\"]+\"|\w+)"
    r"|IN\s*\((?P<kin>[^)]*)\)))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    r"(?:\s+LIMIT\s+(?P<lim>\d+))?"
    r"(?:\s+OFFSET\s+(?P<off>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)

def _show_from_names(tok, tables) -> list[str]:
    """Resolve a SHOW statement's FROM token: absent → every
    measurement; /regex/ → the matching measurements (possibly none —
    upstream returns an empty result for a no-match regex rather than
    erroring); otherwise an exact name (unknown → named error)."""
    if tok is None:
        return sorted(tables)
    tok = tok.strip()
    if len(tok) >= 2 and tok.startswith("/") and tok.endswith("/"):
        pat = tok[1:-1].replace("\\/", "/")
        if not pat:
            raise InfluxQLError("empty regex pattern //")
        try:
            rx = re.compile(pat)
        except re.error as exc:
            raise InfluxQLError(f"invalid regex {tok!r}: {exc}") from None
        return sorted(n for n in tables if rx.search(n))
    name = _unquote(tok)
    if name not in tables:
        raise InfluxQLError(f"unknown measurement: {name!r}")
    return [name]


#: Logical database name the registry presents. The reference reads
#: its database name from config (get_hot_intake_interval.py:108-113);
#: pass a different name through ``query_measurement(database=...)``
#: to mirror a deployment's config value.
DEFAULT_DATABASE = "ciws"
_SUBQUERY_RE = re.compile(r"\bFROM\s*\(", re.IGNORECASE)

_CREATE_DB_RE = re.compile(
    r"^\s*CREATE\s+DATABASE\s+(\"[^\"]+\"|\w+)\s*;?\s*$", re.IGNORECASE
)
_DROP_DB_RE = re.compile(
    r"^\s*DROP\s+DATABASE\s+(\"[^\"]+\"|\w+)\s*;?\s*$", re.IGNORECASE
)
_DB_FILE = "_database.json"


def registered_database(table_dir: str | None) -> str:
    """The store's registered database name (CREATE DATABASE), falling
    back to :data:`DEFAULT_DATABASE` — the reference's deployment
    guide opens with ``CREATE DATABASE ciwsdb``
    (doc/deployment_guide.md:25), so the statement is part of the
    user's real workflow, not an exotic admin path."""
    import json as _json

    if table_dir:
        try:
            with open(os.path.join(table_dir, _DB_FILE)) as fh:
                return _json.load(fh)["name"]
        except (FileNotFoundError, KeyError, ValueError):
            pass
    return DEFAULT_DATABASE


def execute_create_database(m: re.Match, table_dir: str) -> str:
    """Register the store's (single) logical database name.

    Idempotent like InfluxDB's. Re-creating under a DIFFERENT name is
    refused — one store dir is one database; a second name would
    silently orphan retention/CQ state keyed to the first."""
    import json as _json

    name = _unquote(m.group(1))
    current_path = os.path.join(table_dir, _DB_FILE)
    current = registered_database(table_dir)
    if os.path.exists(current_path) and current != name:
        raise InfluxQLError(
            f"store already holds database {current!r}; "
            "one table_dir is one database"
        )
    tmp = current_path + ".tmp"
    with open(tmp, "w") as fh:
        _json.dump({"name": name}, fh)
    os.replace(tmp, current_path)
    return name


def execute_drop_database(spark, m: re.Match, table_dir: str) -> bool:
    """InfluxDB ``DROP DATABASE``: every measurement, policy, and CQ
    under the store dir goes. Measurements drop through
    :func:`execute_drop` (locked, atomic per table); the registry
    sidecars go last, so a crash mid-way leaves a smaller database,
    never an inconsistent one. Returns True if the name matched."""
    name = _unquote(m.group(1))
    if name != registered_database(table_dir):
        return False
    for entry in sorted(os.listdir(table_dir)):
        if "." in entry or entry.startswith("_"):
            continue
        if os.path.isdir(os.path.join(table_dir, entry)):
            execute_drop(spark, f"DROP MEASUREMENT {entry}", table_dir)
    for sidecar in (
        _DB_FILE,
        "_retention_policies.json",
        "_continuous_queries.json",
    ):
        try:
            os.remove(os.path.join(table_dir, sidecar))
        except OSError:
            pass
    return True

#: Spark dtypes InfluxQL reports as field (value) types; everything
#: else string-typed is a tag.
_FIELD_TYPES = {
    "double": "float",
    "float": "float",
    "bigint": "integer",
    "int": "integer",
    "smallint": "integer",
    "tinyint": "integer",
    "boolean": "boolean",
    "decimal": "float",
}


def result_frame(spark, rows: list, ddl: str) -> DataFrame:
    """A result frame of driver-side ``rows`` under the ``ddl`` schema,
    handed to the JVM as one Arrow table: a local relation, so reading
    it starts no Python worker, where a frame built from a Python list
    is parallelized through one."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    schema = _parse_datatype_string(ddl)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def _show(
    spark,
    tables: dict[str, DataFrame],
    m: re.Match,
    database: str = None,
    time_col: str = "time",
) -> DataFrame:
    """InfluxQL metadata statements (SHOW MEASUREMENTS / TAG KEYS /
    FIELD KEYS / DATABASES / RETENTION POLICIES) over the measurement
    registry — schema introspection, driver-side only, no scan (except
    TAG VALUES)."""
    kind = re.sub(r"\s+", " ", m.group(1).upper())
    # EXACT CARDINALITY ≡ CARDINALITY here (counts are always exact)
    kind = kind.replace("EXACT CARDINALITY", "CARDINALITY")
    db = database or DEFAULT_DATABASE
    where = m.group("where")
    if where and kind not in (
        "SERIES", "SERIES CARDINALITY", "TAG VALUES",
        "TAG VALUES CARDINALITY",
    ):
        raise InfluxQLError(f"WHERE is not supported for SHOW {kind}")

    def _narrow(df: DataFrame) -> DataFrame:
        # tag/time predicates on the scanning SHOW kinds (upstream
        # 1.x: SHOW SERIES / TAG VALUES take a WHERE clause); unknown
        # identifiers null-stamp like every other WHERE
        if not where:
            return df
        return df.where(
            _where_expr(
                where, time_col, {}, None, columns=dict(df.dtypes)
            )
        )

    def _page(rows: list) -> list:
        # LIMIT/OFFSET pagination for the driver-side key listings
        if m.group("off"):
            rows = rows[int(m.group("off")):]
        if m.group("lim"):
            rows = rows[: int(m.group("lim"))]
        return rows
    if kind == "DATABASES":
        # one logical database per registry (the reference's client
        # connects to a single config-named database)
        return result_frame(spark, [(db,)], "name STRING")
    if kind == "RETENTION POLICIES":
        # no store dir: the seeded autogen policy alone
        from . import retention

        return retention.show_retention_policies(spark, None, db, m.group(2))
    if kind == "MEASUREMENTS":
        names = sorted(tables)
        if m.group("mre"):
            pat = m.group("mre")[1:-1].replace("\\/", "/")
            if not pat:
                raise InfluxQLError("empty regex pattern //")
            try:
                rx = re.compile(pat)
            except re.error as exc:
                raise InfluxQLError(
                    f"invalid regex {m.group('mre')!r}: {exc}"
                ) from None
            names = [n for n in names if rx.search(n)]
        elif m.group("mname"):
            want = _unquote(m.group("mname"))
            # an unknown exact name is an empty list, not an error —
            # WITH MEASUREMENT filters the listing (InfluxDB 1.x)
            names = [n for n in names if n == want]
        if m.group("off"):
            names = names[int(m.group("off")):]
        if m.group("lim"):
            names = names[: int(m.group("lim"))]
        return result_frame(spark, [(n,) for n in names], "name STRING")
    if kind == "MEASUREMENT CARDINALITY":
        # exact counts throughout the CARDINALITY family (InfluxDB
        # 1.x defaults to estimated with an EXACT keyword variant;
        # this engine has no sketch registry, and exact ⊇ EXACT) —
        # same convention as SHOW SERIES CARDINALITY above
        return result_frame(spark, [(len(tables),)], "count BIGINT")
    if kind in ("TAG KEY CARDINALITY", "FIELD KEY CARDINALITY"):
        names = _show_from_names(m.group("frm"), tables)
        seen: set[str] = set()
        for n in names:
            for c, t in tables[n].dtypes:
                if kind.startswith("TAG"):
                    if t == "string" and c.lower() != "time":
                        seen.add(c)
                elif t.split("(")[0] in _FIELD_TYPES:
                    seen.add(c)
        return result_frame(spark, [(len(seen),)], "count BIGINT")
    if kind == "TAG VALUES CARDINALITY":
        # the one CARDINALITY that scans: distinct non-null values of
        # one tag column — a partial-agg'd count-distinct on the
        # pruned single-column projection
        if not m.group("key"):
            raise InfluxQLError(
                'SHOW TAG VALUES CARDINALITY requires WITH KEY = "k"'
            )
        key = _unquote(m.group("key"))
        names = _show_from_names(m.group("frm"), tables)
        frames = []
        for n in names:
            tag_cols = {
                c
                for c, t in tables[n].dtypes
                if t == "string" and c.lower() != "time"
            }
            if key in tag_cols:
                frames.append(
                    _narrow(tables[n])
                    .select(F.col(key).alias("value"))
                    .where(F.col("value").isNotNull())
                )
        if not frames:
            # unknown key — FROM-qualified or not — is a 0-count
            # result, not an error: InfluxDB 1.x returns an empty
            # cardinality for a key the measurement doesn't have
            return result_frame(spark, [(0,)], "count BIGINT")
        from functools import reduce

        allv = reduce(lambda a, b: a.unionByName(b), frames)
        return allv.agg(
            F.count_distinct(F.col("value")).cast("bigint").alias("count")
        )
    if kind in ("SERIES", "SERIES CARDINALITY"):
        # SHOW SERIES [FROM m] [LIMIT n]: one row per series key —
        # "measurement,tag1=v1,tag2=v2" over the DISTINCT tag-sets
        # present in the data (InfluxDB 1.x output shape). One
        # partial-agg'd distinct per measurement on the pruned tag
        # projection; the cross-measurement union is over the (small)
        # registry, not data. Null tags drop their pair, matching a
        # point written without that tag.
        from functools import reduce

        names = _show_from_names(m.group("frm"), tables)
        frames = []
        for n in names:
            t = _narrow(tables[n])
            tags = sorted(
                c
                for c, ty in t.dtypes
                if ty == "string" and c.lower() != "time"
            )
            if not tags:
                frames.append(
                    result_frame(spark, [(n,)], "key STRING")
                )
                continue
            pairs = [
                F.when(
                    F.col(c).isNotNull(),
                    F.concat(F.lit(c + "="), F.col(c)),
                )
                for c in tags
            ]
            frames.append(
                t.select(
                    F.concat_ws(",", F.lit(n), *pairs).alias("key")
                ).distinct()
            )
        if not frames:
            # a no-match regex FROM names zero measurements (the
            # empty-reduce TypeError here was fuzz-found, r11)
            if kind == "SERIES CARDINALITY":
                return result_frame(spark, [(0,)], "count BIGINT")
            return result_frame(spark, [], "key STRING")
        out = reduce(lambda a, b: a.unionByName(b), frames)
        if kind == "SERIES CARDINALITY":
            # exact count here — the store has no sketch registry to
            # estimate from, and the distinct is already computed
            return out.agg(
                F.count(F.lit(1)).cast("bigint").alias("count")
            )
        out = out.orderBy("key")
        if m.group("off"):
            out = out.offset(int(m.group("off")))
        if m.group("lim"):
            out = out.limit(int(m.group("lim")))
        return out
    if kind in ("TAG KEYS", "FIELD KEYS"):
        # one group PER MEASUREMENT (upstream's shape — the wire
        # serializer turns the measurement column into per-series
        # names), with LIMIT/OFFSET paging keys WITHIN each
        # measurement, as InfluxDB 1.x documents. r12: replaced the
        # earlier flattened-distinct convention — drop-in clients
        # (influxdb-python schema browsing) expect the grouped form.
        rows: list = []
        for n in _show_from_names(m.group("frm"), tables):
            if kind == "TAG KEYS":
                per = [
                    (n, c)
                    for c, t in sorted(tables[n].dtypes)
                    if t == "string" and c.lower() != "time"
                ]
            else:
                per = [
                    (n, c, _FIELD_TYPES[t.split("(")[0]])
                    for c, t in sorted(tables[n].dtypes)
                    if t.split("(")[0] in _FIELD_TYPES
                ]
            rows.extend(_page(per))
        schema = (
            "measurement STRING, tagKey STRING"
            if kind == "TAG KEYS"
            else "measurement STRING, fieldKey STRING, fieldType STRING"
        )
        return result_frame(spark, rows, schema)
    if kind == "TAG VALUES":
        # SHOW TAG VALUES [FROM m] WITH KEY ... — the one metadata
        # statement that scans: distinct values per named tag column
        # (a partial-agg'd shuffle of each pruned single-column
        # projection; the per-(measurement, key) union is small).
        # All four upstream key forms: = k | IN (k1, k2) | =~ / !~ /re/;
        # no FROM spans every measurement, one group per measurement
        # (upstream's shape; r12 replaced the flattened convention).
        names = _show_from_names(m.group("frm"), tables)
        rx = neg = None
        if m.group("kre") or m.group("knre"):
            pat = (m.group("kre") or m.group("knre"))[1:-1]
            if not pat:
                raise InfluxQLError("empty regex pattern //")
            try:
                rx = re.compile(pat)
            except re.error as exc:
                raise InfluxQLError(
                    f"invalid regex /{pat}/: {exc}"
                ) from None
            neg = m.group("knre") is not None
        elif m.group("key"):
            named = [_unquote(m.group("key"))]
        elif m.group("kin") is not None:
            named = [
                _unquote(k.strip())
                for k in m.group("kin").split(",")
                if k.strip()
            ]
            if not named:
                raise InfluxQLError("WITH KEY IN () names no keys")
        else:
            raise InfluxQLError("SHOW TAG VALUES requires WITH KEY")
        from functools import reduce

        frames = []
        for n in names:
            tag_cols = {
                c
                for c, t in tables[n].dtypes
                if t == "string" and c.lower() != "time"
            }
            if rx is not None:
                keys = [
                    c for c in sorted(tag_cols) if bool(rx.search(c)) != neg
                ]
            else:
                # unknown / field-typed keys contribute an empty
                # series rather than erroring — InfluxDB 1.x parity
                keys = [k for k in named if k in tag_cols]
            frames.extend(
                _narrow(tables[n])
                .select(
                    F.lit(n).alias("measurement"),
                    F.lit(k).alias("key"),
                    F.col(k).alias("value"),
                )
                .where(F.col("value").isNotNull())
                .distinct()
                for k in sorted(set(keys))
            )
        if not frames:
            return result_frame(
                spark, [], "measurement STRING, key STRING, value STRING"
            )
        out = (
            reduce(lambda a, b: a.unionByName(b), frames)
            .distinct()
            .orderBy("measurement", "key", "value")
        )
        if m.group("off") or m.group("lim"):
            # upstream pages tag values WITHIN each measurement
            from pyspark.sql import Window as W

            rn = F.row_number().over(
                W.partitionBy("measurement").orderBy("key", "value")
            )
            out = out.withColumn("_rn", rn)
            lo = int(m.group("off") or 0)
            out = out.where(F.col("_rn") > lo)
            if m.group("lim"):
                out = out.where(
                    F.col("_rn") <= lo + int(m.group("lim"))
                )
            out = out.drop("_rn").orderBy("measurement", "key", "value")
        return out
    raise InfluxQLError(f"unsupported SHOW statement: {kind!r}")


def _split_subquery(query: str) -> tuple[str, str] | None:
    """If the statement's FROM clause is a parenthesized subquery,
    return (inner_statement, outer_with_placeholder)."""
    m = _SUBQUERY_RE.search(query)
    if not m:
        return None
    start = m.end() - 1  # the '('
    depth = 0
    for i in range(start, len(query)):
        if query[i] == "(":
            depth += 1
        elif query[i] == ")":
            depth -= 1
            if depth == 0:
                inner = query[start + 1 : i]
                outer = query[: m.start()] + "FROM __sub__" + query[i + 1 :]
                return inner, outer
    raise InfluxQLError("unbalanced parentheses in FROM subquery")


def _resolve_into_target(tok: str, table_dir: str) -> str:
    """INTO targets may be fully qualified the way InfluxDB clients
    write them — ``"db"."rp"."measurement"`` or ``"rp"."measurement"``
    — with each qualifier validated against this store's registries
    (unknown database / retention policy is an error, not a silently
    created namespace). Returns the bare measurement name; the store
    keeps one physical layout per measurement, with the policy layer
    applied by the retention tick rather than by storage routing."""
    parts = [_unquote(p) for p in _from_parts(tok)]
    if not 1 <= len(parts) <= 3:
        raise InfluxQLError(f"bad INTO target: {tok!r}")
    if len(parts) == 3:
        if parts[0] != registered_database(table_dir):
            raise InfluxQLError(f"unknown database: {parts[0]!r}")
    if len(parts) >= 2:
        from . import retention

        if parts[-2] not in retention._load(table_dir):
            raise InfluxQLError(
                f"unknown retention policy: {parts[-2]!r}"
            )
    return _safe_table(parts[-1])


def _execute_into_backref(
    spark, tables, stmt: Statement, quals, table_dir: str, time_col: str
):
    """``SELECT ... INTO [db.rp.]:MEASUREMENT FROM /re/`` (InfluxDB
    backreference): run the statement once per matched source
    measurement, writing each result into the SAME-NAMED target.
    Returns a (measurement, written) summary frame — upstream's
    per-measurement written counts. ``stmt`` is the statement without
    its INTO.

    This store keeps one physical layout per measurement (db/rp
    qualifiers are validated against the registries, not used as
    namespaces), so a transform-free ``SELECT * INTO :MEASUREMENT``
    APPENDS a second copy of each point rather than upserting as
    InfluxDB's point-identity write path would — run
    ``sinks.dedupe_points`` after a raw self-copy, or use the normal
    aggregated INTO shapes where the bucketed output doesn't collide
    with raw rows. Documented divergence, same as the engine-wide
    append-plus-explicit-dedupe write contract."""
    from ..sources import sinks
    from .admin import _session

    frm = stmt.match.group("from").strip()
    if not (
        (frm.startswith("/") and frm.endswith("/"))
        or re.fullmatch(r'"[^"]+"|\w+', frm)
    ):
        raise InfluxQLError(
            "INTO :MEASUREMENT requires a single or /regex/ FROM"
        )
    written = []
    for name in _show_from_names(frm, tables):
        if quals:
            # validates db / retention policy; target name is fixed
            # by the backreference
            _resolve_into_target(f'{quals}."{name}"', table_dir)
        result = translate(
            tables[name], stmt._replace(series_name=name), time_col
        )
        if "time_bucket" in result.columns:
            result = result.withColumnRenamed("time_bucket", "time")
        n = result.count()
        sinks.append_points(result, table_dir, name)
        written.append((name, n))
    return result_frame(
        _session(spark, tables), written, "measurement STRING, written BIGINT"
    )


def execute_into(
    spark,
    tables: dict[str, DataFrame],
    query: str | Statement,
    table_dir: str,
    time_col: str = "time",
    now=None,
) -> DataFrame:
    """Run an InfluxQL ``SELECT ... INTO <target> FROM ...`` statement:
    evaluate the query and append the result to the ``<target>`` table
    under ``table_dir`` (the continuous-query / downsampling write-back
    shape). The bucket column is written as ``time``; targets listed in
    ``sinks.PARTITIONING`` get their tag+date layout. Returns the
    target table's frame after the write.
    """
    from ..sources import sinks

    stmt = parse(query, now) if isinstance(query, str) else query
    if stmt.error:
        raise stmt.error
    if stmt.kind != "into":
        raise InfluxQLError(f"not an INTO statement: {stmt.text!r}")
    select = stmt._replace(kind="select", privilege="READ", into=None)
    bm = re.fullmatch(
        r"(?:(?P<quals>\S+)\.)?:MEASUREMENT", stmt.into.strip(), re.IGNORECASE
    )
    if bm:
        return _execute_into_backref(
            spark, tables, select, bm.group("quals"), table_dir, time_col
        )
    target = _resolve_into_target(stmt.into, table_dir)
    result = query_measurement(spark, tables, select, time_col)
    if "time_bucket" in result.columns:
        result = result.withColumnRenamed("time_bucket", "time")
    sinks.append_points(result, table_dir, target)
    # read back under the registered (sidecar) schema: a bare
    # spark.read.parquet cannot infer a schema when the INTO window
    # held no source points and the target is new/empty — a CQ tick
    # over a quiet window must not throw (r11 mutation-fuzz find #1)
    return sinks.read_table(spark, table_dir, target)


_DELETE_RE = re.compile(
    r"^\s*DELETE"
    r"(?:\s+FROM\s+(\"[^\"]+\"|/(?:[^/\\]|\\.)*/|\w+))?"
    r"(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _safe_table(name: str) -> str:
    """Storage-boundary name check as a NAMED error: a measurement
    maps to one path component, so a quoted hostile name
    (``"../x"``, ``"tar/get"``) must never reach path construction —
    DROP/DELETE would otherwise operate OUTSIDE the store root
    (wire-fuzz-found, r12)."""
    from ..sources import sinks

    try:
        return sinks.validate_table(name)
    except ValueError as exc:
        raise InfluxQLError(str(exc)) from None


def _mutation_targets(spark, tok: str | None, table_dir: str) -> list[str]:
    """Measurements a DELETE / DROP SERIES applies to: an exact name,
    a ``/regex/`` over the store's tables, or — FROM absent — every
    table (upstream: ``DELETE WHERE time < ...`` sweeps the whole
    database)."""
    from ..sources import sinks

    if tok is not None and not tok.startswith("/"):
        return [_safe_table(_unquote(tok))]
    names = sorted(sinks.load_tables(spark, table_dir))
    if tok is None:
        return names
    pat = tok[1:-1].replace("\\/", "/")
    if not pat:
        raise InfluxQLError("empty measurement regex //")
    try:
        rx = re.compile(pat)
    except re.error as exc:
        raise InfluxQLError(
            f"invalid measurement regex {tok!r}: {exc}"
        ) from None
    return [n for n in names if rx.search(n)]


def execute_delete(
    spark,
    query: str | Statement,
    table_dir: str,
    time_col: str = "time",
    now=None,
) -> int:
    """Run an InfluxQL ``DELETE [FROM <m>|/re/] [WHERE ...]`` statement
    against the on-disk partitioned tables under ``table_dir`` (regex
    or absent FROM sweeps every matching measurement, as upstream).

    The WHERE grammar is the query grammar's predicate subset (tag
    equality/regex, time ranges, OR/AND/parens); no WHERE deletes
    every point, as InfluxQL does. Execution is
    ``sinks.delete_points`` — a partition-pruned rewrite of only the
    files containing matching rows, published through the snapshot
    protocol's atomic swap with the compactor's optimistic conflict
    check. Returns the number of points deleted.
    """
    from ..sources import sinks

    stmt = parse(query, now) if isinstance(query, str) else query
    if stmt.error:
        raise stmt.error
    dm = stmt.match if stmt.kind == "delete" else None
    if not dm:
        raise InfluxQLError(f"not a DELETE statement: {stmt.text!r}")
    if dm.group(1) is None and dm.group(2) is None:
        # a bare DELETE is invalid upstream too — refuse to guess
        raise InfluxQLError("DELETE requires FROM and/or WHERE")
    total = 0
    for target in _mutation_targets(spark, dm.group(1), table_dir):
        if dm.group(2):
            pred = _where_expr(
                dm.group(2), time_col, {}, columns=_table_columns(
                    spark, sinks, table_dir, target
                )
            )
        else:
            pred = F.lit(True)
        total += sinks.delete_points(spark, table_dir, target, pred)
    return total


def _table_columns(spark, sinks, table_dir: str, target: str):
    """Column set of an on-disk measurement, or None when it doesn't
    exist (delete_points then no-ops before the predicate matters).
    Feeds the unknown-identifier null-fill: DELETE ... WHERE
    ghost = 'x' deletes nothing, as InfluxDB does, instead of leaking
    an unresolved-column error."""
    try:
        return dict(sinks.read_table(spark, table_dir, target).dtypes)
    except Exception:
        return None


_DROP_RE = re.compile(
    r"^\s*DROP\s+MEASUREMENT\s+(\"[^\"]+\"|\w+)\s*;?\s*$", re.IGNORECASE
)

_DROP_SERIES_RE = re.compile(
    r"^\s*DROP\s+SERIES"
    r"(?:\s+FROM\s+(\"[^\"]+\"|/(?:[^/\\]|\\.)*/|\w+))?"
    r"(?:\s+WHERE\s+(.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def execute_drop_series(
    spark, query: str | Statement, table_dir: str, time_col: str = "time"
) -> int:
    """InfluxQL ``DROP SERIES [FROM <m>|/re/] [WHERE <tag predicates>]``:
    remove every point of the matching series (regex or absent FROM
    spans every matching measurement, as upstream). Per InfluxQL, DROP
    SERIES takes TAG predicates only — a time condition is a named
    error (that's DELETE's job). Execution is the same
    snapshot-protocol partial rewrite as DELETE (only files holding
    matching rows rewrite; the rest hardlink). Returns points removed.
    """
    from ..sources import sinks

    stmt = parse(query) if isinstance(query, str) else query
    dm = stmt.match if stmt.kind == "drop_series" else None
    if not dm:
        raise InfluxQLError(f"not a DROP SERIES statement: {stmt.text!r}")
    if dm.group(1) is None and dm.group(2) is None:
        raise InfluxQLError("DROP SERIES requires FROM and/or WHERE")
    if dm.group(2) and re.search(
        r'(^|[\s(])"?time"?\s*[<>=!]', dm.group(2), re.I
    ):
        raise InfluxQLError(
            "DROP SERIES takes tag predicates only; "
            "use DELETE FROM for time-bounded removal"
        )
    total = 0
    for target in _mutation_targets(spark, dm.group(1), table_dir):
        if dm.group(2):
            pred = _where_expr(
                dm.group(2), time_col, {}, columns=_table_columns(
                    spark, sinks, table_dir, target
                )
            )
        else:
            pred = F.lit(True)
        total += sinks.delete_points(spark, table_dir, target, pred)
    return total


def execute_drop(spark, query: str | Statement, table_dir: str) -> bool:
    """InfluxQL ``DROP MEASUREMENT <m>``: remove the on-disk table.

    Takes the table's compact lock (a drop is the ultimate rewrite —
    it must not race a compactor or another deleter), renames the
    live root out of the way first (readers never see a half-deleted
    directory tree; the rename is the atomic 'gone' point), then
    removes the versions. Returns True if the measurement existed.
    """
    import shutil

    from ..sources import sinks

    stmt = parse(query) if isinstance(query, str) else query
    dm = stmt.match if stmt.kind == "drop_measurement" else None
    if not dm:
        raise InfluxQLError(f"not a DROP MEASUREMENT statement: {stmt.text!r}")
    name = _safe_table(_unquote(dm.group(1)))
    root = os.path.join(table_dir, name)
    if not os.path.lexists(root):
        return False
    with sinks._flock(
        # blocking, like sinks.delete_points (r13): DROP is a
        # user-facing statement — wait behind a running maintenance
        # rewrite instead of failing a retry-polling race; only
        # compactor-vs-compactor stays fail-fast
        sinks._lock_file(root, "compact"), exclusive=True, blocking=True
    ):
        with sinks._flock(sinks._lock_file(root, "write"), exclusive=True):
            doomed = root + ".dropping"
            if os.path.lexists(doomed):
                if os.path.islink(doomed):
                    os.remove(doomed)
                else:
                    shutil.rmtree(doomed)
            os.rename(root, doomed)  # atomic 'gone' point
        if os.path.islink(doomed):
            os.remove(doomed)
        else:
            shutil.rmtree(doomed, ignore_errors=True)
        for v in sinks._version_dirs(root):
            # VERIFIED removal (advisor r13): a version dir that
            # survives a swallowed rmtree failure would be debris a
            # later same-named CREATE could trip over. Retry loudly —
            # a DROP that cannot actually remove the data must fail,
            # not report success.
            shutil.rmtree(v, ignore_errors=True)
            if os.path.isdir(v):
                shutil.rmtree(v)  # second attempt raises on failure
    for leftover in (
        sinks._lock_file(root, "compact"),
        sinks._lock_file(root, "write"),
        sinks._schema_file(root),
    ):
        try:
            os.remove(leftover)
        except OSError:
            pass
    return True


class Statement(NamedTuple):
    """One InfluxQL statement, parsed once by :func:`parse`; every later
    stage (authorization, dispatch, translation, the wire series name)
    reads this record instead of the text."""

    #: the statement after ``now()`` resolved; for a FROM subquery, the
    #: outer statement with the subquery replaced by ``__sub__``
    text: str
    #: one of :func:`_kinds` (the dispatcher's branches), else
    #: ``explain``, ``show``, ``into`` or ``select``
    kind: str
    #: the kind's own regex match; None when no regex of the kind
    #: matched (the statement then fails as unparseable when run)
    match: re.Match | None
    #: ``admin`` | ``WRITE`` | ``READ``
    privilege: str
    series_name: str = "results"
    order_desc: bool = False
    into: str | None = None
    #: the FROM subquery of a SELECT, or the statement EXPLAIN explains
    inner: Statement | None = None
    #: an error found while parsing (``now()`` without ``now``,
    #: unbalanced subquery parentheses), raised when the statement
    #: runs, so it reports in-body like any run-time error
    error: InfluxQLError | None = None


_SHOW_NAME_RE = re.compile(r"\s*SHOW\s+(\w+(?:\s+\w+)?)", re.IGNORECASE)


def _series_name_of(tok: str | None, text: str) -> str:
    """Wire series name: a measurement named in FROM (qualifiers
    stripped, unquoted; a regex or list FROM as written — its rows
    carry their own measurement), else a SHOW statement's first two
    keywords (``measurements``, ``tag_keys``, ``field_key``)."""
    if tok:
        tok = tok.strip().rstrip(";")
        if tok.startswith("/") or "," in tok:
            return tok
        parts = _from_parts(tok)
        return _unquote(parts[-1] if parts else tok)
    m = _SHOW_NAME_RE.match(text)
    return m.group(1).lower().replace(" ", "_") if m else "results"


def _from_parts(tok: str) -> list[str]:
    """The dotted parts of a FROM token (``db.rp.m``, ``db..m``), each
    part still quoted; a quoted name containing dots is one part."""
    return re.findall(r'"[^"]+"|[^".]+', tok.strip())


class _Call(NamedTuple):
    spark: object
    tables: dict
    table_dir: str | None
    time_col: str
    database: str | None
    now: object


@functools.cache
def _kinds() -> dict:
    """The one kind table, in dispatch order: ``kind -> (regex,
    leading keywords, privilege, table_dir label, handler(call,
    statement))``. ``parse`` tries each regex in turn; the leading
    keywords classify a statement no regex matches (``CREATE DATABASE
    a b`` still needs admin); the label names what needs a
    ``table_dir`` to run. ``into`` has no regex of its own: it is a
    SELECT whose match has an INTO clause."""
    from . import admin, continuous, retention, users

    def on_dir(fn):
        return lambda c, s: fn(s.match, c.table_dir)

    def on_db(fn):
        return lambda c, s: fn(s.match, c.table_dir, c.database)

    def on_store(fn):
        return lambda c, s: fn(c.spark, c.tables, c.table_dir)

    def sharded(fn):
        return lambda c, s: fn(
            c.spark, c.tables, c.table_dir, c.database, c.time_col
        )

    return {
        "create_database": (
            _CREATE_DB_RE, r"CREATE\s+DATABASE", "admin", "CREATE DATABASE",
            on_dir(execute_create_database)),
        "drop_database": (
            _DROP_DB_RE, r"DROP\s+DATABASE", "admin", "DROP DATABASE",
            lambda c, s: execute_drop_database(c.spark, s.match, c.table_dir)),
        "create_retention_policy": (
            retention._CREATE_RP_RE, r"CREATE\s+RETENTION", "admin",
            "CREATE RETENTION POLICY", on_db(retention.create_retention_policy)),
        "alter_retention_policy": (
            retention._ALTER_RP_RE, r"ALTER\s+RETENTION", "admin",
            "ALTER RETENTION POLICY", on_db(retention.alter_retention_policy)),
        "drop_retention_policy": (
            retention._DROP_RP_RE, r"DROP\s+RETENTION", "admin",
            "DROP RETENTION POLICY", on_db(retention.drop_retention_policy)),
        "show_retention_policies": (
            retention._SHOW_RP_RE, None, "READ", None,
            lambda c, s: retention.show_retention_policies(
                c.spark, c.table_dir, c.database, s.match.group("db"))),
        "create_user": (
            users._CREATE_USER_RE, r"CREATE\s+USER", "admin",
            "user management", on_dir(users.create_user)),
        "set_password": (
            users._SET_PW_RE, r"SET\s+PASSWORD", "admin", "user management",
            on_dir(users.set_password)),
        "drop_user": (
            users._DROP_USER_RE, r"DROP\s+USER", "admin", "user management",
            on_dir(users.drop_user)),
        "grant": (
            users._GRANT_RE, r"GRANT", "admin", "user management",
            on_db(users.grant)),
        "revoke": (
            users._REVOKE_RE, r"REVOKE", "admin", "user management",
            on_db(users.revoke)),
        "show_users": (
            users._SHOW_USERS_RE, r"SHOW\s+USERS", "admin", "SHOW USERS",
            lambda c, s: users.show_users(c.spark, c.table_dir)),
        "show_grants": (
            users._SHOW_GRANTS_RE, r"SHOW\s+GRANTS", "admin", "SHOW GRANTS",
            lambda c, s: users.show_grants(c.spark, c.table_dir, s.match)),
        "create_continuous_query": (
            continuous._CREATE_CQ_RE, r"CREATE\s+CONTINUOUS", "admin",
            "CREATE CONTINUOUS QUERY",
            lambda c, s: continuous.create_continuous_query(
                s.match, c.table_dir, c.now, c.database)),
        "drop_continuous_query": (
            continuous._DROP_CQ_RE, r"DROP\s+CONTINUOUS", "admin",
            "DROP CONTINUOUS QUERY", on_dir(continuous.drop_continuous_query)),
        "show_continuous_queries": (
            continuous._SHOW_CQ_RE, None, "READ", "SHOW CONTINUOUS QUERIES",
            lambda c, s: continuous.show_continuous_queries(
                c.spark, c.table_dir)),
        "show_shards": (
            admin._SHOW_SHARDS_RE, r"SHOW\s+SHARDS", "admin", None,
            sharded(admin.show_shards)),
        "show_shard_groups": (
            admin._SHOW_SHARD_GROUPS_RE, r"SHOW\s+SHARD\s+GROUPS", "admin",
            None, sharded(admin.show_shard_groups)),
        "drop_shard": (
            admin._DROP_SHARD_RE, r"DROP\s+SHARD", "admin", "DROP SHARD",
            lambda c, s: admin.drop_shard(
                c.spark, c.tables, s.match, c.table_dir, c.time_col)),
        "show_queries": (
            admin._SHOW_QUERIES_RE, r"SHOW\s+QUERIES", "admin", None,
            lambda c, s: admin.show_queries(c.spark, c.tables, c.database)),
        "kill_query": (
            admin._KILL_QUERY_RE, r"KILL\s+QUERY", "admin", None,
            lambda c, s: admin.kill_query(c.spark, c.tables, s.match)),
        "show_stats": (
            admin._SHOW_STATS_RE, r"SHOW\s+STATS", "admin", None,
            on_store(admin.show_stats)),
        "show_diagnostics": (
            admin._SHOW_DIAGNOSTICS_RE, r"SHOW\s+DIAGNOSTICS", "admin", None,
            lambda c, s: admin.show_diagnostics(c.spark, c.tables)),
        "create_subscription": (
            admin._CREATE_SUB_RE, r"CREATE\s+SUBSCRIPTION", "admin",
            "CREATE SUBSCRIPTION", on_db(admin.create_subscription)),
        "drop_subscription": (
            admin._DROP_SUB_RE, r"DROP\s+SUBSCRIPTION", "admin",
            "DROP SUBSCRIPTION", on_db(admin.drop_subscription)),
        "show_subscriptions": (
            admin._SHOW_SUBS_RE, r"SHOW\s+SUBSCRIPTIONS", "admin",
            "SHOW SUBSCRIPTIONS", on_store(admin.show_subscriptions)),
        "into": (
            None, None, "WRITE", "INTO",
            lambda c, s: execute_into(
                c.spark, c.tables, s, c.table_dir, c.time_col, now=c.now)),
        "drop_series": (
            _DROP_SERIES_RE, r"DROP\s+SERIES", "WRITE", "DROP SERIES",
            lambda c, s: execute_drop_series(
                c.spark, s, c.table_dir, c.time_col)),
        # DELETE alone of these reads its text after now() resolves
        "delete": (
            _DELETE_RE, r"DELETE", "WRITE", "DELETE",
            lambda c, s: execute_delete(
                c.spark, s, c.table_dir, c.time_col, now=c.now)),
        "drop_measurement": (
            _DROP_RE, r"DROP\s+MEASUREMENT", "WRITE", "DROP MEASUREMENT",
            lambda c, s: execute_drop(c.spark, s, c.table_dir)),
    }


@functools.cache
def _leading_re() -> re.Pattern:
    """A statement's kind from its leading keywords alone."""
    return re.compile(
        r"^\s*(?:"
        + "|".join(
            f"(?P<{k}>{row[1]})" for k, row in _kinds().items() if row[1]
        )
        + r")\b",
        re.IGNORECASE,
    )


def parse(statement: str, now=None) -> Statement:
    """Parse one InfluxQL statement into a :class:`Statement`.

    Each kind's existing regex is tried in the dispatcher's order. A
    statement none matches is classified by its leading keywords, and
    otherwise as a query: EXPLAIN, SHOW, SELECT ... FROM (subquery),
    then SELECT [INTO]. Never raises: an error that running the
    statement reports (``now()`` without ``now``, unbalanced subquery
    parentheses) is kept in ``error`` and raised when it runs."""
    resolved, error = _resolved(statement, now)
    for kind, (rx, _, privilege, _, _) in _kinds().items():
        text = resolved if kind == "delete" else statement
        m = rx.match(text) if rx else None
        if m:
            return Statement(
                text, kind, m, privilege, _series_name_of(None, text),
                error=error if kind == "delete" else None,
            )
    lead = _leading_re().match(resolved)
    return _parse_query(resolved, error, lead and lead.lastgroup)


def _resolved(statement: str, now) -> tuple[str, InfluxQLError | None]:
    """``statement`` with ``now()`` resolved, or unchanged with the
    error resolving it raised."""
    try:
        return _resolve_now(statement, now), None
    except InfluxQLError as exc:
        return statement, exc


def _parse_query(text: str, error=None, lead=None) -> Statement:
    """The query half of :func:`parse`: the statements
    :func:`query_measurement` runs, which parses text with it alone.
    ``lead`` is the kind the leading keywords name, if any."""
    em = _EXPLAIN_RE.match(text)
    if em:
        inner = _parse_query(em.group("stmt"))
        return Statement(
            text, "explain", em, "READ", inner.series_name, inner=inner,
            error=error,
        )
    sm = _SHOW_RE.match(text)
    if sm:
        return Statement(
            text, "show", sm, "READ", _series_name_of(sm.group("frm"), text),
            error=error,
        )
    privilege = _kinds()[lead][2] if lead else "READ"
    try:
        sub = _split_subquery(text)
    except InfluxQLError as exc:
        return Statement(text, lead or "select", None, privilege,
                         error=error or exc)
    inner = None
    if sub is not None:
        inner_q, text = sub
        inner = _parse_query(inner_q)
    m = _QUERY_RE.match(text)
    into = m.group("into") if m else None
    if lead is None and (into or (inner and inner.privilege == "WRITE")):
        privilege = "WRITE"
    if inner is not None:
        name = inner.series_name
    else:
        name = _series_name_of(m.group("from") if m else None, "")
    kind = lead or ("into" if into and inner is None else "select")
    desc = bool(m) and (m.group("order") or "ASC").upper() == "DESC"
    return Statement(text, kind, m, privilege, name, desc, into, inner, error)


def run_influxql(
    spark,
    tables: dict[str, DataFrame],
    statement: str | Statement,
    table_dir: str | None = None,
    time_col: str = "time",
    database: str = None,
    now=None,
    credentials: tuple[str, str] | None = None,
):
    """The server front door: run ONE InfluxQL statement of any
    supported kind — text, or a :class:`Statement` from :func:`parse`
    (the HTTP API parses each statement once, before authorizing it).

    * ``SELECT ... INTO`` → :func:`execute_into` (needs ``table_dir``)
    * ``DELETE FROM ...`` → :func:`execute_delete` → rows deleted (int)
    * ``DROP MEASUREMENT`` → :func:`execute_drop` → existed (bool)
    * ``CREATE/DROP CONTINUOUS QUERY`` / ``SHOW CONTINUOUS QUERIES`` →
      :mod:`.continuous` (CREATE needs ``now`` for its first boundary;
      pass a datetime — the library never reads the wall clock)
    * ``SHOW ...`` / ``SELECT ...`` → :func:`query_measurement` →
      DataFrame

    Dispatch is one lookup of the statement's kind in :func:`_kinds`.
    Write statements without a ``table_dir`` raise — a query-only
    registry has nowhere durable to write, and silently evaluating
    the SELECT half of an INTO would mis-report success.
    """
    stmt = parse(statement, now) if isinstance(statement, str) else statement
    if database is None and table_dir is not None:
        database = registered_database(table_dir)
    if credentials is not None:
        # the reference's clients always pass db user/password
        # (SURVEY §2.11); enforcement is upstream's: authenticate,
        # then READ/WRITE/admin by statement class. A store with no
        # users registered runs auth-disabled, as InfluxDB does.
        if table_dir is None:
            raise InfluxQLError(
                "credentials require a table_dir (the user registry)"
            )
        from . import users

        users.authorize(
            table_dir, credentials[0], credentials[1], stmt.privilege,
            database,
        )
    row = _kinds().get(stmt.kind)
    if row is None or stmt.match is None:
        # EXPLAIN, SHOW, SELECT, and any statement no regex matched
        return query_measurement(
            spark, tables, stmt, time_col, database=database, now=now
        )
    _, _, _, label, handler = row
    if label and table_dir is None:
        raise InfluxQLError(f"{label} requires a table_dir")
    return handler(
        _Call(spark, tables, table_dir, time_col, database, now), stmt
    )


_EXPLAIN_RE = re.compile(
    r"^\s*EXPLAIN(?P<analyze>\s+ANALYZE)?\s+(?P<stmt>.+?)\s*;?\s*$",
    re.I | re.DOTALL,
)


def execute_explain(
    spark,
    tables: dict[str, DataFrame],
    stmt: Statement,
    *,
    time_col: str = "time",
    database: str = None,
    now=None,
) -> DataFrame:
    """InfluxQL ``EXPLAIN [ANALYZE] SELECT ...`` (InfluxDB 1.7+
    surface): returns one text column named ``QUERY PLAN``, one row
    per plan line — upstream's result shape. The body is Spark-first:
    Catalyst's FORMATTED physical plan (scan pushdowns, codegen
    spans, exchange placement — strictly more informative than
    upstream's shard/series counts for this engine's execution
    model). ``ANALYZE`` additionally executes the statement and
    prepends row-count and wall-time lines, mirroring upstream's
    execute-and-profile semantics without a listener harness.

    Like upstream, only SELECT can be explained — EXPLAIN of SHOW /
    DELETE / INTO raises the named error."""
    inner = stmt.inner
    if not re.match(r"^\s*SELECT\b", inner.text, re.I):
        raise InfluxQLError("EXPLAIN only supports SELECT statements")
    if inner.privilege == "WRITE":
        raise InfluxQLError(
            "EXPLAIN of SELECT ... INTO is not supported"
        )
    df = query_measurement(
        spark, tables, inner, time_col, database=database, now=now
    )
    sess = df.sparkSession
    jqe = df._jdf.queryExecution()
    mode = sess._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    header = []
    if stmt.match.group("analyze"):
        import time as _time

        t0 = _time.perf_counter()
        n = df.count()
        header = [
            f"EXECUTION: rows={n}",
            f"EXECUTION: wall={_time.perf_counter() - t0:.3f}s",
        ]
    lines = [s for s in jqe.explainString(mode).splitlines() if s.strip()]
    return result_frame(
        sess, [(s,) for s in header + lines], "`QUERY PLAN` STRING"
    )


def query_measurement(
    spark,
    tables: dict[str, DataFrame],
    query: str | Statement,
    time_col: str = "time",
    database: str = None,
    now=None,
) -> DataFrame:
    """Resolve FROM against a measurement registry and translate.

    Also accepts InfluxQL subqueries (``SELECT ... FROM (SELECT ...)``,
    translated inside-out — the inner statement's result frame becomes
    the outer statement's measurement, with the inner bucket column as
    the outer time column) and the SHOW metadata statements. ``query``
    is text, or a :class:`Statement` from :func:`parse`.
    """
    stmt = query
    if isinstance(query, str):
        stmt = _parse_query(*_resolved(query, now))
    if stmt.error:
        raise stmt.error
    if stmt.kind == "explain":
        return execute_explain(
            spark, tables, stmt, time_col=time_col, database=database,
            now=now,
        )
    if stmt.kind == "show":
        return _show(
            spark, tables, stmt.match, database=database, time_col=time_col
        )
    if stmt.inner is not None:
        inner_df = query_measurement(spark, tables, stmt.inner, time_col)
        inner_time = (
            "time_bucket" if "time_bucket" in inner_df.columns else time_col
        )
        if inner_time not in inner_df.columns:
            # e.g. inner is a bare aggregate without GROUP BY time —
            # its single row carries no time axis for the outer
            # statement to bucket or sort on
            raise InfluxQLError(
                "subquery result has no time column; the inner "
                "statement must keep raw points or GROUP BY time(...)"
            )
        return _translate(inner_df, stmt, inner_time, fan_out=False)
    m = stmt.match if stmt.kind in ("select", "into") else None
    if not m:
        raise InfluxQLError(f"unparseable InfluxQL: {stmt.text!r}")
    tok = m.group("from")
    if tok.startswith("/") and tok.endswith("/") and len(tok) >= 2:
        # regex measurement: FROM /pattern/ evaluates the statement
        # against EVERY matching measurement (InfluxQL returns one
        # series set per measurement; here each result carries a
        # leading `measurement` column — the JSON "name" field's
        # columnar equivalent) and unions by column name, null-filling
        # fields a measurement lacks.
        pattern = tok[1:-1].replace("\\/", "/")
        if not pattern:
            raise InfluxQLError("empty measurement regex //")
        try:
            compiled = re.compile(pattern)
        except re.error as exc:
            # e.g. a trailing backslash or unbalanced group — a named
            # error, not a re.error traceback out of the dispatcher
            raise InfluxQLError(
                f"invalid measurement regex {tok!r}: {exc}"
            ) from None
        matches = sorted(n for n in tables if compiled.search(n))
        if not matches:
            raise InfluxQLError(
                f"no measurement matches {tok!r}"
            )
        return _multi_measurement(tables, matches, stmt, time_col)
    if "," in tok:
        # FROM m1, m2 — the explicit multi-measurement list, same
        # union semantics as the regex form
        names = [
            _unquote(_strip_from_qualifiers(t.strip(), database))
            for t in tok.split(",")
        ]
        for n in names:
            if n not in tables:
                raise InfluxQLError(f"unknown measurement: {n!r}")
        return _multi_measurement(tables, names, stmt, time_col)
    name = _unquote(_strip_from_qualifiers(tok, database))
    if name not in tables:
        raise InfluxQLError(f"unknown measurement: {name!r}")
    return _translate(tables[name], stmt, time_col, fan_out=False)


def _strip_from_qualifiers(tok: str, database: str | None) -> str:
    """FROM may be qualified the way InfluxDB clients write it —
    ``db.rp.m``, ``rp.m`` or ``db..m`` (each part quotable). The db
    qualifier validates against the registered database name; the rp
    qualifier is accepted unvalidated (query paths carry no registry,
    and this store keeps one physical layout per measurement — the
    policy layer is the retention tick, not storage routing). Returns
    the measurement token; a quoted name containing dots stays one
    token."""
    parts = _from_parts(tok)
    if len(parts) <= 1:
        return tok
    if len(parts) > 3:
        raise InfluxQLError(f"bad FROM measurement: {tok!r}")
    if len(parts) == 3 or ".." in tok:
        db = _unquote(parts[0])
        if db != (database or DEFAULT_DATABASE):
            raise InfluxQLError(f"unknown database: {db!r}")
    return parts[-1]


def _multi_measurement(
    tables: dict, names: list, stmt: Statement, time_col: str
) -> DataFrame:
    """Evaluate one statement against several measurements and union
    the per-measurement results by column name. Frames align to the
    union of their fields first (missing ones as typed nulls) so a
    projection of a field only SOME measurements carry resolves
    everywhere — the null-filled view InfluxDB presents (a
    fully-missing field aggregates over nulls: count 0, mean null).
    Each measurement translates the same parsed statement, bound to
    its own frame."""
    from functools import reduce

    union_fields: dict = {}
    for n in names:
        for f in tables[n].schema.fields:
            union_fields.setdefault(f.name, f.dataType)
    frames = []
    for n in names:
        frame = tables[n]
        have = set(frame.columns)
        for fname, ftype in union_fields.items():
            if fname not in have:
                frame = frame.withColumn(fname, F.lit(None).cast(ftype))
        frames.append(
            _translate(
                frame, stmt._replace(series_name=n), time_col, fan_out=True
            ).select(F.lit(n).alias("measurement"), "*")
        )
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )
