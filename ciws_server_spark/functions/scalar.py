"""Scalar expression helpers.

Two concerns live here:

1. The scalar function surface the reference applies row-wise
   (SURVEY.md §2.8): regex extraction, case/translate normalization,
   timestamp parsing, epoch arithmetic. All are thin wrappers over
   built-in ``pyspark.sql.functions`` so they stay inside whole-stage
   codegen — no Python UDFs on the hot path.

2. Cross-engine numeric determinism. Aggregating IEEE doubles is
   order-dependent, and Spark's partial aggregation order differs run
   to run, so a "round the double sum" oracle comparison is flaky by
   construction. ``money()`` routes values through exact DECIMAL
   arithmetic: SUM(DECIMAL) is exact integer math, identical in Spark
   and DuckDB regardless of execution order; the final cast back to
   double is then deterministic. Use ``dsum``/``davg`` for any
   aggregate that feeds a hash-compared result.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal shape for exact-value aggregation. 18 integer digits and 6
#: fractional digits comfortably hold the synthetic data's money/values;
#: Spark widens sums to DECIMAL(38, x) internally so 100 TB-scale sums
#: do not overflow.
MONEY = "decimal(30,6)"


def money(col: Column | str) -> Column:
    """Cast a double value column to exact decimal for aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(MONEY)


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent SUM: exact decimal sum, emitted as double."""
    return F.round(F.sum(money(col)).cast("double"), scale)


def dsum_raw(col: Column | str) -> Column:
    """Exact decimal sum kept as decimal (for further arithmetic)."""
    return F.sum(money(col))


def davg(col: Column | str, scale: int = 6) -> Column:
    """Order-independent AVG = exact decimal sum / count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        F.sum(money(c)).cast("double") / F.count(c).cast("double"), scale
    )


def fixed_point(col: Column | str, scale: int) -> Column:
    """double → exact long fixed-point at 10^scale — the fast-agg path.

    ``round(v * 10^scale)`` computed as a truncating cast of
    ``v*10^scale ± 0.5`` so the whole expression stays in primitive FP
    codegen (Spark's ``Round`` on doubles allocates a BigDecimal per
    row; this does not — measured 3.4× on TPC-H Q1 at 60M rows).

    EXACTNESS CONTRACT: identical to ``money(col)``'s DECIMAL
    conversion when the data has ≤``scale`` true decimal digits and
    ``|v*10^scale| < 2^53`` — then ``v*10^scale`` lands within ~1e-3 of
    the true integer (measured ≤8e-6 on the synthetic money columns)
    and both paths produce the same unscaled integer. Data with more
    precision than ``scale`` may round differently at exact .5
    boundaries; route such columns through ``money()`` instead.
    """
    c = F.col(col) if isinstance(col, str) else col
    scaled = c * F.lit(float(10**scale))
    half = F.when(scaled < 0, F.lit(-0.5)).otherwise(F.lit(0.5))
    return (scaled + half).cast("long")


def unscale(sum_col: Column, scale: int) -> Column:
    """Exact decimal downshift of a summed fixed-point column → double.

    ``decimal(38,0) * 10^-scale`` is exact decimal arithmetic, so the
    final cast to double is the nearest double of the true rational —
    bit-identical to summing DECIMALs and casting (a ``sum_long/10^s``
    double division would drift once the sum exceeds 2^53).
    """
    d = sum_col.cast("decimal(38,0)") * F.lit(10**-scale).cast(
        f"decimal({scale + 1},{scale})"
    )
    return d.cast("double")


def lsum(col: Column | str, scale: int = 2, round_to: int = 2) -> Column:
    """``dsum``-identical SUM on the long fixed-point fast path.

    Per-row cost is a primitive long add inside whole-stage codegen
    (``dsum``'s DECIMAL(30,6) sum allocates a BigDecimal per row); the
    emitted double is identical because the summed cents are exact for
    ≤``scale``-dp data and ``unscale`` performs the same exact decimal
    downshift the DECIMAL sum's final cast does.

    Overflow contract: the long sum buffer (partial AND final — Spark's
    two-phase hash aggregate keeps both as long) bounds
    Σ|v|·10^scale < 2^63 per group. For 2-dp money/value columns
    bounded by ~1e6 that is ≥1.5e11 rows per group (≳100 TB in one
    group); columns with larger products belong on the q1-style
    two-stage partials or ``dsum``. ANSI mode (the Spark 4 default)
    makes a violated bound THROW rather than wrap.
    """
    return F.round(unscale(F.sum(fixed_point(col, scale)), scale), round_to)


def lsum53(
    col: Column | str, scale: int = 2, round_to: int = 2
) -> Column:
    """``lsum`` with a double-DIVISION downshift instead of the
    decimal(38,0) chain: bit-identical to ``lsum``/``dsum`` while
    ``|Σ v·10^scale| < 2^53`` — every long in that range converts to
    double exactly, and one IEEE division is correctly rounded to the
    nearest double of the true rational, the same value the decimal
    downshift's final cast produces.

    Why it exists: ``unscale``'s decimal chain allocates BigDecimals
    per GROUP; with ~9M groups (ts_sessionize at sf10) that chain was
    ~21% of the whole query (tmp/ASOF_SESS_AB.json sess_A vs sess_D,
    bit-identical folds). Use this form when group sums are bounded
    by construction (gap-bounded sessions, per-device rollups);
    between 2^53 and the 2^63 ANSI-overflow wall the division may
    round differently — route those through ``lsum``.
    """
    return F.round(
        F.sum(fixed_point(col, scale)) / F.lit(float(10**scale)),
        round_to,
    )


def lavg(col: Column | str, scale: int = 2, round_to: int = 6) -> Column:
    """``davg``-identical AVG on the long fixed-point fast path (same
    exactness and overflow contract as ``lsum``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(
        unscale(F.sum(fixed_point(c, scale)), scale)
        / F.count(c).cast("double"),
        round_to,
    )


def epoch_seconds(col: Column | str) -> Column:
    """Timestamp → epoch seconds as double (microsecond-exact).

    Matches DuckDB ``epoch(ts)`` bit-for-bit: both produce the exact
    IEEE double for seconds+fractional-micros, so downstream identical
    arithmetic stays deterministic across engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("double")


# --- The reference's row-wise scalar surface (SURVEY.md §2.8) --------

def extract_site_metadata(line: Column) -> Column:
    """Regex of loader metadata lines → struct(id, qc).

    Reference: ``^([a-zA-Z:0# ]*)(?P<id>\\d+)(?P<qc>QC)?`` applied to
    each of the 3 header lines of a residential CSV
    (reference loader.py:140-145). Returns struct of the numeric id and
    a boolean QC flag (QC suffix routes to the QC table).
    """
    pat = r"^([a-zA-Z:0# ]*)(\d+)(QC)?"
    return F.struct(
        F.regexp_extract(line, pat, 2).alias("id"),
        (F.regexp_extract(line, pat, 3) == "QC").alias("qc"),
    )


def normalize_site_name(col: Column | str) -> Column:
    """Drop spaces/':'/'0'-prefix noise, '#'→'_', lowercase.

    Reference: parse_site_name (transfer_manager.py:67-70).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.translate(F.regexp_replace(c, r"[ :]", ""), "#", "_"))


def parse_event_time(col: Column | str, fmt: str | None = None) -> Column:
    """Timestamp parse, year-first (reference loader.py:196-200)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_to_timestamp: malformed input → NULL (quarantine route),
    # not an ANSI runtime error.
    return F.try_to_timestamp(c, F.lit(fmt)) if fmt else F.try_to_timestamp(c)
