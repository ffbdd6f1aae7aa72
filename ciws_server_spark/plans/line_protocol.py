"""InfluxDB line-protocol parser — the write-path text format the
reference's tsdb dependency speaks (SURVEY.md §2 S8: the reference
writes batched line protocol via the client library,
``transfer_manager.py:123-164``; this module accepts the same format
as TEXT, so a line-protocol feed can land directly in the engine's
partitioned tables).

Format (one point per line)::

    measurement[,tag=v[,tag=v...]] field=v[,field=v...] [unix_ns]

Everything is parsed with native column functions — no Python UDF in
the path, so a 100 TB backfill of .lp files stays whole-stage
codegen'd end-to-end:

1. escape handling: the three escapable characters in identifiers
   (``\\,`` ``\\ `` ``\\=``) are swapped to private-use sentinels
   first, so the structural splits below are plain ``split()`` calls;
   sentinels are swapped back after splitting
   (``translate``/``replace`` chains, all codegen'd);
2. the line splits into measurement+tags / fields / optional
   timestamp on unescaped spaces;
3. tags and fields become ``MAP<STRING,STRING>`` via ``str_to_map``;
4. field VALUES keep line-protocol typing in the raw map;
   ``typed_fields`` projects one measurement's fields to typed
   columns: ``123i`` → bigint, ``"quoted"`` → string,
   ``true/false`` → boolean, bare numbers → double.

Timestamps are nanoseconds since epoch (InfluxDB default); absent
timestamps stay null (the caller stamps arrival time, as the server
would). Malformed lines (no field set) yield null maps rather than
poisoning the batch — route them to quarantine with
``where(fields IS NULL)``, mirroring the CSV quarantine path. A
duplicated tag/field key within one line keeps the LAST value
(InfluxDB server behavior) instead of tripping Spark's default
``mapKeyDedupPolicy=EXCEPTION``.

String field values may contain spaces, commas, equals signs, and
escaped quotes (``\\"``): a quote-aware masking pass (split on the
quote character; odd slots are in-string) neutralizes structural
characters inside quoted values before the structural splits — still
native column functions end-to-end.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Private-use sentinels (U+E000-F8FF, never real line content): the
#: three identifier escapes, the escaped double quote, and the
#: structural characters when they appear INSIDE quoted string values.
_ESC = [("\\,", ""), ("\\ ", ""), ("\\=", "")]
_Q_ESC = ""  # \" inside a quoted string value
_IN = [(" ", ""), (",", ""), ("=", "")]  # inside quotes


def _mask(col: Column) -> Column:
    for src, dst in _ESC:
        col = F.replace(col, F.lit(src), F.lit(dst))
    return col


def _mask_quoted(col: Column) -> Column:
    """Neutralize structural characters inside double-quoted string
    field values: swap ``\\"`` to a sentinel, split on ``"`` (odd
    array slots are inside quotes), mask space/comma/equals there, and
    rejoin with ``"`` (element count preserves the quote count). All
    native functions — split + transform + concat_ws."""
    col = F.replace(col, F.lit('\\"'), F.lit(_Q_ESC))
    arr = F.split(col, '"', -1)

    def fix(x, i):
        masked = x
        for src, dst in _IN:
            masked = F.replace(masked, F.lit(src), F.lit(dst))
        return F.when(i % 2 == 1, masked).otherwise(x)

    return F.concat_ws('"', F.transform(arr, fix))


def _unmask(col: Column) -> Column:
    for src, dst in _ESC:
        col = F.replace(col, F.lit(dst), F.lit(src[1]))
    for src, dst in _IN:
        col = F.replace(col, F.lit(dst), F.lit(src))
    return F.replace(col, F.lit(_Q_ESC), F.lit('"'))


def parse_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """Parse a frame of raw line-protocol strings.

    Returns (measurement STRING, tags MAP, fields MAP (raw string
    values), ts TIMESTAMP) — one row per input line. Comment lines
    (``#``) and blank lines are dropped. Any other columns of
    ``lines`` (e.g. a ``src_file`` from ``_metadata``) pass through
    unchanged.
    """
    masked = _mask(_mask_quoted(F.col("_raw")))
    parts = F.split(masked, " ")
    n = F.size(parts)
    head = F.element_at(parts, 1)  # measurement[,tags]
    field_str = F.when(n >= 2, F.element_at(parts, 2))
    # timestamp element is optional; it is digits (possibly negative)
    ts_str = F.when(
        (n >= 3) & F.element_at(parts, 3).rlike("^-?\\d+$"),
        F.element_at(parts, 3),
    )
    measurement = _unmask(F.element_at(F.split(head, ","), 1))
    tag_str = F.when(
        F.size(F.split(head, ",")) > 1,
        F.regexp_replace(head, "^[^,]*,", ""),
    )
    # Pair split on ',' then key/value on the FIRST '=' (str_to_map
    # semantics), with explicit LAST-WINS dedup of repeated keys: the
    # InfluxDB server keeps the last field value for a duplicated key,
    # while Spark's default mapKeyDedupPolicy=EXCEPTION would throw at
    # runtime on one bad line ('m f=1,f=2') and poison the whole
    # batch. The per-line exists() scan is O(pairs²) on arrays of a
    # handful of elements — still native, still codegen'd.
    def to_map(s: Column) -> Column:
        pairs = F.split(s, ",")
        entries = F.transform(
            pairs,
            lambda kv: F.struct(
                _unmask(F.substring_index(kv, "=", 1)).alias("key"),
                _unmask(
                    F.when(
                        kv.contains("="),
                        F.regexp_replace(kv, "^[^=]*=", ""),
                    )
                ).alias("value"),
            ),
        )
        deduped = F.filter(
            entries,
            lambda e, i: ~F.exists(
                F.slice(entries, i + F.lit(2), F.size(entries)),
                lambda later: later["key"] == e["key"],
            ),
        )
        return F.map_from_entries(deduped)

    # a valid line: EVERY field pair (and every tag pair, when tags
    # are present) is key=value with a non-empty key and value — a
    # half-malformed set ('w=1,,x' or ',host=h1') is the whole line
    # rejected, as upstream's parser does. (Wire-fuzz-found, r12: a
    # keyless fragment minted a field named '9.568' whose column
    # reference later crashed the write path.)
    _pair_ok = lambda kv: kv.rlike("^[^=]+=.+$")  # noqa: E731
    pairs_ok = F.forall(F.split(field_str, ","), _pair_ok)
    tags_ok = tag_str.isNull() | F.forall(F.split(tag_str, ","), _pair_ok)
    fields = F.when(
        field_str.isNotNull() & pairs_ok & tags_ok, to_map(field_str)
    )
    passthrough = [c for c in lines.columns if c != col]
    out = (
        lines.select(F.col(col).alias("_raw"), *passthrough)
        .where(
            F.col("_raw").isNotNull()
            & (F.trim("_raw") != "")
            & ~F.col("_raw").startswith("#")
        )
        .select(
            measurement.alias("measurement"),
            F.when(tag_str.isNotNull(), to_map(tag_str)).alias("tags"),
            fields.alias("fields"),
            F.timestamp_micros(
                (ts_str.cast("decimal(38,0)") / 1000).cast("long")
            ).alias("ts"),
            F.col("_raw").alias("raw_line"),
            *passthrough,
        )
    )
    return out


def render_lines(
    df: DataFrame,
    measurement: str,
    tag_cols: list[str],
    field_cols: list[str],
    time_col: str = "time",
) -> DataFrame:
    """The REVERSE of ``parse_lines``: render typed rows as
    line-protocol text (one string column ``line``) — the export
    format an InfluxDB consumer can ingest directly. Identifier
    escaping mirrors the parser (``\\,`` ``\\ `` ``\\=``); string
    field values are double-quoted, bigints get the ``i`` suffix,
    timestamps are emitted as integer nanoseconds. All native column
    functions — export is scan-bound.
    """

    def esc(c: Column) -> Column:
        for ch in (",", " ", "="):
            c = F.replace(c, F.lit(ch), F.lit("\\" + ch))
        return c

    def esc_name(name: str) -> str:
        for ch in (",", " ", "="):
            name = name.replace(ch, "\\" + ch)
        return name

    dtypes = dict(df.dtypes)
    head = F.lit(measurement.replace(",", "\\,").replace(" ", "\\ "))
    for t in tag_cols:
        # a null tag value must drop just that tag pair, not null the
        # whole concat'd head (InfluxDB tags are optional per point)
        head = F.concat(
            head,
            F.coalesce(
                F.concat(F.lit("," + esc_name(t) + "="), esc(F.col(t))),
                F.lit(""),
            ),
        )
    parts = []
    for fc in field_cols:
        ftype = dtypes[fc].split("(")[0]
        if ftype == "string":
            v = F.concat(
                F.lit('"'),
                F.replace(F.col(fc), F.lit('"'), F.lit('\\"')),
                F.lit('"'),
            )
        elif ftype in ("bigint", "int", "smallint", "tinyint"):
            v = F.concat(F.col(fc).cast("string"), F.lit("i"))
        elif ftype == "boolean":
            v = F.when(F.col(fc), F.lit("true")).otherwise(F.lit("false"))
        else:
            v = F.col(fc).cast("string")
        parts.append(F.concat(F.lit(esc_name(fc) + "="), v))
    body = F.concat_ws(",", *parts)
    ns = (F.unix_micros(F.col(time_col)) * F.lit(1000)).cast("string")
    # a row with every field value null would render an empty body
    # ('head  ns', unparseable); a point with no field set is invalid
    # line protocol, so such rows are dropped from the export
    return df.select(
        F.concat_ws(" ", head, body, ns).alias("line"), body.alias("_body")
    ).where(F.col("_body") != "").select("line")


#: The line-protocol value syntax of each non-float field type — the
#: one type rule: ``field_type`` classifies a raw value by it and
#: ``typed_fields`` converts by it.
_INTEGER = r"^-?\d+i$"
_STRING = r'^".*"$'
_BOOLEAN = ("t", "true", "f", "false")


def field_type(raw: Column) -> Column:
    """The line-protocol type of a raw field value: ``integer`` (``1i``),
    ``string`` (``"quoted"``), ``boolean`` (``t``/``true``/``f``/
    ``false``, any case) or ``float`` (anything else)."""
    return (
        F.when(raw.rlike(_INTEGER), "integer")
        .when(raw.rlike(_STRING), "string")
        .when(F.lower(raw).isin(*_BOOLEAN), "boolean")
        .otherwise("float")
    )


def typed_fields(
    parsed: DataFrame, measurement: str, fields: dict[str, str]
) -> DataFrame:
    """Project one measurement's raw field map to typed columns.

    ``fields`` maps field name → line-protocol type (``float`` |
    ``integer`` | ``string`` | ``boolean``). Uses ``try_``-style
    conversion throughout (ANSI-safe on malformed values → null).
    """
    out = parsed.where(F.col("measurement") == measurement)
    cols = [F.col("measurement"), F.col("tags"), F.col("ts")]
    for name, ftype in fields.items():
        raw = F.col("fields")[name]
        if ftype == "integer":
            c = F.when(
                raw.rlike(_INTEGER),
                F.expr(
                    f"try_cast(rtrim('i', fields['{name}']) AS BIGINT)"
                ),
            )
        elif ftype == "string":
            c = F.when(
                raw.rlike(_STRING),
                F.regexp_replace(
                    F.regexp_extract(raw, '^"(.*)"$', 1), '\\\\"', '"'
                ),
            )
        elif ftype == "boolean":
            c = F.when(
                F.lower(raw).isin(*_BOOLEAN),
                F.lower(raw).isin("t", "true"),
            )
        else:  # float
            c = F.when(
                ~raw.endswith("i"),
                F.expr(f"try_cast(fields['{name}'] AS DOUBLE)"),
            )
        cols.append(c.alias(name))
    return out.select(*cols)


class FieldTypeConflict(ValueError):
    """One field written with two line-protocol types in one body."""


class BodyShape(NamedTuple):
    """What one aggregate over a parsed body reports (:func:`body_shape`).

    ``bad`` counts malformed lines; ``field_types`` maps measurement →
    field → the set of line-protocol types its values were written as;
    ``tag_keys`` maps measurement → every tag key it carries. Both maps
    cover well-formed lines only."""

    bad: int
    field_types: dict[str, dict[str, set[str]]]
    tag_keys: dict[str, set[str]]

    def schemas(self) -> dict[str, dict[str, str]]:
        """measurement → field → type, fields in name order. A field
        written with two types in one body raises
        :class:`FieldTypeConflict`, as upstream rejects cross-type
        writes."""
        out: dict[str, dict[str, str]] = {}
        for m, fields in sorted(self.field_types.items()):
            for k, types in sorted(fields.items()):
                if len(types) > 1:
                    a, b, *_ = sorted(types)
                    raise FieldTypeConflict(
                        f"field type conflict: {m}.{k} written as both"
                        f" {a} and {b}"
                    )
                out.setdefault(m, {})[k] = next(iter(types))
        return out


def body_shape(parsed: DataFrame) -> BodyShape:
    """Bad-line count, field types and tag keys of a ``parse_lines``
    frame, in ONE aggregate. Each well-formed line contributes its
    measurement with its sorted (field, type) pairs and its sorted tag
    keys; ``collect_set`` keeps one copy of each distinct line shape,
    so the result is schema-sized, never point-sized. The aggregate
    needs no shuffle when ``parsed`` is one partition (a ``/write``
    body)."""
    ok = F.col("fields").isNotNull()
    typed = F.array_sort(
        F.transform(
            F.map_entries("fields"),
            lambda e: F.struct(
                e["key"].alias("k"), field_type(e["value"]).alias("t")
            ),
        )
    )
    row = parsed.agg(
        F.count_if(~ok).alias("bad"),
        F.collect_set(F.when(ok, F.struct("measurement", typed))).alias("f"),
        F.collect_set(
            F.when(ok, F.struct("measurement", F.array_sort(F.map_keys("tags"))))
        ).alias("t"),
    ).collect()[0]
    field_types: dict[str, dict[str, set[str]]] = {}
    for m, pairs in row["f"]:
        for k, t in pairs:
            field_types.setdefault(m, {}).setdefault(k, set()).add(t)
    tag_keys: dict[str, set[str]] = {}
    for m, keys in row["t"]:
        tag_keys.setdefault(m, set()).update(keys or ())
    return BodyShape(int(row["bad"]), field_types, tag_keys)


def measurement_points(
    parsed: DataFrame,
    schemas: dict[str, dict[str, str]],
    tag_keys: dict[str, set[str]],
    partition_tags: Callable[[str], list[str]],
    time_col: str = "time",
) -> Iterator[tuple[str, DataFrame, list[str]]]:
    """The points body of every line-protocol arrival (``/write`` and
    the line-protocol stream): yield ``(measurement, points,
    tag_names)`` for each measurement of ``schemas``, in sorted order.

    ``points`` holds the well-formed lines of that measurement as
    ``time_col``, one string column per tag in ``tag_names``, then the
    typed fields. A line with no timestamp is stamped with the arrival
    time (InfluxDB server behavior; ``current_timestamp`` is fixed per
    plan). Tags are the measurement's ``partition_tags`` first
    (present even when no line carries them — partitionBy needs the
    column), then every other key of ``tag_keys`` (the batch's
    :func:`body_shape`) for it, sorted: a tag outside the partition
    layout is still data, never silently dropped. Runs no Spark job.
    """
    parsed = parsed.where(F.col("fields").isNotNull())
    for measurement, fields in sorted(schemas.items()):
        part_tags = partition_tags(measurement)
        tag_names = part_tags + sorted(
            tag_keys.get(measurement, set()) - set(part_tags)
        )
        points = typed_fields(parsed, measurement, fields).select(
            F.coalesce(F.col("ts"), F.current_timestamp()).alias(time_col),
            *[F.col("tags")[t].alias(t) for t in tag_names],
            *[F.col(f) for f in fields],
        )
        yield measurement, points, tag_names
