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
                raw.rlike("^-?\\d+i$"),
                F.expr(
                    f"try_cast(rtrim('i', fields['{name}']) AS BIGINT)"
                ),
            )
        elif ftype == "string":
            c = F.when(
                raw.rlike('^".*"$'),
                F.regexp_replace(
                    F.regexp_extract(raw, '^"(.*)"$', 1), '\\\\"', '"'
                ),
            )
        elif ftype == "boolean":
            c = F.when(
                F.lower(raw).isin("t", "true", "f", "false"),
                F.lower(raw).isin("t", "true"),
            )
        else:  # float
            c = F.when(
                ~raw.endswith("i"),
                F.expr(f"try_cast(fields['{name}'] AS DOUBLE)"),
            )
        cols.append(c.alias(name))
    return out.select(*cols)


def measurement_points(
    parsed: DataFrame,
    schemas: dict[str, dict[str, str]],
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
    column), then every other tag key the batch carries for it,
    sorted: a tag outside the partition layout is still data, never
    silently dropped. The tag-key collect is (measurement × tag-key)
    rows — schema-sized — and runs when the first measurement is
    drawn, so a caller may validate names before any Spark job.
    """
    parsed = parsed.where(F.col("fields").isNotNull())
    tags_by_m: dict[str, set[str]] = {}
    for r in (
        parsed.select("measurement", F.explode(F.map_keys("tags")).alias("k"))
        .distinct()
        .collect()
    ):
        tags_by_m.setdefault(r["measurement"], set()).add(r["k"])
    for measurement, fields in sorted(schemas.items()):
        part_tags = partition_tags(measurement)
        tag_names = part_tags + sorted(
            tags_by_m.get(measurement, set()) - set(part_tags)
        )
        points = typed_fields(parsed, measurement, fields).select(
            F.coalesce(F.col("ts"), F.current_timestamp()).alias(time_col),
            *[F.col("tags")[t].alias(t) for t in tag_names],
            *[F.col(f) for f in fields],
        )
        yield measurement, points, tag_names
