"""Streaming form of the residential CSV ingest (SURVEY.md §2.9).

The reference emulates a stream with a daily cron re-scanning a
landing directory (``doc/deployment_guide.md:253-262``), an
in-flight-file guard (mtime > job start skipped,
``transfer_manager.py:192-197``) and size-change re-downloads
(``:199-209``). Structured Streaming's file source gives all of that
natively and stronger:

* new-file discovery per trigger with a checkpointed seen-files map
  (replaces glob + size diff) — each file enters exactly one batch;
* ``Trigger.AvailableNow`` = "process everything landed, then stop"
  (the cron contract, restart-safe mid-batch);
* ``maxFilesPerTrigger`` = backpressure (the reference's
  batch_size=2000 analog).

Delivery semantics (stated precisely — foreachBatch itself is
at-least-once):

* TABLE CONTENTS are exactly-once under crash/replay. Every in-batch
  write lands in that batch's own ``batch_id=N`` leaf partitions, and
  publishing it first wipes every existing leaf of the batch
  (sources/sinks.py module docstring), so a batch replayed after a
  crash between the table write and the checkpoint commit replaces
  what its first attempt wrote instead of appending duplicates. The
  reference double-ingests in this exact window (``loader.py:68-84``).
* FILE MOVES (archive/quarantine) are at-least-once and strictly
  post-commit: batches record routing in the ``ingest_manifest``
  table, and ``run_ingest_pass`` replays pending moves only after the
  query terminates. Moving inside the batch would break recovery — a
  replayed batch re-reads its original landing paths, which would
  already be gone.

The per-batch body reuses the exact batch parser
(sources/residential.parse_lines) — one code path for both modes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources import residential, sinks


def stream_residential(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start an availableNow ingest pass over the landing directory.

    Each micro-batch: parse → Raw/QC idempotent overwrite-by-batch +
    quarantine/ingest manifests. Returns the started query; call
    ``awaitTermination()`` to run the pass to completion, then
    ``sinks.apply_pending_moves`` for archive/quarantine routing
    (``run_ingest_pass`` does both).
    """
    reader = (
        spark.readStream.option("pathGlobFilter", "*.[cC][sS][vV]")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    lines = reader.text(landing_dir).select(
        F.col("value").alias("line"),
        F.col("_metadata.file_path").alias("src_file"),
    )

    def process_batch(batch_df, batch_id: int) -> None:
        points, manifest = residential.parse_lines(batch_df)
        # route_residential caches/unpersists the manifest itself
        sinks.route_residential(
            points, manifest, table_dir, batch_id=batch_id
        )

    return (
        lines.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "residential"))
        .trigger(availableNow=True)
        .start()
    )


def run_ingest_pass(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    archive_dir: str | None = None,
    quarantine_dir: str | None = None,
    **kwargs,
) -> None:
    """One cron-equivalent ingest pass: stream to completion, then
    replay pending archive/quarantine moves (post-commit, idempotent —
    also heals moves a previous crashed pass never got to)."""
    q = stream_residential(
        spark, landing_dir, table_dir, checkpoint_dir, **kwargs
    )
    q.awaitTermination()
    if archive_dir and quarantine_dir:
        sinks.apply_pending_moves(spark, table_dir, archive_dir, quarantine_dir)


def stream_campus(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    building: str,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming form of the campus transfer-manager path (S4→S8):
    same checkpointed file source, per-batch superset-schema parse,
    idempotent campus_flow overwrite-by-batch + quarantine manifest.
    The parse is cached so the emptiness probe and the write share one
    evaluation."""
    from ..sources import campus

    reader = spark.readStream.option("pathGlobFilter", "*.[cC][sS][vV]")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    lines = reader.text(landing_dir).select(
        F.col("value").alias("line"),
        F.col("_metadata.file_path").alias("src_file"),
    )

    def process_batch(batch_df, batch_id: int) -> None:
        points, manifest = campus.parse_lines(batch_df, building)
        points = points.cache()
        try:
            if points.count():
                sinks.append_points(
                    points.drop("src_file"),
                    table_dir,
                    "campus_flow",
                    batch_id=batch_id,
                )
            sinks.append_quarantine_manifest(
                manifest, table_dir, batch_id=batch_id
            )
        finally:
            points.unpersist()

    return (
        lines.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "campus"))
        .trigger(availableNow=True)
        .start()
    )


def run_campus_pass(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    building: str,
    **kwargs,
) -> None:
    q = stream_campus(
        spark, landing_dir, table_dir, checkpoint_dir, building, **kwargs
    )
    q.awaitTermination()


#: campus_flow on-disk schema as written by stream_campus (data
#: columns + buildingID/date/batch_id partition levels).
_CAMPUS_FLOW_SCHEMA = (
    "time TIMESTAMP, coldInFlowRate DOUBLE, hotInFlowRate DOUBLE,"
    " hotOutFlowRate DOUBLE, hotInTemp DOUBLE, hotOutTemp DOUBLE,"
    " coldInTemp DOUBLE, buildingID STRING, date DATE, batch_id BIGINT"
)


def stream_derived_rate(
    spark: SparkSession, table_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Continuous §3.3 lifecycle: campus_flow → stateful pulse-pair
    rate → derived_hot_intake, chained through storage.

    The reference recomputes the derived series with a cron job per
    building (``get_hot_intake_interval.py:151-160``); here the
    derived table FOLLOWS the flow table: a second streaming query
    reads campus_flow's parquet files as a file stream (new ingest
    batches = new input), pairs consecutive non-zero pulses per
    building with GroupState carried across micro-batches AND across
    availableNow runs (checkpointed state store), and appends the
    rate series idempotently (overwrite-by-batch). This is the
    standard two-hop table pipeline — each hop checkpoints its own
    progress, so the chain is restart-safe end-to-end.
    """
    flow = (
        spark.readStream.schema(_CAMPUS_FLOW_SCHEMA)
        .parquet(os.path.join(table_dir, "campus_flow"))
    )
    pulses = flow.where(F.col("hotOutFlowRate") != 0).select(
        "buildingID", F.col("time").alias("ts")
    )
    from .stateful import derived_rate_stream

    rates = derived_rate_stream(pulses, key="buildingID")
    out = rates.select(
        F.col("ts").alias("time"),
        "buildingID",
        F.col("rate").alias("hotOutFlowRate"),
    )

    def write_batch(batch_df, batch_id: int) -> None:
        sinks.append_points(
            batch_df, table_dir, "derived_hot_intake", batch_id=batch_id
        )

    return (
        out.writeStream.foreachBatch(write_batch)
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "derived_rate")
        )
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_derived_pass(
    spark: SparkSession, table_dir: str, checkpoint_dir: str
) -> None:
    q = stream_derived_rate(spark, table_dir, checkpoint_dir)
    q.awaitTermination()


def stream_line_protocol(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schemas: dict[str, dict[str, str]],
    max_files_per_trigger: int | None = None,
    forward_subscriptions: bool = False,
) -> StreamingQuery:
    """Streaming ingest of InfluxDB line-protocol files (``*.lp``) —
    the S8 write format as a continuously-watched landing directory,
    with the same guarantees as the CSV paths: checkpointed file
    discovery (each file enters exactly one batch), idempotent
    overwrite-by-batch table writes, and a quarantine manifest row per
    malformed line's source file.

    ``schemas`` maps measurement → {field: line-protocol type}; each
    measurement must appear in sinks.PARTITIONING (or lands
    unpartitioned). The parse is native column functions end-to-end
    (plans/line_protocol.py), so the per-batch plan is codegen'd.
    """
    from ..plans.line_protocol import parse_lines, typed_fields

    reader = spark.readStream.option("pathGlobFilter", "*.lp")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    lines = reader.text(landing_dir).select(
        F.col("value"),
        F.col("_metadata.file_path").alias("src_file"),
    )

    def process_batch(batch_df, batch_id: int) -> None:
        # src_file rides through the parse as a passthrough column
        parsed = parse_lines(batch_df).localCheckpoint(eager=True)
        for measurement, fields in schemas.items():
            typed = typed_fields(parsed, measurement, fields)
            parts = sinks.PARTITIONING.get(measurement, [])
            tag_cols = [
                F.col("tags")[p].alias(p) for p in parts if p != "date"
            ]
            # a well-formed point with no timestamp gets stamped with
            # the batch arrival time — the InfluxDB server's behavior
            # — rather than silently dropped or parked in a null
            # partition (current_timestamp is fixed per batch plan)
            pts = typed.select(
                F.coalesce(F.col("ts"), F.current_timestamp()).alias("time"),
                *tag_cols,
                *[F.col(f) for f in fields],
            )
            sinks.append_points(
                pts, table_dir, measurement, batch_id=batch_id
            )
            if forward_subscriptions:
                # upstream InfluxDB duplicates every accepted write to
                # each subscription endpoint; delivery follows the
                # table append and is at-least-once under batch retry
                # (same contract as upstream's subscription feed)
                from .subscriptions import forward_batch

                forward_batch(
                    pts,
                    batch_id,
                    table_dir=table_dir,
                    measurement=measurement,
                    tag_cols=[p for p in parts if p != "date"],
                    field_cols=list(fields),
                    time_col="time",
                )
        manifest = (
            parsed.where(F.col("fields").isNull())
            .select(
                "src_file",
                F.lit("unparseable line-protocol line").alias(
                    "quarantine_reason"
                ),
            )
            .dropDuplicates(["src_file"])
        )
        sinks.append_quarantine_manifest(manifest, table_dir, batch_id=batch_id)

    return (
        lines.writeStream.foreachBatch(process_batch)
        .option(
            "checkpointLocation", os.path.join(checkpoint_dir, "line_protocol")
        )
        .trigger(availableNow=True)
        .start()
    )


def run_line_protocol_pass(
    spark: SparkSession,
    landing_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    schemas: dict[str, dict[str, str]],
    forward_subscriptions: bool = False,
) -> None:
    """One complete line-protocol pass: process everything landed."""
    q = stream_line_protocol(
        spark,
        landing_dir,
        table_dir,
        checkpoint_dir,
        schemas,
        forward_subscriptions=forward_subscriptions,
    )
    q.awaitTermination()
