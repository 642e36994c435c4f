"""Streaming ingestion (SURVEY §7 Phase 5 / ST1-ST6): the same
validate → enrich → upsert → snapshot loop as pipeline/ingest.py, but
driven by Structured Streaming:

- source: a JSON drop-directory of raw launch batches (stand-in for any
  streaming source — Kafka/Kinesis swap in without touching the loop);
- ``Trigger.AvailableNow``: process everything new, then stop — the
  reference's "run the pipeline now" semantics with exactly-once
  bookkeeping from the checkpoint instead of a hand-rolled watermark
  table (ST1/ST2);
- ``foreachBatch``: per micro-batch MERGE-style upsert + snapshot append
  (ST4/ST6) — the classic streaming-upsert pattern.

Idempotent replay: if a batch fails mid-write, the checkpoint replays it
and the PK upsert absorbs the duplicates (same contract as the
reference's ON CONFLICT upsert, README.md:216-219).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from spacex_data_engineering_pipeline_spark.operators.upsert import (
    upsert_parquet,
    upsert_parquet_partitioned,
)
from spacex_data_engineering_pipeline_spark.plans.aggregations import AggregationService
from spacex_data_engineering_pipeline_spark.session import read_parquet
from spacex_data_engineering_pipeline_spark.sources.launches import (
    enrich_with_payload_mass,
    validate_and_conform,
)

# raw JSON shape on the wire (ISO strings; conformance happens per batch)
RAW_JSON_SCHEMA = StructType(
    [
        StructField("launch_id", StringType(), True),
        StructField("mission_name", StringType(), True),
        StructField("date_utc", StringType(), True),
        StructField("success", BooleanType(), True),
        StructField("payload_ids", ArrayType(StringType()), True),
        StructField("launchpad_id", StringType(), True),
        StructField("static_fire_date_utc", StringType(), True),
    ]
)


def run_streaming_ingestion(
    spark: SparkSession,
    input_json_dir: str,
    payloads: DataFrame,
    launches_path: str,
    snapshots_path: str,
    checkpoint_dir: str,
    partition_by_year: bool = True,
) -> None:
    """Drain all available input batches, then stop (AvailableNow).

    ``partition_by_year=True`` (default, matching the batch pipeline):
    each micro-batch merges through ``upsert_parquet_partitioned`` and
    rewrites only the year partitions the batch touches — the flat
    whole-table swap would pay O(table) write amplification PER
    MICRO-BATCH, which is the worst possible consumer of it. Replay
    safety is unchanged: a checkpoint-replayed batch re-merges the same
    keys and the PK dedup absorbs them, partitioned or not.

    A pre-existing table written FLAT (no ``launch_year=`` dirs —
    e.g. a checkpointed stream started before the partitioned default)
    stays on the flat upsert: the partitioned merge reads the existing
    table and filters on the partition column, which a flat table lacks
    (AnalysisException). Resuming such a stream keeps working; migrate
    by compacting/rewriting the table into the partitioned layout first.
    """
    import os

    aggregations = AggregationService(spark, snapshots_path)

    def table_is_flat() -> bool:
        # Heal crash-parked partition asides FIRST: a crash inside the
        # partitioned swap can leave every launch_year= dir parked
        # aside, which would misread as a flat layout here and send a
        # partitioned table down the flat whole-table upsert.
        from spacex_data_engineering_pipeline_spark.storage import heal_swaps

        heal_swaps(launches_path)
        try:
            entries = os.listdir(launches_path)
        except FileNotFoundError:
            return False  # no table yet → partitioned layout from batch 0
        if any(e.startswith("launch_year=") for e in entries):
            return False  # partitioned layout present
        # flat ONLY if top-level parquet data actually exists; an empty
        # or marker-only dir means no table yet → partitioned from
        # batch 0, not a flat whole-table swap forever after
        return any(e.endswith(".parquet") for e in entries)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # stats intentionally unread: the observation costs one
        # accumulator, not a job — no reject-count pass per micro-batch
        valid, _stats = validate_and_conform(batch_df)
        enriched = enrich_with_payload_mass(valid, payloads).localCheckpoint()
        if enriched.count() == 0:
            return
        if partition_by_year and not table_is_flat():
            inserted = upsert_parquet_partitioned(
                spark,
                launches_path,
                enriched.withColumn("launch_year", F.year("date_utc")),
                key="launch_id",
                order_by=[F.col("ingested_at").desc()],
                partition_col="launch_year",
            )
        else:
            inserted = upsert_parquet(
                spark,
                launches_path,
                enriched,
                key="launch_id",
                order_by=[F.col("ingested_at").desc()],
            )
        aggregations.append_snapshot(
            read_parquet(spark, launches_path),
            snapshot_type="incremental",
            launches_added_in_batch=inserted,
            run_id=f"stream_batch_{batch_id}",
        )

    stream = (
        spark.readStream.schema(RAW_JSON_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # one micro-batch per dropped file
        .json(input_json_dir)
    )
    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling aggregation with late-data handling — attach
    to any streaming events source (SURVEY §2.9: watermark + windowed
    agg; the batch catalog query ``events_hourly_tumbling`` is this
    exact plan minus the watermark).

    Watermarks require an instant (TIMESTAMP, not NTZ): a wall-clock
    NTZ event time is cast at the boundary and the window start cast
    back — an identity round-trip under one session timezone (the
    engine session pins UTC).
    """
    from spacex_data_engineering_pipeline_spark.streaming.event_time import (
        restore_ntz,
        to_instant_for_watermark,
    )

    events_stream, was_ntz = to_instant_for_watermark(events_stream, "ts")
    start = restore_ntz(F.col("window.start"), was_ntz)
    return (
        events_stream.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(start.alias("window_start"), "n_events", "total_value")
    )
