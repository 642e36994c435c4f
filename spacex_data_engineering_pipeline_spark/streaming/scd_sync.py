"""Streaming SCD Type-2 dimension sync: a CDC update stream folded
into a versioned parquet dimension, one ``scd2_merge`` per micro-batch
(the foreachBatch MERGE pattern of incremental.py, applied to the
dimension-history operator instead of the PK upsert).

Storage layout — history is APPEND-ONLY, current is a small swap:

    <dim_path>/current/           one row per key (the live slice);
                                  rewritten per batch, swapped in by
                                  storage.swap_dir (healed on entry)
    <dim_path>/closed/batch=<id>/ versions closed BY that micro-batch;
                                  written once with overwrite, never
                                  touched again

``scd2_merge`` never rewrites history logically; this layout makes the
physical writes match: per batch the job rewrites |current| + appends
|closed by this batch| — history bytes are never read or rewritten, so
a year of CDC against a 100 TB dimension costs the same per batch as
day one. ``read_dimension`` unions the two (the closed side carries a
``batch`` partition column, pruned on read when filtering recent
history).

Semantics per batch: collapse to latest-per-key (two versions of a key
inside ONE batch are order-undefined otherwise), drop updates not
STRICTLY newer than their key's current version (the late-update
guard), take the surviving updates' max event time as the effective
timestamp, merge, write.

Replay safety rests on two mechanisms, both earned from failing tests:
the late-update guard (without it, replaying historical batches
against an already-advanced dimension re-applies old attribute values
as fresh changes and resurrects old versions), and WRITE-ONCE closed
dirs (a replayed batch recomputes against the post-merge current
slice, where e.g. a strictly-newer no-op still passes the guard, so
its closed set can differ from the original run's — an overwrite would
wipe correct history). A crash between the closed-write and the
current-swap replays from the same pre-swap slice: the closed dir
already holds that computation's output and is kept, and the swap that
didn't happen, happens. Effective timestamps derive from surviving
event times, never the wall clock, so a replay can't move ``eff_from``
either. Closed dirs are keyed by batch id — resume with the same
checkpoint (or an identical source layout) so ids keep their meaning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.operators.scd import (
    latest_update_per_key,
    scd2_merge,
)
from spacex_data_engineering_pipeline_spark.session import read_parquet
from spacex_data_engineering_pipeline_spark.storage import heal_swaps, swap_dir


def read_dimension(spark: SparkSession, dim_path: str) -> DataFrame:
    """The full versioned dimension: live slice ∪ closed history."""
    from pyspark.errors import AnalysisException

    cur = read_parquet(spark, os.path.join(dim_path, "current"))
    closed_root = os.path.join(dim_path, "closed")
    if not os.path.isdir(closed_root):
        return cur
    try:
        closed = read_parquet(spark, closed_root).drop("batch")
    except AnalysisException:
        # every batch=<id> dir is empty (no version ever closed): a
        # schema can't be inferred from zero files
        return cur
    return cur.unionByName(closed)


def run_scd2_sync(
    spark: SparkSession,
    updates_stream: DataFrame,
    dim_path: str,
    key_cols: list[str],
    tracked_cols: list[str],
    ts_col: str,
    checkpoint_dir: str,
) -> None:
    """Drain all available update batches into the versioned dimension
    at ``dim_path`` (AvailableNow), then stop.

    ``updates_stream`` columns: key_cols + tracked_cols + ``ts_col``
    (event time of each update).
    """
    cur_path = os.path.join(dim_path, "current")
    closed_root = os.path.join(dim_path, "closed")
    tmp_path = cur_path + "__tmp_scd"
    ts_type = updates_stream.schema[ts_col].dataType

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        collapsed = latest_update_per_key(batch_df, key_cols, ts_col)

        # crash inside a previous swap parked the slice aside: restore
        heal_swaps(cur_path)
        exists = os.path.exists(cur_path)
        if exists:
            current = read_parquet(spark, cur_path)
            # LATE-UPDATE GUARD — see module docstring. A change at the
            # same instant as the current version is rejected too (two
            # versions with eff_from == eff_to would be an empty
            # validity interval).
            cur_from = current.select(
                *key_cols, F.col("eff_from").alias("__cur_from")
            )
            collapsed = (
                collapsed.join(cur_from, key_cols, "left")
                .filter(
                    F.col("__cur_from").isNull()
                    | (F.col(ts_col) > F.col("__cur_from"))
                )
                .drop("__cur_from")
            )
            if collapsed.isEmpty():
                return
        collapsed = collapsed.persist()
        try:
            # effective timestamp from the SURVIVING updates' event
            # time, moved driver-side as EPOCH MICROS and rebuilt as a
            # literal with the event_time helpers: collecting a
            # datetime and re-wrapping it with F.lit round-trips
            # through the OS timezone (TimestampType.toInternal uses
            # time.mktime), which shifted eff_from/eff_to whenever the
            # OS tz differed from the session tz — caught by running
            # the suite under TZ=Asia/Kathmandu.
            from spacex_data_engineering_pipeline_spark.streaming.event_time import (
                instant_expr,
                restore_ntz,
            )

            batch_us = collapsed.agg(
                F.max(F.unix_micros(instant_expr(collapsed, ts_col)))
            ).first()[0]
            was_ntz = dict(collapsed.dtypes)[ts_col] == "timestamp_ntz"
            batch_ts_col = restore_ntz(
                F.timestamp_micros(F.lit(batch_us)), was_ntz
            )
            upd = collapsed.select(*key_cols, *tracked_cols)
            if not exists:
                current = (
                    upd.withColumn("eff_from", F.lit(None).cast(ts_type))
                    .withColumn("eff_to", F.lit(None).cast(ts_type))
                    .withColumn("is_current", F.lit(True))
                    .limit(0)
                )
            # history bypasses the merge BY CONSTRUCTION here: the dim
            # argument is only ever the current slice, so the merge
            # output splits cleanly into closed-by-this-batch rows and
            # the next current slice
            merged = scd2_merge(
                current,
                upd,
                key_cols=key_cols,
                tracked_cols=tracked_cols,
                batch_ts=batch_ts_col.cast(ts_type),
            ).persist()
            # closed dirs are WRITE-ONCE, not overwrite: a replayed batch
            # recomputes against the post-merge current slice (e.g. a
            # strictly-newer no-op survives the guard), so its closed set
            # can legitimately differ from the original run's — an
            # overwrite would wipe correct history (caught by the replay
            # test). First write wins, staged through an atomic rename;
            # the `_`-prefixed (no `=`) stage dir is invisible to
            # partition discovery even if a crash strands it.
            closed_dir = os.path.join(closed_root, f"batch={int(batch_id)}")
            if not os.path.exists(closed_dir):
                stage = os.path.join(closed_root, f"_stage_batch_{int(batch_id)}")
                merged.filter(~F.col("is_current")).write.mode("overwrite").parquet(
                    stage
                )
                os.replace(stage, closed_dir)
            merged.filter(F.col("is_current")).write.mode("overwrite").parquet(
                tmp_path
            )
            merged.unpersist()
        finally:
            collapsed.unpersist()
        swap_dir(cur_path, tmp_path)

    q = (
        updates_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
