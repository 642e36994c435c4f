"""Row deletion over parquet tables (retention / right-to-erasure).

The reference never deletes (its ingest is upsert-only), but any
long-lived 100 TB pipeline needs ``DELETE WHERE``: retention windows,
GDPR erasure, poisoned-batch rollback. On plain parquet a delete is a
rewrite of the files that contain matching rows — the whole game is
rewriting as FEW bytes as possible and swapping them in crash-safely:

- partitioned table: ONE partition-pruned probe finds the affected
  partition values; only those partitions are rewritten (survivor rows),
  swapped in with the upsert's listing-invisible aside protocol, and
  partitions left with zero survivors are dropped. Cost is O(affected
  partitions), never O(table).
- flat table: whole-table rewrite through the same staged two-rename
  swap as ``upsert_parquet`` (with its crash-recovery contract).

SQL NULL semantics: DELETE removes rows where the predicate is TRUE;
rows where it evaluates NULL are KEPT (``DELETE WHERE x > 5`` keeps
x=NULL rows), matching Delta/Iceberg/ANSI behavior.

With a transactional format this module collapses to ``DELETE FROM``;
the deleted-row count mirrors what those engines report.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, Observation, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.operators.upsert import (
    _partition_dir_names,
    _repair_partition_swaps,
    _swap_in_partitions,
)
from spacex_data_engineering_pipeline_spark.session import read_parquet


def delete_where(
    spark: SparkSession,
    table_path: str,
    predicate: Column,
    partition_col: str | None = None,
) -> int:
    """Delete rows matching ``predicate`` from the parquet table at
    ``table_path``; returns the number of rows removed.

    ``partition_col``: pass the table's partition column to take the
    scale path (affected-partitions-only rewrite). The probe that finds
    affected partitions evaluates the predicate once over a
    column-pruned scan; when the predicate itself constrains the
    partition column, Catalyst partition-prunes that probe too (a
    retention delete on a time-partitioned table probes only the
    expired partitions).
    """
    keep = ~F.coalesce(predicate, F.lit(False))

    if partition_col is None:
        # flat path: one pass — observe total+matched riding the
        # survivor write, then the same swap protocol as upsert_parquet
        tmp_path = table_path.rstrip("/") + "__tmp_delete"
        old_path = table_path.rstrip("/") + "__old_delete"
        if not os.path.exists(table_path) and os.path.exists(old_path):
            os.replace(old_path, table_path)  # crash repair, upsert-style
        existing = read_parquet(spark, table_path)
        obs = Observation()
        deleted_expr = F.sum(
            F.when(F.coalesce(predicate, F.lit(False)), 1).otherwise(0)
        ).alias("deleted")
        existing.observe(obs, deleted_expr).filter(keep).write.mode(
            "overwrite"
        ).parquet(tmp_path)
        if os.path.exists(old_path):
            shutil.rmtree(old_path)
        os.replace(table_path, old_path)
        os.replace(tmp_path, table_path)
        shutil.rmtree(old_path)
        return int(obs.get["deleted"] or 0)

    _repair_partition_swaps(table_path)
    existing = read_parquet(spark, table_path)
    # Probe: affected partition values + per-partition match counts in
    # ONE partition-prunable job (only partition_col and the predicate's
    # columns are read).
    probe = (
        existing.filter(F.coalesce(predicate, F.lit(False)))
        .groupBy(partition_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .collect()
    )
    if not probe:
        return 0
    affected = [r[partition_col] for r in probe]
    deleted = int(sum(r["__n"] for r in probe))

    tmp_path = table_path.rstrip("/") + "__tmp_delete_parts"
    shutil.rmtree(tmp_path, ignore_errors=True)
    # null-safe partition match: a NULL partition value groups on its
    # own probe row but isin() never matches NULL — without the isNull
    # arm its survivors would be missing from the staged write and the
    # whole __HIVE_DEFAULT_PARTITION__ dir would be dropped.
    non_null = [v for v in affected if v is not None]
    part_match = F.col(partition_col).isin(non_null)
    if len(non_null) < len(affected):
        part_match = part_match | F.col(partition_col).isNull()
    (
        existing.filter(part_match)
        .filter(keep)
        .repartition(F.col(partition_col))
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(tmp_path)
    )
    survivors = _swap_in_partitions(table_path, tmp_path, partition_col)
    shutil.rmtree(tmp_path, ignore_errors=True)
    # A partition whose every row matched has no staged dir — drop it.
    # The on-disk name comes from Spark's own partition-path encoder
    # (escapePathName + date/timestamp formatting), never an f-string
    # of the collected value: for a value Spark escapes (':', '=', '%',
    # spaces) the f-string path doesn't exist and the partition — every
    # row of which matched the predicate — would silently survive.
    if len(survivors) < len(affected):
        affected_dirs = _partition_dir_names(
            spark,
            affected,
            existing.schema[partition_col],
            table_path.rstrip("/") + "__dirprobe",
        )
        for entry in affected_dirs - survivors:
            shutil.rmtree(os.path.join(table_path, entry), ignore_errors=True)
    return deleted


def retention_delete(
    spark: SparkSession,
    table_path: str,
    time_col: str,
    cutoff,
    partition_col: str | None = None,
) -> int:
    """Drop rows older than ``cutoff`` — the scheduled-retention wrapper
    over ``delete_where``. With a time-derived ``partition_col`` the
    probe and rewrite both partition-prune to the expired range."""
    return delete_where(
        spark, table_path, F.col(time_col) < F.lit(cutoff), partition_col
    )
