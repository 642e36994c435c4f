"""Row deletion over parquet tables (retention / right-to-erasure).

The reference never deletes (its ingest is upsert-only), but any
long-lived 100 TB pipeline needs ``DELETE WHERE``: retention windows,
GDPR erasure, poisoned-batch rollback. On plain parquet a delete is a
rewrite of the files that contain matching rows — the whole game is
rewriting as FEW bytes as possible and swapping them in crash-safely:

- partitioned table: ONE partition-pruned probe finds the affected
  partition values; only those partitions are rewritten (survivor rows),
  swapped in one ``storage.swap_dir`` each, and partitions left with
  zero survivors are dropped. Cost is O(affected partitions), never
  O(table).
- flat table: whole-table rewrite, staged and swapped in by
  ``storage.swap_dir`` like ``upsert_parquet``.

Either way ``storage.heal_swaps`` first settles a swap any verb left
half done, so a crash never loses the rows parked aside.

SQL NULL semantics: DELETE removes rows where the predicate is TRUE;
rows where it evaluates NULL are KEPT (``DELETE WHERE x > 5`` keeps
x=NULL rows), matching Delta/Iceberg/ANSI behavior.

With a transactional format this module collapses to ``DELETE FROM``;
the deleted-row count mirrors what those engines report.
"""

from __future__ import annotations

import shutil

from pyspark.sql import Column, Observation, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.operators.upsert import _swap_in_partitions
from spacex_data_engineering_pipeline_spark.session import read_parquet
from spacex_data_engineering_pipeline_spark.storage import heal_swaps, swap_dir


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
    heal_swaps(table_path)
    existing = read_parquet(spark, table_path)

    if partition_col is None:
        # flat path: one pass — observe total+matched riding the
        # survivor write, then swap it in
        tmp_path = table_path.rstrip("/") + "__tmp_delete"
        obs = Observation()
        deleted_expr = F.sum(
            F.when(F.coalesce(predicate, F.lit(False)), 1).otherwise(0)
        ).alias("deleted")
        existing.observe(obs, deleted_expr).filter(keep).write.mode(
            "overwrite"
        ).parquet(tmp_path)
        swap_dir(table_path, tmp_path)
        return int(obs.get["deleted"] or 0)

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
    # a partition whose every row matched has no staged dir — dropped
    _swap_in_partitions(
        spark, table_path, tmp_path, existing.schema[partition_col], affected
    )
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
