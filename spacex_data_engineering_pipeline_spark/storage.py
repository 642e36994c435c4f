"""Storage layout utilities — where the 100 TB battle is actually won.

Three layout levers, each mapping to a plan-level guarantee the test
suite asserts (tests/test_storage.py):

- ``write_partitioned``: hive-style directory partitioning → partition
  PRUNING: a filter on the partition column skips whole directories at
  file-listing time (plan shows ``PartitionFilters``), before any I/O.
- ``write_bucketed``: ``bucketBy`` on the join/agg key → co-located
  joins: two tables bucketed on the same key by the same bucket count
  join WITHOUT a shuffle (no Exchange under the SortMergeJoin).
- ``compact``: coalesce small files to a target partition count —
  100 TB tables die by a thousand 1 MB files (driver-side listing, task
  overhead), so sinks should compact on write.

The reference's analogue is Postgres B-tree indexes (sql/init.sql:45-48);
in a Spark lakehouse the index IS the layout.

Two commit primitives every engine writer shares (the reference commits
raw rows and state in one transaction, src/database.py:133-223):

- ``swap_dir``: replace a whole directory (a flat table, a partition
  leaf, a dimension slice) with a staged one — rename aside, rename in,
  drop the aside. ``heal_swaps`` undoes a crash inside that window for
  every verb at once, so each swapping writer calls it before reading.
- ``publish_json``: replace a small JSON pointer file atomically (stage,
  fsync, one ``os.replace``). The replace is unconditional: a writer
  that read an older pointer overwrites a newer commit.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

# A swap's aside: `_`-prefixed with `=` percent-encoded, so Spark's
# listing ignores it (it keeps `_x=y` names as partition candidates).
_ASIDE = "_swap_aside_"
# Asides earlier releases wrote, healed the same way so a table that
# crashed under one of them still recovers: per-verb siblings of a flat
# table, and per-verb prefixes inside a partitioned one.
_LEGACY_SIBLINGS = ("__old_upsert", "__old_delete", "__old_scd")
_ASIDE_PREFIXES = (_ASIDE, "_old_part_", "_old_compact_")
_LEGACY_STAGE = "_tmp_compact_"  # an incomplete stage, dropped


def _encode(base: str) -> str:
    return base.replace("%", "%25").replace("=", "%3D")


def _decode(name: str) -> str:
    return name.replace("%3D", "=").replace("%25", "%")


def _settle(aside: str, original: str) -> None:
    """Finish a swap a crash interrupted: with nothing at ``original``
    the crash fell between the two renames (restore the aside); with
    the new dir in place it fell after them (drop the aside)."""
    if os.path.exists(original):
        shutil.rmtree(aside, ignore_errors=True)
    else:
        os.replace(aside, original)


def swap_dir(dest: str, staged: str) -> None:
    """Replace directory ``dest`` with the complete directory
    ``staged``: rename ``dest`` aside, rename ``staged`` in, drop the
    aside. Some complete version stays reachable at every instant; a
    crash between the renames is undone by ``heal_swaps``, which the
    caller runs before it reads the table."""
    parent, base = os.path.split(dest.rstrip("/"))
    aside = os.path.join(parent, _ASIDE + _encode(base))
    if os.path.exists(dest):
        os.replace(dest, aside)
    os.replace(staged, dest)
    shutil.rmtree(aside, ignore_errors=True)


def heal_swaps(table_path: str) -> None:
    """Settle every aside a crashed swap left for the table at
    ``table_path``, whichever verb crashed: the table's own aside
    beside it, and leaf asides at every level of its partition tree.
    Swapping writers call this before reading the table — a parked
    leaf would otherwise vanish from the read, and the next swap would
    make the loss permanent."""
    table = table_path.rstrip("/")
    parent, base = os.path.split(table)
    for name in (
        *(p + _encode(base) for p in _ASIDE_PREFIXES),
        *(base + s for s in _LEGACY_SIBLINGS),
    ):
        if os.path.exists(os.path.join(parent, name)):
            _settle(os.path.join(parent, name), table)
    stage = os.path.join(parent, _LEGACY_STAGE + _encode(base))
    shutil.rmtree(stage, ignore_errors=True)
    for d, dirs, _files in os.walk(table):
        kept = []
        for e in dirs:
            if e.startswith(_LEGACY_STAGE):
                shutil.rmtree(os.path.join(d, e), ignore_errors=True)
                continue
            prefix = next((p for p in _ASIDE_PREFIXES if e.startswith(p)), None)
            if prefix is not None:
                aside, e = os.path.join(d, e), _decode(e[len(prefix):])
                _settle(aside, os.path.join(d, e))
            if not e.startswith(("_", ".")):
                kept.append(e)
        dirs[:] = dict.fromkeys(kept)  # walk restored leaves, once each


def publish_json(path: str, obj) -> None:
    """Atomically replace the JSON file at ``path`` with ``obj``: dump
    to a uniquely named hidden sibling, fsync, ``os.replace``. Readers
    see the old file or the new one, never a torn one; on any failure
    the old file is untouched and the sibling removed."""
    d, base = os.path.split(os.path.abspath(path))
    fd, tmp = tempfile.mkstemp(dir=d, prefix=f".{base}.")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Directory-partitioned parquet: queries filtering on
    ``partition_cols`` prune at file-listing time.

    Choose LOW-cardinality columns (date, region, event_type): every
    distinct value is a directory, and >~10k directories hurts listing
    more than pruning helps.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: rows are hash-distributed into
    ``num_buckets`` files by ``bucket_cols`` AT WRITE TIME, so every
    later join/aggregation on those keys starts pre-shuffled.

    Pick ``num_buckets`` ≈ cluster cores (or a multiple); both sides of
    a co-located join must agree on keys AND bucket count.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def compact(df: DataFrame, target_partitions: int) -> DataFrame:
    """Coalesce to ``target_partitions`` before a write — no shuffle,
    just fewer, larger output files."""
    return df.coalesce(target_partitions)


def table(spark: SparkSession, name: str) -> DataFrame:
    return spark.table(name)
