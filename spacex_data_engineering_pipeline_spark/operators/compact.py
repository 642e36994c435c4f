"""Small-file compaction: rewrite a parquet table's many small files
into few near-target-size files, preserving content exactly.

Why it's a first-class operator at scale: streaming upserts, per-batch
appends, and high shuffle.partitions writes all fragment tables; every
later scan then pays per-file open/listing/footer costs that can exceed
the data read itself (the noop-probe measurement in SCALE_NOTES.md saw
file count alone move a table listing 1.05 s → 0.87 s at 32× fewer
files). Production analogues: Delta OPTIMIZE / Iceberg rewrite_data_files.

Shape: file sizes come from a driver-side listing (metadata, no job);
the rewrite is ONE coalesce-to-⌈bytes/target⌉ pass per compacted unit;
the swap reuses the upsert's staged two-rename protocol (crash leaves
either the old or the new complete table reachable). For a partitioned
table, each leaf partition compacts independently — only fragmented
partitions (file count above threshold) are rewritten; the rest are
untouched, so the cost is O(fragmented bytes), not O(table).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

from spacex_data_engineering_pipeline_spark.session import read_parquet


_TMP_PREFIX = "_tmp_compact_"
_OLD_PREFIX = "_old_compact_"


def _encode_base(base: str) -> str:
    """Percent-encode ``=`` (and ``%``) out of a leaf's dir name.
    Spark's listing only ignores ``_``-prefixed names WITHOUT an ``=``
    (InMemoryFileIndex keeps ``_x=y`` as a potential partition dir), so
    ``_old_compact_yr=1995`` would still join partition discovery and
    blow up a concurrent read with conflicting-directory-structure;
    ``_old_compact_yr%3D1995`` is invisible to it."""
    return base.replace("%", "%25").replace("=", "%3D")


def _decode_base(name: str) -> str:
    return name.replace("%3D", "=").replace("%25", "%")


def _staging_paths(leaf: str) -> tuple[str, str]:
    """(tmp, aside) staging siblings for one leaf, named so Spark's file
    listing ignores them: a concurrent (or post-crash) whole-table read
    must never parse a staging dir as a partition value (which would
    duplicate rows and/or widen the partition column's type to string)."""
    parent, base = os.path.split(leaf.rstrip("/"))
    return (
        os.path.join(parent, _TMP_PREFIX + _encode_base(base)),
        os.path.join(parent, _OLD_PREFIX + _encode_base(base)),
    )


def _repair_crashed_swaps(table_path: str) -> None:
    """Restore any leaf parked at its ``_old_compact_*`` aside by a crash
    inside the two-rename window, and drop incomplete ``_tmp_compact_*``
    stages. Runs BEFORE leaf enumeration, so a crashed table is healed
    rather than walked around (the asides live where the leaves did).

    Walks the table root for partition-leaf asides, plus the root's own
    parent for the flat-table aside (whose staging siblings sit beside
    the table directory itself).
    """
    candidates: list[str] = []
    parent = os.path.dirname(os.path.abspath(table_path.rstrip("/")))
    for d in (parent, *(dp for dp, _, _ in os.walk(table_path))):
        try:
            entries = os.listdir(d)
        except FileNotFoundError:
            continue
        candidates += [
            os.path.join(d, e)
            for e in entries
            if e.startswith((_TMP_PREFIX, _OLD_PREFIX))
        ]
    for path in candidates:
        d, base = os.path.split(path)
        if base.startswith(_TMP_PREFIX):
            shutil.rmtree(path, ignore_errors=True)  # incomplete stage
            continue
        original = os.path.join(d, _decode_base(base[len(_OLD_PREFIX):]))
        if os.path.exists(original):
            shutil.rmtree(path, ignore_errors=True)  # crash after swap-in
        else:
            os.replace(path, original)  # crash between the two renames


def _leaf_dirs(table_path: str) -> list[str]:
    """Partition leaf directories (dirs containing data files), or the
    root itself for an unpartitioned table."""
    leaves = []
    for dirpath, dirnames, filenames in os.walk(table_path):
        # don't descend into hidden/staging dirs (Spark ignores them too)
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        if any(f.endswith(".parquet") for f in filenames):
            leaves.append(dirpath)
    return leaves or [table_path]


def _dir_stats(d: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for one leaf dir."""
    n, b = 0, 0
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


def compact_parquet(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 4,
) -> dict[str, int]:
    """Compact every fragmented leaf of the parquet table at
    ``table_path`` (partitioned or not) toward ``target_file_bytes``
    files. Returns {"files_before", "files_after", "leaves_compacted"}.

    A leaf is rewritten only when it holds ≥ ``min_files_to_compact``
    files AND more than ⌈bytes/target⌉ of them — already-compact leaves
    are not touched (idempotent; re-running is a metadata-only no-op).
    Each rewrite is coalesce(⌈bytes/target⌉) — a narrow, shuffle-free
    repack — staged to a sibling dir and swapped with the same
    two-rename protocol as the flat upsert, so readers always see a
    complete leaf. Row order within a leaf is not preserved (parquet
    tables carry no order contract); counts and values are.
    """
    # Crash repair FIRST: a prior run that died inside a swap left that
    # leaf parked at its _old_compact_* aside — restore it before the
    # leaf walk, or the walk would miss the leaf entirely (os.walk only
    # yields existing dirs) and the flat fallback would stat a missing
    # path.
    _repair_crashed_swaps(table_path)
    files_before = files_after = leaves_compacted = 0
    if not os.path.exists(table_path):
        return {"files_before": 0, "files_after": 0, "leaves_compacted": 0}
    for leaf in _leaf_dirs(table_path):
        n, b = _dir_stats(leaf)
        files_before += n
        want = max(1, -(-b // target_file_bytes))  # ceil
        if n < min_files_to_compact or n <= want:
            files_after += n
            continue
        tmp, old = _staging_paths(leaf)
        read_parquet(spark, leaf).coalesce(int(want)).write.mode("overwrite").parquet(tmp)
        if os.path.exists(old):
            shutil.rmtree(old)
        os.replace(leaf, old)
        os.replace(tmp, leaf)
        shutil.rmtree(old)
        files_after += _dir_stats(leaf)[0]
        leaves_compacted += 1
    return {
        "files_before": files_before,
        "files_after": files_after,
        "leaves_compacted": leaves_compacted,
    }
