"""File-level min/max statistics index — scan pruning BETWEEN
partition pruning and row-group pushdown.

Partition pruning skips directories; parquet row-group stats are only
consulted AFTER a file is opened. At 100 TB the expensive middle is
the file LIST: a selective range predicate over a clustered layout
(operators/zorder.py) excludes most FILES, but a plain
``spark.read.parquet(dir)`` still lists, opens, and footer-reads all
of them. This module materializes the footer stats ONCE as a tiny
queryable table (the role of Delta's add-file stats / Iceberg's
manifest metrics, built here from plain parquet):

- ``build_file_index``: distribute the file list, each executor reads
  ONLY footers (pyarrow, no data pages) via ``mapInPandas`` and emits
  (file, column, min, max, n_rows) rows — index size is
  O(files × indexed columns), data bytes read: zero.
- ``prune_files_df``: intersect a per-column [lo, hi] box with the
  index — a file survives only if EVERY indexed predicate column
  overlaps. Stays a DataFrame: at 100 TB a weak predicate can survive
  millions of paths, and those never need to land in Python.
- ``prune_files``: the driver-side list variant, guarded by a
  ``max_files`` bound with a clear error pointing at the distributed
  path.
- ``read_pruned`` / ``read_pruned_df``: read exactly those files —
  the ``_df`` form consumes the surviving set in bounded batches via
  ``toLocalIterator`` so Python driver memory is O(batch), not
  O(selected files). The caller re-applies the predicate for
  row-level exactness (index pruning is file-granular, never
  row-granular — same contract as any stats-based reader).

Numeric columns only (min/max as doubles); the index is rebuilt (or
incrementally appended) after compaction/upsert rewrites, exactly
like any secondary structure.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.session import read_parquet

INDEX_SCHEMA = (
    "file string, column string, min_val double, max_val double, "
    "n_rows bigint"
)


def _footer_stats(files_df: DataFrame, cols: list[str]) -> DataFrame:
    """Executor-side footer scan for a file-list DataFrame: one
    (file, column, min, max, n_rows) row per indexed column. No data
    pages are read. A missing column always raises — both the initial
    build and the incremental path index a fixed, validated schema."""

    def read_footers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        for batch in batches:
            out = []
            for path in batch["file"]:
                md = pq.ParquetFile(path).metadata
                names = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                for col in cols:
                    if col not in names:
                        raise ValueError(f"column {col!r} not in {path}")
                    lo, hi = None, None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(names[col]).statistics
                        if st is None or not st.has_min_max:
                            lo, hi = float("-inf"), float("inf")
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    out.append((path, col, float(lo), float(hi), md.num_rows))
            yield pd.DataFrame(
                out, columns=["file", "column", "min_val", "max_val", "n_rows"]
            )

    return files_df.mapInPandas(read_footers, INDEX_SCHEMA)


def build_file_index(
    spark: SparkSession, table_path: str, columns: list[str]
) -> DataFrame:
    """Footer-stats index for ``columns`` over every parquet file under
    ``table_path`` (non-recursive flat layout). Footer reads happen on
    EXECUTORS — the driver only lists file names."""
    files = sorted(
        os.path.join(table_path, f)
        for f in os.listdir(table_path)
        if f.endswith(".parquet")
    )
    if not files:
        raise ValueError(f"no parquet files under {table_path}")
    files_df = spark.createDataFrame(
        [(f,) for f in files], "file string"
    ).repartition(min(len(files), 64))
    return _footer_stats(files_df, list(columns))


def save_file_index(index: DataFrame, index_path: str) -> None:
    """Persist the index (tiny: O(files × columns) rows)."""
    index.write.mode("overwrite").parquet(index_path)


def prune_files_df(
    index: DataFrame, box: dict[str, tuple[float, float]]
) -> DataFrame:
    """Surviving-file set as a DataFrame (one ``file`` column):
    files whose stats overlap EVERY [lo, hi] in ``box``. Fully
    distributed — nothing lands on the driver; feed it to
    :func:`read_pruned_df`, join it against other metadata, or
    collect a bounded list via :func:`prune_files`."""
    if not box:
        raise ValueError(
            "prune_files requires at least one [lo, hi] predicate — an "
            "empty box would mean 'read everything'; call read_pruned on "
            "the full listing instead"
        )
    surviving = None
    for col, (lo, hi) in box.items():
        ok = (
            index.filter(F.col("column") == col)
            .filter(
                (F.col("max_val") >= F.lit(float(lo)))
                & (F.col("min_val") <= F.lit(float(hi)))
            )
            .select("file")
        )
        surviving = ok if surviving is None else surviving.intersect(ok)
    return surviving


def prune_files(
    index: DataFrame,
    box: dict[str, tuple[float, float]],
    max_files: int = 1_000_000,
) -> list[str]:
    """Surviving files as a driver-side list — bounded by
    ``max_files``. At 100 TB a weak predicate can survive millions of
    paths; rather than silently materializing them, this raises and
    points at the distributed variants (:func:`prune_files_df` +
    :func:`read_pruned_df`), which never hold the full list in Python.
    (The JVM's own scan file-listing is O(selected files) either way —
    that bound is Spark's, not this module's.)"""
    surviving = prune_files_df(index, box)
    n = surviving.count()
    if n > max_files:
        raise ValueError(
            f"{n} files survive the box predicate (> max_files="
            f"{max_files}); use prune_files_df + read_pruned_df to keep "
            "the file set distributed, or tighten the predicate"
        )
    return sorted(r["file"] for r in surviving.collect())


def read_pruned_df(
    spark: SparkSession,
    surviving: DataFrame,
    schema=None,
    batch_size: int = 10_000,
) -> DataFrame:
    """Read the files named by a surviving-file DataFrame without ever
    materializing more than ``batch_size`` paths in Python at once:
    the set streams to the driver via ``toLocalIterator`` and each
    batch becomes one reader in a union. Python-side driver memory is
    O(batch_size); the JVM file index still tracks O(selected files)
    — the same footprint any Spark scan of those files carries."""
    readers = []
    batch: list[str] = []
    for row in surviving.select("file").toLocalIterator():
        batch.append(row["file"])
        if len(batch) >= batch_size:
            readers.append(read_parquet(spark, *batch))
            batch = []
    if batch:
        readers.append(read_parquet(spark, *batch))
    if not readers:
        if schema is None:
            raise ValueError("empty file list requires an explicit schema")
        return spark.createDataFrame([], schema)
    out = readers[0]
    for r in readers[1:]:
        out = out.unionByName(r)
    return out


def read_pruned(
    spark: SparkSession, files: list[str], schema=None
) -> DataFrame:
    """Read exactly the surviving files. An empty survivor list needs
    a schema to produce the (empty) result frame."""
    if files:
        return read_parquet(spark, *files)
    if schema is None:
        raise ValueError("empty file list requires an explicit schema")
    return spark.createDataFrame([], schema)


def append_to_file_index(
    spark: SparkSession, table_path: str, columns: list[str], index: DataFrame
) -> DataFrame:
    """Incremental index maintenance: footer-read ONLY the files not
    yet present in ``index`` and union their stats in — O(new files)
    work after an append/ingest batch, the same train-once/extend-many
    contract as the ANN index append (similarity.append_to_ivf_index).
    Files that disappeared (compaction, delete) are dropped from the
    result so the index never references dead paths."""
    # The directory listing is O(table files) driver metadata — the
    # same listing any scan of the table performs. The KNOWN set never
    # comes back to the driver: new files are found by anti-joining the
    # listing against the index, and dead paths drop via a semi-join —
    # both distributed, so the index itself can be arbitrarily large.
    current = sorted(
        os.path.join(table_path, f)
        for f in os.listdir(table_path)
        if f.endswith(".parquet")
    )
    current_df = spark.createDataFrame(
        [(f,) for f in current], "file string"
    )
    fresh_df = (
        current_df.join(index, "file", "left_anti")
        .repartition(min(max(len(current), 1), 64))
    )
    kept = index.join(F.broadcast(current_df), "file", "left_semi")
    return kept.unionByName(_footer_stats(fresh_df, list(columns)))
