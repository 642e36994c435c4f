"""Anti-entropy table reconciliation: find and repair diverged
partitions between two copies of a table by comparing PORTABLE
per-partition checksums — the replication-repair primitive (Cassandra
repair / DistCp -diff class) for plain-parquet tables.

Why checksums and not a row diff: a full diff joins 100 TB against
100 TB; the checksum pass reduces each side to one
partition-cardinality table of (partition, n_rows, checksum) — the
md5-coin DECIMAL(38,0) sum is order-insensitive and engine-portable
(the `orders_table_checksum` contract), so the copies may live on
different engines entirely. Only partitions whose (count, checksum)
pair diverges are rewritten, each staged and swapped in by
``storage.swap_dir`` (crash-safe, listing-invisible aside). Cost:
two narrow scans + O(diverged bytes) rewrite, never O(table).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.session import read_parquet


def partition_checksums(
    df: DataFrame, partition_col: str, canonical: Column
) -> DataFrame:
    """Per-partition (n_rows, checksum) from a caller-supplied
    canonical string expression (stable field rendering — integer
    cents, ISO dates — is the caller's contract; see
    orders_table_checksum)."""
    coin = F.conv(F.substring(F.md5(canonical), 1, 8), 16, 10).cast("bigint")
    return df.groupBy(partition_col).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(coin.cast("decimal(38,0)")).alias("checksum"),
    )


def diverged_partitions(
    source: DataFrame,
    target: DataFrame,
    partition_col: str,
    canonical: Column,
) -> list:
    """Partition values whose (count, checksum) differ between source
    and target — including partitions present on only one side. The
    result is partition-cardinality metadata."""
    s = partition_checksums(source, partition_col, canonical).alias("s")
    t = partition_checksums(target, partition_col, canonical).alias("t")
    j = s.join(t, on=partition_col, how="full_outer")
    bad = j.filter(
        ~(
            F.col("s.n_rows").eqNullSafe(F.col("t.n_rows"))
            & F.col("s.checksum").eqNullSafe(F.col("t.checksum"))
        )
    )
    return [r[partition_col] for r in bad.select(partition_col).collect()]


def repair_table(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    partition_col: str,
    canonical: Column,
) -> dict:
    """Make the partitioned parquet table at ``target_path`` equal to
    ``source`` by rewriting ONLY diverged partitions (one
    ``storage.swap_dir`` each — crash-safe, emptied/extra partitions
    dropped). Returns {"diverged": [...], "rewritten": int}.
    """
    from spacex_data_engineering_pipeline_spark.operators.upsert import (
        _swap_in_partitions,
    )
    from spacex_data_engineering_pipeline_spark.storage import heal_swaps
    import shutil

    heal_swaps(target_path)
    target = read_parquet(spark, target_path)
    bad = diverged_partitions(source, target, partition_col, canonical)
    if not bad:
        return {"diverged": [], "rewritten": 0}

    non_null = [v for v in bad if v is not None]
    match = F.col(partition_col).isin(non_null)
    if len(non_null) < len(bad):
        match = match | F.col(partition_col).isNull()
    tmp = target_path.rstrip("/") + "__tmp_repair"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        source.filter(match)
        .repartition(F.col(partition_col))
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(tmp)
    )
    # a diverged partition with NO source rows is dropped from the target
    _swap_in_partitions(spark, target_path, tmp, source.schema[partition_col], bad)
    return {"diverged": bad, "rewritten": len(bad)}
