"""Deterministic corpus sharding for training-data export.

Distributed trainers want N stable shards every worker can re-derive:
shard = pmod(stable_id, N) — no RNG, no engine-specific hash, so any
system (Spark, the trainer's dataloader, a SQL engine) computes the
same assignment. The writer lays out one directory per shard with the
rows sorted by id inside, which makes exports byte-reproducible and
resumable (a re-run overwrites shards in place).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.session import read_parquet


def with_shard(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    """Append the deterministic ``shard`` column (pmod of the stable id,
    so negative ids still land in [0, N))."""
    return df.withColumn("shard", F.pmod(F.col(id_col), F.lit(n_shards)).cast("long"))


def export_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    path: str,
    coalesce_files: bool = True,
) -> None:
    """Write ``df`` as ``path/shard=K/`` directories.

    ``coalesce_files=True`` clusters each shard into one task before the
    write (one file per shard — what a dataloader wants to stream);
    at very large per-shard volumes pass False to keep write
    parallelism WITHIN shards and let files multiply. Rows are sorted
    by id inside each task so re-exports are byte-stable.
    """
    sharded = with_shard(df, id_col, n_shards)
    if coalesce_files:
        sharded = sharded.repartition(n_shards, F.col("shard"))
    sharded.sortWithinPartitions("shard", id_col).write.partitionBy("shard").mode(
        "overwrite"
    ).parquet(path)


def read_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """One shard back, partition-pruned at scan time (the point of the
    directory layout: a worker reads 1/N of the corpus, not a filter
    over all of it)."""
    return read_parquet(spark, path).filter(F.col("shard") == shard)
