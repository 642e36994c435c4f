"""Table catalog over the driver-generated parquet test data.

Mirrors the reference's federated-catalog role (Trino over a Postgres
catalog, reference docker/trino-config/catalog/postgresql.properties:1-4):
in Spark, the engine is both the store and the query layer, so "catalog"
is just schema-aware parquet readers plus temp-view registration so every
query can run through either the DataFrame API or ``spark.sql``.

Scale note: readers never ``.cache()`` by default and never collect;
column pruning + predicate pushdown happen at the parquet scan because
every downstream operator works on the lazy DataFrame.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.session import read_parquet

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table as a DataFrame (lazy parquet scan).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; we read nanos as INT64 (legacy conf) and
    convert to a microsecond TimestampType — the same truncation DuckDB
    applies when surfacing TIMESTAMP_NS to clients.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # save/restore: leaving the legacy conf set would silently change
        # the surfaced type of any LATER parquet read containing nanos
        prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        try:
            df = read_parquet(spark, path)
            # force analysis while the conf is set: dtypes resolves the
            # schema here; the scan itself re-reads footers lazily, so
            # the ts column must be captured as bigint NOW
            needs_convert = dict(df.dtypes).get("ts") == "bigint"
        finally:
            if prev is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        if needs_convert:
            # integral DIV, not floor(double /): epoch-nanos exceed the
            # 2^53 exact-integer range of double → off-by-1µs artifacts.
            # Target type is TIMESTAMP_NTZ (wall-clock, what the parquet
            # nanos encode and what DuckDB surfaces): calendar functions
            # (date_format/to_date/window) on an LTZ timestamp render in
            # SESSION timezone and silently shift under non-UTC sessions.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts DIV 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return df
    return read_parquet(spark, path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Read all test tables; returns name → DataFrame."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` works too."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
