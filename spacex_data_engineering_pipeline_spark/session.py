"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and broadcast demotion replace hand-tuned partition counts.
- Arrow on: any unavoidable Python boundary (pandas UDFs for MinHash /
  embeddings) moves columnar batches, not pickled rows.
- Session timezone pinned to UTC: the reference normalizes every timestamp
  to UTC (reference src/models.py:35-66); we do it once at the session level.
- shuffle.partitions defaults to cores locally; on a real cluster AQE
  coalesces from a high initial count, so this is a floor not a ceiling.
"""

from __future__ import annotations

import json
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Streaming state-store providers. The default (HDFS-backed) keeps every
# partition's ENTIRE state map as JVM objects on-heap with full snapshot
# files per maintenance interval — fine for bounded test state, a
# scale-killer for 100 TB-class state (sessionization over billions of
# keys): heap = total state, GC pauses scale with it. RocksDB keeps
# state off-heap in an LSM tree with incremental changelog/snapshot
# upload, bounding heap by the write buffer, which is why it is the
# production default on large clusters. Dial via get_spark(
# state_store_provider="rocksdb") or SPARK_GRAFT_STATE_STORE=rocksdb;
# per-run override on the streaming harness (plans/queries.py::
# _run_events_stream). NOTE: the provider is frozen into a query's
# checkpoint at first start — changing it requires a new checkpoint.
STATE_STORE_PROVIDERS = {
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def state_store_provider_class(name: str) -> str:
    """Resolve a short provider name ('rocksdb'/'hdfs') or pass through
    a fully-qualified provider class."""
    return STATE_STORE_PROVIDERS.get(name, name)


def get_spark(
    app_name: str = "spacex-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    state_store_provider: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-coalesce shuffles even under .persist(): cached
        # plans otherwise pin their partitioning at the session
        # default, which costs hundreds of near-empty reduce tasks in
        # iterative operators (see operators/dedup.py::connected_components)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # runtime bloom-filter join pruning: a selective filter on one
        # join side injects a bloom filter into the other side's scan
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Parquet scans: 128 MiB splits keep partitions memory-safe at scale.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Timestamps in the test parquet are ns-precision; read as micros.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        # managed-table warehouse (bucketed tables) outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spacex_spark_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    provider = state_store_provider or os.environ.get("SPARK_GRAFT_STATE_STORE")
    if provider:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            state_store_provider_class(provider),
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Footer key under which Spark's parquet writer stores the exact
# StructType of the rows it wrote (ParquetReadSupport.SPARK_METADATA_KEY).
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _listed(name: str) -> bool:
    """Whether Spark's file listing keeps a file or dir name
    (InMemoryFileIndex.shouldFilterOutPathName): hidden ``.`` names and
    ``_`` names are skipped, except partition dirs such as
    ``__bucket=3`` whose ``_`` name holds an ``=``."""
    return not (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _first_data_file(path: str) -> str | None:
    """One data file of a local parquet path (a file or a table dir),
    visited in name order, or None when the listing holds none."""
    if os.path.isfile(path):
        return path
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if _listed(d))
        for name in sorted(filenames):
            if _listed(name):
                return os.path.join(dirpath, name)
    return None


def _footer_schema(path: str) -> StructType | None:
    """The data schema Spark stored in the footer of one data file of
    ``path``, or None when there is none to take: no data file, the
    file vanished or is not parquet, no Spark key (pyarrow- or
    DuckDB-written), or a data column that is also a partition column
    of the dir layout (Spark would keep it in its data position)."""
    f = _first_data_file(path)
    if f is None:
        return None
    try:
        raw = (pq.read_metadata(f).metadata or {}).get(SPARK_SCHEMA_KEY)
    except (OSError, pa.ArrowInvalid):
        return None
    if raw is None:
        return None
    try:
        schema = StructType.fromJson(json.loads(raw))
    except (ValueError, KeyError, TypeError):  # a legacy, non-JSON schema string
        return None
    part_cols = {
        seg.split("=", 1)[0].lower()
        for seg in os.path.dirname(os.path.relpath(f, path)).split(os.sep)
        if "=" in seg
    }
    if part_cols & {n.lower() for n in schema.fieldNames()}:
        return None
    return schema


def read_parquet(
    spark: SparkSession, *paths: str, schema: StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(*paths)`` without the schema-inference job.

    Plain ``spark.read.parquet`` submits one Spark job per call that
    reads a footer to infer the schema. Tables written by Spark carry
    that exact schema in every part file's footer, so the driver reads
    one footer of the first path with pyarrow (the file Spark's listing
    would keep, the same one-footer rule Spark's non-merging inference
    follows) and hands the schema to the reader. Partition columns are
    still discovered and typed from the directory names.

    ``schema`` declares the data schema outright (driver-written
    tables whose writer knows it). Without it, anything the footer
    cannot answer -- no Spark key, an empty dir, a file removed by a
    concurrent vacuum, a non-local path -- falls back to the plain
    read, with its inference job and its errors.
    """
    if schema is None and paths and os.path.exists(paths[0]):
        schema = _footer_schema(paths[0])
    if schema is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)


# Streaming state-partition knees, measured at sf0.1 (SCALE_NOTES r5/r8
# sweeps over 4/8/16/32 partitions) and encoded here as ENGINE defaults
# rather than per-query folklore:
# - Python-stateful operators (applyInPandasWithState): per-batch cost
#   is ~1 ms × (groups in batch) of Python update calls, so extra
#   partitions buy parallel Arrow workers until state-store lifecycle
#   overhead catches up — sessionized 11.8/7.7/9.3/9.2 s, running user
#   stats 7.4/4.4/4.6/5.7 s: the knee is 8.
# - JVM-state operators (windowed aggs, stream-stream joins,
#   dropDuplicates): every state partition pays open/snapshot/commit
#   PER MICRO-BATCH, so idle partitions are pure overhead — purchase
#   attribution 5.0/6.6/11.2/22.7 s over the same sweep: 4 wins.
# On a real cluster these scale with executor count; the RATIO (Python
# state wants ~2× the partitions of JVM state) is the portable finding.
PYTHON_STATEFUL_STATE_PARTITIONS = 8
JVM_STATE_PARTITIONS = 4


def streaming_state_partitions(stream_df, approx_rows: int | None = None) -> int:
    """Default ``spark.sql.shuffle.partitions`` for a streaming query,
    derived from the OPERATOR CLASS in its logical plan (the dial is
    frozen into the checkpoint at first start, so it must be right
    before ``start()``): Python-stateful plans carry a
    ``FlatMapGroupsInPandasWithState`` node; everything else stateful
    is JVM state.

    ``approx_rows`` (when the caller knows the source volume — e.g.
    parquet footer counts of a staged source) scales the
    Python-stateful dial: its per-batch cost is Python update calls
    over the batch's GROUPS, so the knee moves with key count —
    measured at sf1.0 (1M rows / 15k keys) 16 partitions beat the
    sf0.1-tuned 8 by ~40% (42/34 s → 23/25 s, two runs each), while at
    sf0.1 (100k rows / 1.5k keys) 8 beats 16 (7.7 vs 9.3 s). One
    doubling per decade of rows above 300k, capped at 64; on a real
    cluster cap at executors × a small factor instead. JVM state stays
    flat: its cost is per-partition store lifecycle, not per-group
    Python. Callers with a measured better number can still pass one
    explicitly.
    """
    plan = stream_df._jdf.queryExecution().logical().toString()
    if "FlatMapGroupsInPandasWithState" not in plan:
        return JVM_STATE_PARTITIONS
    parts = PYTHON_STATEFUL_STATE_PARTITIONS
    if approx_rows:
        r = approx_rows
        while r > 300_000 and parts < 64:
            parts *= 2
            r //= 10
    return parts
