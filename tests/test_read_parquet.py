"""``session.read_parquet``: engine table reads take the schema from the
footer Spark wrote instead of running a schema-inference job.

Pins, per engine layout, that the helper's schema equals what
``spark.read.parquet`` infers (names, types, nullability, column order
with the partition columns) while building the frame submits no Spark
job; that inputs without a Spark footer key, empty dirs and files
removed under the reader fall back to the plain read; and that no
package module bypasses the helper.
"""

from __future__ import annotations

import ast
import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import spacex_data_engineering_pipeline_spark as pkg
from spacex_data_engineering_pipeline_spark import session
from spacex_data_engineering_pipeline_spark.session import read_parquet


def _jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs (the DAG scheduler's
    next job id before and after)."""
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    before = int(sched.nextJobId())
    fn()
    return int(sched.nextJobId()) - before


def _assert_same_as_plain(spark, path):
    helper_jobs = _jobs(spark, lambda: read_parquet(spark, path).schema)
    plain_jobs = _jobs(spark, lambda: spark.read.parquet(path).schema)
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    assert (helper_jobs, plain_jobs) == (0, 1), path


@pytest.fixture(scope="module")
def bm25_root(spark, tmp_path_factory):
    """A BM25 root after one CDC tick and a compaction: ``postings`` and
    ``doclog`` hold ``epoch=``/``__tbucket=``/``__dbucket=`` dirs, and
    ``postings_compact/upto=1`` the compacted epochs."""
    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    base = tmp_path_factory.mktemp("bm25")
    root, src = str(base / "root"), base / "src"
    docs = spark.createDataFrame(
        [(i, f"spark vector stream doc{i} word{i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    index_sync.init_bm25_root(docs, root, "doc_id", "text", term_buckets=4, doc_buckets=4)
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([3, 20], pa.int64()),
                "text": ["spark updated", "vector new"],
                "op": ["U", "I"],
            }
        ),
        str(src / "batch0000.parquet"),
    )
    index_sync.sync_bm25_cdc_stream(
        spark, str(src), "doc_id long, text string, op string", root,
        checkpoint_dir=str(base / "ckpt"),
    )
    assert index_sync.compact_bm25_epochs(spark, root) == 1
    return root


def test_partitioned_table_after_upsert(spark, tmp_path):
    from spacex_data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "launches")
    ddl = "id string, date_utc timestamp, success boolean, mass double, launch_year int"
    rows = [
        ("a", datetime(2006, 3, 24), False, 20.0, 2006),
        ("b", datetime(2008, 9, 28), True, None, 2008),
    ]
    upsert_parquet_partitioned(
        spark, path, spark.createDataFrame(rows, ddl), "id", [F.col("date_utc")], "launch_year"
    )
    batch = [("b", datetime(2008, 9, 28), True, 165.0, 2008), ("c", datetime(2010, 6, 4), True, None, 2010)]
    upsert_parquet_partitioned(
        spark, path, spark.createDataFrame(batch, ddl), "id", [F.col("date_utc")], "launch_year"
    )
    _assert_same_as_plain(spark, path)
    assert read_parquet(spark, path).columns[-1] == "launch_year"
    assert sorted(tuple(r) for r in read_parquet(spark, path).collect()) == sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )


@pytest.mark.parametrize("table", ["postings", "doclog", "postings_compact/upto=1"])
def test_bm25_ledger_tables(spark, bm25_root, table):
    assert os.path.isdir(os.path.join(bm25_root, table))
    _assert_same_as_plain(spark, os.path.join(bm25_root, table))


def test_knn_graph_edges(spark, tmp_path):
    import random

    from spacex_data_engineering_pipeline_spark.streaming import index_sync

    rng = random.Random(7)
    corpus = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(24)],
        "vec_id long, embedding array<double>",
    )
    root = str(tmp_path / "graph_root")
    index_sync.init_knn_graph_root(corpus, root, "vec_id", "embedding", k=3, n_buckets=4)
    edges = os.path.join(root, "graph", "gen=0", "edges")
    assert any(d.startswith("__bucket=") for d in os.listdir(edges))
    _assert_same_as_plain(spark, edges)
    _assert_same_as_plain(spark, os.path.join(root, "corpus_base"))


def test_snapshot_series_declared_schema(spark, tmp_path):
    from spacex_data_engineering_pipeline_spark.plans.aggregations import (
        AggregationService,
    )

    launches = spark.createDataFrame(
        [(True, 10.0, "pad1", datetime(2020, 1, 1), datetime(2019, 12, 31))],
        "success boolean, total_payload_mass_kg double, launchpad_id string, "
        "date_utc timestamp, static_fire_date_utc timestamp",
    )
    agg = AggregationService(spark, str(tmp_path / "snapshots"))
    agg.append_snapshot(launches, snapshot_type="initial", run_id="r1")
    agg.append_snapshot(launches, run_id="r2")
    # the series is pyarrow-written: the declared schema replaces inference
    assert _jobs(spark, lambda: agg.snapshots().schema) == 0
    assert agg.snapshots().schema == spark.read.parquet(agg.path).schema
    assert sorted(r.pipeline_run_id for r in agg.snapshots().collect()) == ["r1", "r2"]


def test_fallback_without_spark_footer_key(spark, tmp_path):
    path = str(tmp_path / "arrow")
    os.makedirs(path)
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()), "ts": pa.array([0, 1], pa.timestamp("us"))}),
        os.path.join(path, "part-0.parquet"),
    )
    assert session._footer_schema(path) is None
    assert _jobs(spark, lambda: read_parquet(spark, path).schema) == 1
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    assert read_parquet(spark, path).collect() == spark.read.parquet(path).collect()


def test_fallback_data_column_also_a_partition_column(spark, tmp_path):
    # Spark keeps such a column at its data position; a declared data
    # schema would move it behind the data columns
    path = str(tmp_path / "overlap")
    spark.range(3).select(F.lit(0).alias("b"), "id").write.parquet(os.path.join(path, "b=0"))
    assert _jobs(spark, lambda: read_parquet(spark, path).schema) == 1
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema
    assert read_parquet(spark, path).columns == ["b", "id"]


def test_fallback_empty_dir_raises_like_plain_read(spark, tmp_path):
    path = str(tmp_path / "empty")
    os.makedirs(os.path.join(path, "epoch=1"))
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(path)
    with pytest.raises(AnalysisException) as helper:
        read_parquet(spark, path)
    assert type(helper.value) is type(plain.value)


def test_fallback_file_removed_before_footer_read(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "tbl")
    spark.range(6).withColumn("b", F.col("id") % 2).write.partitionBy("b").parquet(path)
    # listed, then dropped by a concurrent vacuum before its footer is read
    gone = os.path.join(path, "b=0", "part-vacuumed.parquet")
    monkeypatch.setattr(session, "_first_data_file", lambda p: gone)
    assert _jobs(spark, lambda: read_parquet(spark, path).schema) == 1
    assert read_parquet(spark, path).schema == spark.read.parquet(path).schema

    # the only data file gone: both reads fail the same way
    lone = str(tmp_path / "lone")
    spark.range(3).coalesce(1).write.parquet(lone)
    (only,) = [f for f in os.listdir(lone) if f.startswith("part-")]
    os.remove(os.path.join(lone, only))
    monkeypatch.setattr(session, "_first_data_file", lambda p: os.path.join(p, only))
    with pytest.raises(AnalysisException) as helper:
        read_parquet(spark, lone)
    with pytest.raises(AnalysisException) as plain:
        spark.read.parquet(lone)
    assert type(helper.value) is type(plain.value)


def test_listing_keeps_partition_dirs_and_skips_hidden_names(tmp_path):
    for rel in ("_SUCCESS", ".part-0.crc", "_tmp/x.parquet", "__tbucket=3/part-1.parquet"):
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"")
    assert session._first_data_file(str(tmp_path)) == str(tmp_path / "__tbucket=3" / "part-1.parquet")


def test_package_reads_parquet_only_through_the_helper():
    """A plain ``<x>.read.parquet(...)`` call brings back one inference
    job per read; only ``session.read_parquet`` (which falls back to
    it) may make one. Reads that pass a schema or options first
    (``<x>.read.schema(...).parquet``) are not plain reads."""
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == session.__file__:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                fn = getattr(node, "func", None)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(fn, ast.Attribute)
                    and fn.attr == "parquet"
                    and isinstance(fn.value, ast.Attribute)
                    and fn.value.attr == "read"
                ):
                    offenders.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    assert offenders == []
