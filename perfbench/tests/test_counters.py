"""The status-store work reader and the span attribution built on it."""

from __future__ import annotations

import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from counters import Work
from spans import Tracer


def test_empty_interval_reads_zero(reader):
    j = reader.next_job_id()
    assert reader.between(j, j) == Work()
    assert reader.between(j, reader.next_job_id()) == Work()


def test_parquet_scan_reads_exact_input_records(spark, reader, tmp_path):
    n = 12_345
    path = str(tmp_path / "known.parquet")
    # written without Spark, so the only jobs in the interval are the scan's
    pq.write_table(pa.table({"x": np.arange(n, dtype=np.int64)}), path)
    j0 = reader.next_job_id()
    total = spark.read.parquet(path).groupBy().sum("x").first()[0]
    work = reader.between(j0, reader.next_job_id())
    assert total == n * (n - 1) // 2
    assert work.input_records == n
    assert work.spark_jobs >= 1 and work.spark_tasks >= 1


def test_jobs_are_charged_to_the_innermost_span(spark, reader):
    tracer = Tracer(reader, spark.sparkContext)
    outer = tracer.open("outer")
    j0 = reader.next_job_id()
    spark.range(100).count()
    j1 = reader.next_job_id()
    inner = tracer.open("inner")
    spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    tracer.close(inner)
    j2 = reader.next_job_id()
    tracer.close(outer)
    layers = tracer.layers()
    assert layers["outer"]["calls"] == layers["inner"]["calls"] == 1
    assert tracer.spans[inner].parent == outer
    # each span holds exactly the jobs submitted while it was innermost
    assert layers["outer"]["work"] == reader.between(j0, j1)
    assert layers["inner"]["work"] == reader.between(j1, j2)
    assert layers["inner"]["work"].spark_jobs >= 1
    # self time excludes the child's duration
    outer_span, inner_span = tracer.spans[outer], tracer.spans[inner]
    assert abs(
        layers["outer"]["self_s"]
        - ((outer_span.end - outer_span.start) - (inner_span.end - inner_span.start))
    ) < 1e-9


def test_jobs_are_charged_to_the_span_of_their_own_thread(spark, reader):
    tracer = Tracer(reader, spark.sparkContext)
    client = tracer.open("client")
    opened, release = threading.Event(), threading.Event()
    other_jobs = []

    def other():
        idx = tracer.open("other")
        j = reader.next_job_id()
        spark.range(10).count()
        other_jobs.append((j, reader.next_job_id()))
        opened.set()
        release.wait(60)
        tracer.close(idx)

    t = threading.Thread(target=other)
    t.start()
    assert opened.wait(60)
    # "other" is now the most recently opened span, but on another thread
    j0 = reader.next_job_id()
    spark.range(100).count()
    j1 = reader.next_job_id()
    release.set()
    t.join()
    tracer.close(client)
    layers = tracer.layers()
    assert layers["client"]["work"] == reader.between(j0, j1)
    assert layers["other"]["work"] == reader.between(*other_jobs[0])
    assert layers["other"]["work"].spark_jobs >= 1
