"""Aggregation service: the reference's snapshot-per-run metrics table
(src/aggregations.py) re-expressed as one single-pass Spark aggregate
plus an append-only parquet time series.

Key design departure (SURVEY A2): the reference hand-maintains delta
counters and then *recomputes* the non-distributive metrics anyway
(aggregations.py:290-300). Spark makes full recompute the honest and
cheap default — one job over the launches table — while staying
incremental at the orchestration level (a snapshot row per pipeline
run). Delay hours here are FRACTIONAL (reference Postgres
EXTRACT(EPOCH)/3600 semantics, aggregations.py:333 — SURVEY F3), unlike
the truncating analytics surface (F2).
"""

from __future__ import annotations

import os
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.pipeline import metalog
from spacex_data_engineering_pipeline_spark.schemas import LAUNCH_AGGREGATIONS_SCHEMA
from spacex_data_engineering_pipeline_spark.session import read_parquet

SNAPSHOT_TYPES = ("initial", "incremental", "manual")


def new_run_id(now: datetime | None = None) -> str:
    """'pipeline_<YYYYmmdd_HHMMSS>_<8hex>' (reference aggregations.py:52)."""
    now = now or datetime.now(timezone.utc)
    return f"pipeline_{now.strftime('%Y%m%d_%H%M%S')}_{uuid.uuid4().hex[:8]}"


def compute_global_metrics(launches: DataFrame) -> Row:
    """The 8-metric one-pass aggregate (reference SQL at
    aggregations.py:321-336) + the derived success_rate (models.py:112-116).

    3-state success: NULL counts toward neither bucket —
    ``count(when(...))``, never ``sum(cast(...))``. Conditional
    averages gate on IS NOT NULL AND > 0. One hash-agg job; the
    COUNT(DISTINCT) expands to the standard two-stage plan.
    """
    from spacex_data_engineering_pipeline_spark.functions.datetime import (
        fractional_hours_between,
    )

    delay_hours = fractional_hours_between(
        F.col("static_fire_date_utc"), F.col("date_utc")
    )
    row = launches.agg(
        F.count(F.lit(1)).alias("total_launches"),
        F.count(F.when(F.col("success") == True, 1)).alias(  # noqa: E712
            "total_successful_launches"
        ),
        F.count(F.when(F.col("success") == False, 1)).alias(  # noqa: E712
            "total_failed_launches"
        ),
        F.min("date_utc").alias("earliest_launch_date"),
        F.max("date_utc").alias("latest_launch_date"),
        F.countDistinct("launchpad_id").alias("total_launch_sites"),
        F.round(
            F.avg(
                F.when(
                    F.col("total_payload_mass_kg") > 0, F.col("total_payload_mass_kg")
                )
            ),
            2,
        ).alias("average_payload_mass_kg"),
        F.round(
            F.avg(
                F.when(
                    F.col("static_fire_date_utc").isNotNull()
                    & (F.col("static_fire_date_utc") <= F.col("date_utc")),
                    delay_hours,
                )
            ),
            2,
        ).alias("average_delay_hours"),
    ).first()
    d = row.asDict()
    total, ok = d["total_launches"], d["total_successful_launches"]
    d["success_rate"] = round(100.0 * ok / total, 2) if total > 0 else None
    return Row(**d)


class AggregationService:
    """Append-only snapshot time series over parquet
    (reference AggregationService, src/aggregations.py:96-474).
    """

    def __init__(self, spark: SparkSession, snapshots_path: str):
        self.spark = spark
        self.path = snapshots_path

    def _exists(self) -> bool:
        return os.path.exists(self.path)

    def snapshots(self) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], LAUNCH_AGGREGATIONS_SCHEMA)
        return read_parquet(self.spark, self.path, schema=LAUNCH_AGGREGATIONS_SCHEMA)

    def append_snapshot(
        self,
        launches: DataFrame,
        snapshot_type: str = "incremental",
        launches_added_in_batch: int = 0,
        run_id: str | None = None,
        updated_at: datetime | None = None,
    ) -> Row:
        """Compute metrics over the CURRENT launches table and append one
        snapshot row (reference _insert_new_aggregation_record,
        aggregations.py:417-465).
        """
        if snapshot_type not in SNAPSHOT_TYPES:
            raise ValueError(f"snapshot_type must be one of {SNAPSHOT_TYPES}")
        m = compute_global_metrics(launches).asDict()
        latest = self.latest()
        now = updated_at or datetime.now(timezone.utc)
        record = {
            "id": (latest["id"] + 1) if latest else 1,
            **m,
            "updated_at": now,
            "last_processed_launch_date": m["latest_launch_date"],
            "snapshot_type": snapshot_type,
            "launches_added_in_batch": launches_added_in_batch,
            "pipeline_run_id": run_id or new_run_id(now),
        }
        # metrics over the launches TABLE are the one Spark job here;
        # the snapshot row itself is run metadata and is appended
        # driver-side (metalog.py — same parquet layout Spark wrote)
        metalog.append_row(self.path, record, metalog.SNAPSHOT_ARROW_SCHEMA)
        return Row(**record)

    def latest(self) -> dict | None:
        """Most recent snapshot: ORDER BY updated_at DESC, id DESC LIMIT 1
        (reference aggregations.py:157-166) — a driver-side read of the
        O(runs)-row series, not a Spark job."""
        return metalog.latest_row(self.path)

    def history(self, limit: int = 10) -> DataFrame:
        """Last N snapshots, newest first (reference aggregations.py:192-234)."""
        return (
            self.snapshots()
            .orderBy(F.col("updated_at").desc(), F.col("id").desc())
            .limit(limit)
        )

    def trends(self) -> DataFrame:
        """Latest-vs-previous deltas via lag() over the snapshot series
        (reference computes this in Python, test_aggregations.py:154-194;
        SURVEY ST7). Unpartitioned window is fine: it runs over the tiny
        snapshot table, never over raw launches.
        """
        w = Window.orderBy(F.col("updated_at").asc(), F.col("id").asc())
        return self.snapshots().select(
            "id",
            "updated_at",
            "snapshot_type",
            "total_launches",
            "success_rate",
            (F.col("total_launches") - F.lag("total_launches").over(w)).alias(
                "launch_count_delta"
            ),
            F.round(F.col("success_rate") - F.lag("success_rate").over(w), 2).alias(
                "success_rate_delta"
            ),
        )
