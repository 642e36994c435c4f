"""Incremental ingestion pipeline (SURVEY §3.1): the reference's
template-method loop (src/ingest.py:32-128) with every data step a
DataFrame job and every sink an idempotent parquet write.

Steps (reference line refs in parens):
1. initial-vs-incremental branch (ingest.py:130-146)
2. change detection via latest-probe compare (ingest.py:211-233,
   database.py:225-271) → early exit
3. watermark read + incremental fetch (ingest.py:235-264), full-fetch
   fallback on source error (ingest.py:266-312)
4. validate + conform (ingest.py:314-357) + payload enrichment
   (api.py:253-283)
5. PK upsert (database.py:133-202)
6. watermark append (database.py:204-223)
7. aggregation snapshot append (aggregations.py:24-94)

Idempotency: re-running with already-seen data upserts the same keys
(no duplicates) and records a 0-insert snapshot — the reference's
replay-safety contract (README.md:216-219).
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.operators.upsert import (
    upsert_parquet,
    upsert_parquet_partitioned,
)
from spacex_data_engineering_pipeline_spark.pipeline import metalog
from spacex_data_engineering_pipeline_spark.plans.aggregations import (
    AggregationService,
    new_run_id,
)
from spacex_data_engineering_pipeline_spark.session import read_parquet
from spacex_data_engineering_pipeline_spark.sources.launches import (
    LaunchSource,
    enrich_with_payload_mass,
    validate_and_conform,
)

EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)  # reference database.py:84


class IncrementalIngestionPipeline:
    def __init__(
        self,
        spark: SparkSession,
        source: LaunchSource,
        payloads: DataFrame,
        launches_path: str,
        state_path: str,
        snapshots_path: str,
        partition_by_year: bool = True,
    ):
        """``partition_by_year=True`` (the default — it is the scale
        layout): the launches table is partitioned on ``launch_year =
        year(date_utc)`` and an incremental batch rewrites only the
        years it touches instead of the whole table (see
        ``upsert_parquet_partitioned``). Readers are unaffected — the
        partition column surfaces as one extra table column and time
        filters partition-prune the scan. ``False`` falls back to the
        layout-agnostic whole-table swap (tiny tables, or when
        cross-partition write atomicity matters more than write cost).
        """
        self.spark = spark
        self.source = source
        self.payloads = payloads
        self.launches_path = launches_path
        self.state_path = state_path
        self.partition_by_year = partition_by_year
        self.aggregations = AggregationService(spark, snapshots_path)

    # -- state -------------------------------------------------------------

    def _table_exists(self) -> bool:
        return os.path.exists(self.launches_path)

    def launches(self) -> DataFrame:
        return read_parquet(self.spark, self.launches_path)

    def _read_state(self) -> tuple[datetime, int]:
        """Watermark (freshest row by (updated_at, id)) + max id in one
        driver-side read of the insert-only state log — run metadata is
        O(runs) rows, so it never earns a Spark job (metalog.py;
        reference database.py:64-87)."""
        wm, max_id = metalog.state_summary(self.state_path)
        return (wm if wm is not None else EPOCH), max_id

    def last_fetched_date(self) -> datetime:
        """Current watermark; epoch default when empty."""
        return self._read_state()[0]

    def _append_watermark(self, wm: datetime, prev_id: int | None = None) -> None:
        if prev_id is None:
            prev_id = self._read_state()[1]
        metalog.append_row(
            self.state_path,
            {
                "id": prev_id + 1,
                "last_fetched_date": wm,
                "updated_at": datetime.now(timezone.utc),
            },
            metalog.STATE_ARROW_SCHEMA,
        )
        # opportunistic checkpointing: past ~256 one-row parts, fold the
        # log so probes stay O(keep_last) listings forever (driver-side,
        # microseconds at this cardinality — never a Spark job)
        import glob as _glob
        import os as _os

        if len(_glob.glob(_os.path.join(self.state_path, "*.parquet"))) > 256:
            metalog.compact(self.state_path, metalog.STATE_ARROW_SCHEMA, keep_last=64)

    # -- change detection ----------------------------------------------------

    def _is_new_data_available(self) -> bool:
        """Latest-probe compare (reference database.py:225-271): new iff
        source latest is strictly later, or same timestamp with a
        different id. On any detection error, assume new data
        (reference ingest.py:228-233 fail-open).
        """
        try:
            # the two latest-probes are independent top-1 jobs; submit
            # them concurrently (Spark job scheduling is thread-safe) so
            # the change check costs one job latency, not two
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                api_fut = pool.submit(lambda: self.source.fetch_latest().collect())
                db_fut = pool.submit(
                    lambda: self.launches()
                    .orderBy(F.col("date_utc").desc(), F.col("launch_id").desc())
                    .limit(1)
                    .collect()
                )
                api_row, db_row = api_fut.result(), db_fut.result()
            if not api_row:
                return False
            api_latest = api_row[0]
            if not db_row:
                return True
            db_latest = db_row[0]
            api_date = _as_utc(api_latest["date_utc"])
            db_date = _as_utc(db_latest["date_utc"])
            if api_date > db_date:
                return True
            return api_date == db_date and api_latest["launch_id"] != db_latest["launch_id"]
        except Exception:
            return True

    # -- batch materialization ----------------------------------------------

    def _validated_batch(self, raw: DataFrame):
        """(persisted valid batch, in-flight stats, row count,
        upsert probe stats) in ONE job.

        The count is a SQL action with the validation observe node
        directly beneath it: the single scan of raw fills the reject
        count + batch-max watermark (accumulators riding the job) and
        pins the batch — with its one frozen ingested_at — in cache for
        every later consumer. Counting VALID itself, not the enriched
        join: enrichment is row-preserving (left join on launch_id) so
        the counts agree, and counting above the join keeps AQE's
        empty-relation propagation from pruning the metrics node when
        the batch is all-rejects.
        """
        valid, stats = validate_and_conform(raw)
        valid = valid.persist()
        try:
            # the upsert's incoming-side probe (distinct keys, partition
            # values) rides the same job — year(date_utc) on VALID equals
            # launch_year on the enriched batch, so the probe costs no
            # extra pass and the enrichment join is never probed
            row = valid.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("launch_id").alias("n_keys"),
                F.collect_set(F.year("date_utc")).alias("parts"),
            ).first()
        except Exception:
            valid.unpersist(blocking=False)  # drop a partially-cached batch
            raise
        probe_stats = (list(row["parts"]), int(row["n_keys"]))
        return valid, stats, int(row["n"]), probe_stats

    # -- run -----------------------------------------------------------------

    def run(self) -> dict:
        t0 = time.perf_counter()
        run_id = new_run_id()
        initial = not self._table_exists()

        if not initial and not self._is_new_data_available():
            return {
                "status": "success",
                "early_exit": True,
                "snapshot_type": None,
                "new_launches": 0,
                "rejected_rows": 0,
                "inserted": 0,
                "pipeline_run_id": run_id,
                "duration_s": round(time.perf_counter() - t0, 3),
            }

        # one state read per run (driver-side): watermark for the fetch
        # window + the id the watermark append will increment
        wm, state_max_id = self._read_state()
        if initial:
            snapshot_type = "initial"
            valid, stats, n_new, probe_stats = self._validated_batch(
                self.source.fetch_all()
            )
        else:
            snapshot_type = "incremental"
            try:
                # the count inside _validated_batch is the materializing
                # action, so a lazy source's read failure surfaces HERE,
                # inside the try — validation itself never throws (try_*
                # conversions), so an exception means the source
                raw = self.source.fetch_after(wm)
                valid, stats, n_new, probe_stats = self._validated_batch(raw)
            except Exception:
                # fallback: full fetch + client-side filter (ST5,
                # reference ingest.py:266-312)
                raw = self.source.fetch_all().filter(
                    F.try_to_timestamp("date_utc") > F.lit(wm)
                )
                valid, stats, n_new, probe_stats = self._validated_batch(raw)
        try:
            rejected = stats.rejected

            # Watermark candidate from the FETCHED batch (valid or not):
            # a batch that is 100% rejects must still advance the
            # watermark, else the same poisoned rows are refetched on
            # every run.
            batch_max = stats.batch_max_date

            if n_new == 0 and not initial:
                if rejected > 0 and batch_max is not None:
                    self._append_watermark(_as_utc(batch_max), state_max_id)
                return {
                    "status": "success",
                    "early_exit": True,
                    "snapshot_type": None,
                    "new_launches": 0,
                    "rejected_rows": rejected,
                    "inserted": 0,
                    "pipeline_run_id": run_id,
                    "duration_s": round(time.perf_counter() - t0, 3),
                }

            # the enrichment join executes exactly ONCE, inside the
            # upsert's write job, from the valid cache: all pre-write
            # probes run against the slim valid batch (probe/probe_stats)
            enriched = enrich_with_payload_mass(valid, self.payloads)
            if self.partition_by_year:
                inserted = upsert_parquet_partitioned(
                    self.spark,
                    self.launches_path,
                    enriched.withColumn("launch_year", F.year("date_utc")),
                    key="launch_id",
                    order_by=[F.col("ingested_at").desc()],
                    partition_col="launch_year",
                    probe=valid.withColumn("launch_year", F.year("date_utc")),
                    probe_stats=probe_stats,
                )
            else:
                inserted = upsert_parquet(
                    self.spark,
                    self.launches_path,
                    enriched,
                    key="launch_id",
                    order_by=[F.col("ingested_at").desc()],
                    probe=valid,
                )
            if batch_max is not None:
                self._append_watermark(_as_utc(batch_max), state_max_id)
            self.aggregations.append_snapshot(
                self.launches(),
                snapshot_type=snapshot_type,
                launches_added_in_batch=inserted,
                run_id=run_id,
            )
            return {
                "status": "success",
                "early_exit": False,
                "snapshot_type": snapshot_type,
                "new_launches": n_new,
                "rejected_rows": rejected,
                "inserted": inserted,
                "pipeline_run_id": run_id,
                "duration_s": round(time.perf_counter() - t0, 3),
            }
        finally:
            valid.unpersist(blocking=False)


def _as_utc(dt) -> datetime:
    if isinstance(dt, str):
        return datetime.fromisoformat(dt.replace("Z", "+00:00"))
    if dt.tzinfo is None:
        return dt.replace(tzinfo=timezone.utc)
    return dt
