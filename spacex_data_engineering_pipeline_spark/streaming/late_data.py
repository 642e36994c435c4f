"""Late-data quarantine: route late rows to a side sink instead of
silently dropping them.

Every watermark-gated operator in Structured Streaming DROPS rows
whose event time is older than the watermark — correct for state
bounding, but the rows vanish without a trace. Production ingests
want the third option: keep the pipeline's watermark semantics AND
capture what fell behind it (for backfill, alerting, or a slow-path
re-merge). The engine has no built-in for this; ``run_late_split``
implements it as a foreachBatch router with an explicit high-watermark
ledger.

Determinism/replay contract (what makes this safe under checkpoint
replays AND full re-drains):
- routing for batch N uses the high watermark derived from batches
  < N only (Spark's own semantics: the watermark a batch sees was
  computed from prior batches);
- the ledger stores one entry PER BATCH ID, so a replayed batch
  recomputes the SAME prior-watermark and routes identically;
- each batch writes ``batch=<id>`` subdirectories with overwrite —
  a replayed batch replaces its own output instead of appending
  duplicates (the classic foreachBatch idempotent-sink layout; the
  batch id surfaces as a partition column on read).

Scale: the ledger is O(batches) driver-side JSON (KiB); the split is
one codegen'd filter each way — no shuffle, no state store. At 100 TB
the quarantine side is tiny by construction (it's the tail that missed
the watermark) and lands partitioned by batch for cheap re-merge.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.storage import publish_json


def _load_ledger(path: str) -> dict[int, int]:
    try:
        with open(path) as f:
            return {int(k): int(v) for k, v in json.load(f).items()}
    except (OSError, ValueError):
        return {}


def _store_ledger(path: str, ledger: dict[int, int]) -> None:
    publish_json(path, {str(k): v for k, v in ledger.items()})


def run_late_split(
    spark: SparkSession,
    events_stream: DataFrame,
    event_time_col: str,
    delay_seconds: int,
    on_time_path: str,
    late_path: str,
    checkpoint_dir: str,
    ledger_path: str,
) -> None:
    """Drain all available batches (AvailableNow), appending on-time
    rows under ``on_time_path`` and late rows (event time older than
    the high watermark established by PRIOR batches) under
    ``late_path``, each as overwrite-idempotent ``batch=<id>`` dirs.
    """

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        ledger = _load_ledger(ledger_path)
        prior = [v for k, v in ledger.items() if k < int(batch_id)]
        hw_us = max(prior) if prior else None

        from spacex_data_engineering_pipeline_spark.streaming.event_time import (
            instant_expr,
        )

        # session-independent epoch micros: ledger entries written under
        # one session timezone must mean the same thing under another
        ts_us = F.unix_micros(instant_expr(batch_df, event_time_col))
        late_pred = F.lit(False) if hw_us is None else ts_us < F.lit(hw_us)
        batch_df = batch_df.persist()
        try:
            batch_df.filter(~late_pred).write.mode("overwrite").parquet(
                os.path.join(on_time_path, f"batch={int(batch_id)}")
            )
            batch_df.filter(late_pred).write.mode("overwrite").parquet(
                os.path.join(late_path, f"batch={int(batch_id)}")
            )
            row = batch_df.agg(F.max(ts_us).alias("m")).first()
        finally:
            batch_df.unpersist()
        batch_max = row["m"]
        new_hw = (
            max(v for v in (hw_us, batch_max - delay_seconds * 1_000_000) if v is not None)
            if batch_max is not None
            else hw_us
        )
        if new_hw is not None:
            ledger[int(batch_id)] = int(new_hw)
            _store_ledger(ledger_path, ledger)

    q = (
        events_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
