"""The layer map: which engine calls each per-layer metric spans, and the
per-layer report of a traced pass.

Layers are named after the engine's modules. Every layer is reported on
every workload; a layer a workload bypasses reads 0 there.
"""

from __future__ import annotations

import os

from workloads import CATALOG_KEYS

FULL = (
    "calls", "self_s", "spark_jobs", "spark_tasks",
    "input_records", "shuffle_records", "output_bytes",
)
# driver-side layers: they never submit a Spark job
LIGHT = ("calls", "self_s")

LAYERS = {
    "pipeline.ingest": FULL,
    "sources.launches": FULL,
    "operators.upsert": FULL,
    "pipeline.metalog": LIGHT,
    "plans.aggregations": FULL,
    "plans.launch_analytics": FULL,
    "streaming.ledger.drain": FULL,
    "streaming.ledger.write_epoch": FULL,
    "streaming.ledger.flip": LIGHT,
    # file listings only: its frames are read by the caller's jobs
    "streaming.ledger.frames": LIGHT,
    "streaming.bm25_sync": FULL,
    "streaming.index_sync": FULL,
    "operators.similarity": FULL,
}
# one layer per catalog key, spanned with its collect
LAYERS.update({f"plans.queries.{key}": FULL for key in CATALOG_KEYS})

RATIOS = (
    "operators.upsert.rows_rewritten_per_row_applied",
    "plans.aggregations.input_records_per_snapshot",
    "operators.similarity.shuffle_records_per_changed_id",
    "streaming.bm25_sync.input_records_per_query",
    "streaming.ledger.frames.epochs_per_call",
)


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    unit = {"calls": "count", "self_s": "s", "output_bytes": "bytes"}
    out = [
        (f"{layer}.{c}", unit.get(c, "count"))
        for layer, counters in LAYERS.items()
        for c in counters
    ]
    out += [(r, "ratio") for r in RATIOS]
    out.append(("trace.wall_s", "s"))
    return out


def _frames_epochs(span, args, kwargs) -> None:
    """Epochs a ``ledger_frames(spark, root, table, ptr, epoch)`` call
    reads: the live epoch dirs in range, plus the compact dataset."""
    from spacex_data_engineering_pipeline_spark.streaming.ledger import (
        compact_path,
        live_epochs,
    )

    _, root, table, ptr, epoch = args[:5]
    cu = int(ptr.get("compact_upto", 0) or 0)
    lo = cu if cu > 0 else -1
    n = sum(1 for e in live_epochs(root, table) if lo < e <= epoch)
    n += int(cu > 0 and os.path.isdir(compact_path(root, table, cu)))
    span.extra["epochs"] = n


def install(tracer) -> None:
    """Patch every spanned engine call, where its callers look it up."""
    from spacex_data_engineering_pipeline_spark.operators import similarity
    from spacex_data_engineering_pipeline_spark.pipeline import ingest, metalog
    from spacex_data_engineering_pipeline_spark.plans import aggregations
    from spacex_data_engineering_pipeline_spark.sources import launches
    from spacex_data_engineering_pipeline_spark.streaming import (
        bm25_sync,
        index_sync,
        ledger,
    )

    w = tracer.wrap
    pipe = ingest.IncrementalIngestionPipeline
    w(pipe, "run", "pipeline.ingest")
    # validation's one materializing job (count + observe) runs here
    w(pipe, "_validated_batch", "sources.launches")
    for name in ("fetch_all", "fetch_latest", "fetch_after"):
        w(launches.LocalLaunchSource, name, "sources.launches")
    w(ingest, "validate_and_conform", "sources.launches")
    w(ingest, "enrich_with_payload_mass", "sources.launches")
    w(ingest, "upsert_parquet_partitioned", "operators.upsert")
    w(ingest, "upsert_parquet", "operators.upsert")
    for name in ("append_row", "read_rows", "latest_row", "state_summary", "compact"):
        w(metalog, name, "pipeline.metalog")
    w(aggregations.AggregationService, "append_snapshot", "plans.aggregations")

    led = ledger.EpochLedger
    original_drain = led.drain

    def drain(self, spark, source_path, schema, checkpoint_dir, fold, *a, **k):
        arm = "streaming." + fold.__module__.rsplit(".", 1)[-1]

        def spanned_fold(ptr, epoch, batch_df):
            return tracer.call(arm, fold, ptr, epoch, batch_df)

        return tracer.call(
            "streaming.ledger.drain", original_drain,
            self, spark, source_path, schema, checkpoint_dir, spanned_fold, *a, **k,
        )

    led.drain = drain
    tracer._patches.append((led, "drain", original_drain))
    w(led, "write_epoch", "streaming.ledger.write_epoch")
    w(led, "flip", "streaming.ledger.flip")
    for mod in (ledger, bm25_sync, index_sync):
        attr = "ledger_frames" if mod is ledger else "_ledger_frames"
        w(mod, attr, "streaming.ledger.frames", on_call=_frames_epochs)
    for name in ("knn_graph_apply_cdc", "knn_graph_upsert", "knn_graph_delete"):
        w(similarity, name, "operators.similarity")


def report(tracer, wl, ctx, book) -> dict:
    rows = tracer.layers()
    zero = {"calls": 0, "self_s": 0.0, "work": None, "extra": {}}
    out = {}
    for name, unit in metric_names():
        out[name] = {"value": 0, "unit": unit}

    def counter(layer: str, c: str):
        r = rows.get(layer, zero)
        if c in ("calls", "self_s"):
            return r[c]
        return getattr(r["work"], c) if r["work"] is not None else 0

    for layer, counters in LAYERS.items():
        for c in counters:
            out[f"{layer}.{c}"]["value"] = counter(layer, c)

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0

    denominators = wl.ratio_denominators(ctx)
    frames = rows.get("streaming.ledger.frames", zero)
    out["operators.upsert.rows_rewritten_per_row_applied"]["value"] = ratio(
        counter("operators.upsert", "output_records"),
        denominators.get("rows_applied", 0),
    )
    out["plans.aggregations.input_records_per_snapshot"]["value"] = ratio(
        counter("plans.aggregations", "input_records"),
        denominators.get("snapshots", 0),
    )
    out["operators.similarity.shuffle_records_per_changed_id"]["value"] = ratio(
        counter("operators.similarity", "shuffle_records"),
        denominators.get("changed_ids", 0),
    )
    out["streaming.bm25_sync.input_records_per_query"]["value"] = ratio(
        counter("streaming.bm25_sync", "input_records"),
        denominators.get("bm25_queries", 0),
    )
    out["streaming.ledger.frames.epochs_per_call"]["value"] = ratio(
        frames["extra"].get("epochs", 0), frames["calls"]
    )
    out["trace.wall_s"]["value"] = book.pass_s[-1]
    return out
