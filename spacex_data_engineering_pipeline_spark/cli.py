"""CLI entry points mirroring the reference's executables
(SURVEY §3.1 ``python src/ingest.py`` and §3.3
``python src/test_aggregations.py``):

    python -m spacex_data_engineering_pipeline_spark.cli ingest \
        --source-parquet raw_launches.parquet \
        --payloads-parquet payloads.parquet \
        --warehouse ./warehouse

    python -m spacex_data_engineering_pipeline_spark.cli aggregations \
        --warehouse ./warehouse [--limit 10]

The ingest command prints the same observability dict the reference's
pipeline returns (status, counts, early_exit, duration); aggregations
prints the latest snapshot, history, and trend deltas.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from spacex_data_engineering_pipeline_spark.session import get_spark, read_parquet


def _warehouse_paths(warehouse: str) -> dict[str, str]:
    return {
        "launches_path": os.path.join(warehouse, "raw_launches"),
        "state_path": os.path.join(warehouse, "ingestion_state"),
        "snapshots_path": os.path.join(warehouse, "launch_aggregations"),
    }


def cmd_ingest(args: argparse.Namespace) -> int:
    from spacex_data_engineering_pipeline_spark.pipeline.ingest import (
        IncrementalIngestionPipeline,
    )
    from spacex_data_engineering_pipeline_spark.sources.launches import LocalLaunchSource

    spark = get_spark(app_name="ingest-cli")
    spark.sparkContext.setLogLevel("ERROR")
    source = LocalLaunchSource.from_parquet(spark, args.source_parquet)
    payloads = read_parquet(spark, args.payloads_parquet)
    pipeline = IncrementalIngestionPipeline(
        spark, source, payloads,
        partition_by_year=args.partition_by_year,
        **_warehouse_paths(args.warehouse),
    )
    result = pipeline.run()
    print(json.dumps(result, default=str))
    return 0 if result["status"] == "success" else 1


def cmd_aggregations(args: argparse.Namespace) -> int:
    from spacex_data_engineering_pipeline_spark.plans.aggregations import (
        AggregationService,
    )

    spark = get_spark(app_name="aggregations-cli")
    spark.sparkContext.setLogLevel("ERROR")
    svc = AggregationService(spark, _warehouse_paths(args.warehouse)["snapshots_path"])
    latest = svc.latest()
    if latest is None:
        print(json.dumps({"error": "no snapshots yet"}))
        return 1
    print("latest:", json.dumps(latest, default=str))
    print("history:")
    for row in svc.history(args.limit).collect():
        print("  ", json.dumps(row.asDict(), default=str))
    print("trends:")
    for row in svc.trends().orderBy("id", ascending=False).limit(args.limit).collect():
        print("  ", json.dumps(row.asDict(), default=str))
    return 0


def cmd_corpus(args: argparse.Namespace) -> int:
    """Batch corpus prep over a documents parquet: scrub → gate → exact
    dedup (content fingerprint) → write clean table (+ optional shard
    export). One declarative plan end to end — the scrub and scores are
    codegen expressions, the dedup is one fixed-width-key shuffle."""
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.functions.text import (
        quality_score,
        scrub_pii,
        token_count,
    )
    from spacex_data_engineering_pipeline_spark.operators.dedup import exact_dedup
    from spacex_data_engineering_pipeline_spark.operators.shard import export_shards

    spark = get_spark(app_name="corpus-cli")
    spark.sparkContext.setLogLevel("ERROR")
    docs = read_parquet(spark, args.documents_parquet)
    scrubbed, counts = scrub_pii(F.col("text"))
    prepared = docs.withColumn("text", scrubbed).withColumn(
        "quality_score", quality_score(F.col("text"))
    ).withColumn("n_tokens", token_count(F.col("text")).cast("long"))
    for kind, cnt in counts.items():
        prepared = prepared.withColumn(f"n_scrubbed_{kind}", cnt)
    gated = prepared.filter(
        (F.col("quality_score") >= args.min_quality)
        & (F.col("n_tokens") >= args.min_tokens)
    )
    clean = exact_dedup(gated, ["text"], [F.col("doc_id").asc()])
    clean_path = os.path.join(args.out, "clean")
    clean.write.mode("overwrite").parquet(clean_path)
    out = read_parquet(spark, clean_path)
    stats = {
        "input_docs": docs.count(),
        "kept_docs": out.count(),
        "clean_path": clean_path,
    }
    if args.shards > 0:
        shards_path = os.path.join(args.out, "shards")
        export_shards(out, "doc_id", args.shards, shards_path)
        stats["shards_path"] = shards_path
        stats["n_shards"] = args.shards
    print(json.dumps(stats))
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Maintenance: compact a fragmented parquet table (flat or
    partitioned) toward the target file size; prints before/after file
    counts. Idempotent — already-compact leaves are untouched."""
    from spacex_data_engineering_pipeline_spark.operators.compact import compact_parquet

    spark = get_spark(app_name="compact-cli")
    spark.sparkContext.setLogLevel("ERROR")
    stats = compact_parquet(
        spark,
        args.table_path,
        target_file_bytes=args.target_file_mb * 1024 * 1024,
        min_files_to_compact=args.min_files,
    )
    print(json.dumps(stats))
    return 0


def cmd_retention(args: argparse.Namespace) -> int:
    """Maintenance: drop rows older than the cutoff (retention window /
    right-to-erasure). With --partition-col only the affected partitions
    are rewritten; prints the deleted-row count."""
    from spacex_data_engineering_pipeline_spark.operators.delete import retention_delete

    spark = get_spark(app_name="retention-cli")
    spark.sparkContext.setLogLevel("ERROR")
    deleted = retention_delete(
        spark,
        args.table_path,
        time_col=args.time_col,
        cutoff=args.cutoff,
        partition_col=args.partition_col,
    )
    print(json.dumps({"deleted": deleted}))
    return 0


def cmd_checksum(args: argparse.Namespace) -> int:
    """Integrity: portable order-insensitive table fingerprint —
    per-partition (n_rows, checksum) if --partition-col is given, one
    global pair otherwise. Any engine computing the same md5-coin sum
    over the same canonical columns reproduces it (operators/repair.py)."""
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators.repair import (
        partition_checksums,
    )

    spark = get_spark(app_name="checksum-cli")
    spark.sparkContext.setLogLevel("ERROR")
    df = read_parquet(spark, args.table_path)
    cols = args.columns.split(",")
    canonical = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    if args.partition_col:
        out = partition_checksums(df, args.partition_col, canonical)
        rows = [
            {
                args.partition_col: r[args.partition_col],
                "n_rows": r["n_rows"],
                "checksum": str(r["checksum"]),
            }
            for r in out.collect()
        ]
        print(json.dumps(rows, default=str))
    else:
        coin = F.conv(F.substring(F.md5(canonical), 1, 8), 16, 10).cast("bigint")
        r = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(coin.cast("decimal(38,0)")).alias("checksum"),
        ).collect()[0]
        print(json.dumps({"n_rows": r["n_rows"], "checksum": str(r["checksum"])}))
    return 0


def cmd_repair(args: argparse.Namespace) -> int:
    """Integrity: anti-entropy reconciliation — make the target table
    equal the source by rewriting ONLY partitions whose portable
    checksums diverge (operators/repair.py)."""
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators.repair import repair_table

    spark = get_spark(app_name="repair-cli")
    spark.sparkContext.setLogLevel("ERROR")
    source = read_parquet(spark, args.source_path)
    cols = args.columns.split(",")
    canonical = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    out = repair_table(
        spark, source, args.target_path, args.partition_col, canonical
    )
    print(json.dumps(out, default=str))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="spacex_data_engineering_pipeline_spark")
    sub = parser.add_subparsers(dest="command", required=True)

    p_ing = sub.add_parser("ingest", help="run the incremental ingestion pipeline")
    p_ing.add_argument("--source-parquet", required=True,
                       help="parquet of raw launches (API-shaped, ISO date strings)")
    p_ing.add_argument("--payloads-parquet", required=True)
    p_ing.add_argument("--warehouse", required=True,
                       help="directory holding raw_launches / ingestion_state / launch_aggregations")
    p_ing.add_argument("--partition-by-year", action=argparse.BooleanOptionalAction,
                       default=True,
                       help="year-partitioned launches table (the default — "
                            "incremental runs rewrite only the years the batch "
                            "touches); --no-partition-by-year selects the flat "
                            "whole-table-swap layout")
    p_ing.set_defaults(fn=cmd_ingest)

    p_cor = sub.add_parser(
        "corpus",
        help="corpus prep: PII scrub, quality/length gate, exact dedup, "
             "deterministic shard export",
    )
    p_cor.add_argument("--documents-parquet", required=True,
                       help="parquet with (doc_id, text, ...) columns")
    p_cor.add_argument("--out", required=True, help="output directory")
    p_cor.add_argument("--min-quality", type=float, default=0.3)
    p_cor.add_argument("--min-tokens", type=int, default=5)
    p_cor.add_argument("--shards", type=int, default=0,
                       help="also export N deterministic shards (0 = skip)")
    p_cor.set_defaults(fn=cmd_corpus)

    p_cmp = sub.add_parser("compact", help="compact a fragmented parquet table")
    p_cmp.add_argument("--table-path", required=True)
    p_cmp.add_argument("--target-file-mb", type=int, default=128)
    p_cmp.add_argument("--min-files", type=int, default=4)
    p_cmp.set_defaults(fn=cmd_compact)

    p_ret = sub.add_parser(
        "retention", help="delete rows older than a cutoff (partition-pruned)"
    )
    p_ret.add_argument("--table-path", required=True)
    p_ret.add_argument("--time-col", required=True)
    p_ret.add_argument("--cutoff", required=True,
                       help="timestamp literal, e.g. '1996-01-01 00:00:00'")
    p_ret.add_argument("--partition-col", default=None,
                       help="table partition column for the pruned rewrite path")
    p_ret.set_defaults(fn=cmd_retention)

    p_chk = sub.add_parser(
        "checksum", help="portable order-insensitive table fingerprint"
    )
    p_chk.add_argument("--table-path", required=True)
    p_chk.add_argument("--columns", required=True,
                       help="comma-separated canonical columns (stable "
                            "renderings only: keys, strings, integer cents)")
    p_chk.add_argument("--partition-col", default=None,
                       help="emit per-partition (n_rows, checksum) rows")
    p_chk.set_defaults(fn=cmd_checksum)

    p_rep = sub.add_parser(
        "repair",
        help="anti-entropy: rewrite only partitions diverging from source",
    )
    p_rep.add_argument("--source-path", required=True)
    p_rep.add_argument("--target-path", required=True)
    p_rep.add_argument("--partition-col", required=True)
    p_rep.add_argument("--columns", required=True)
    p_rep.set_defaults(fn=cmd_repair)

    p_agg = sub.add_parser("aggregations", help="inspect snapshots, history, trends")
    p_agg.add_argument("--warehouse", required=True)
    p_agg.add_argument("--limit", type=int, default=10)
    p_agg.set_defaults(fn=cmd_aggregations)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
