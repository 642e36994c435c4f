"""Incremental materialized-view maintenance over parquet.

Keeps a grouped-aggregate view (COUNT / SUM / derived AVG) in sync
with a fact table by folding in batch deltas instead of re-scanning
the fact table — the capability that turns a 100 TB nightly
recompute into a batch-sized merge. Rows may carry a sign (+1 insert,
-1 retraction), so updates and deletes maintain exactly (the
DBSP / Materialize delta model restricted to abelian aggregates:
COUNT and SUM compose under +; AVG is derived at read; MIN/MAX are
NOT maintainable under retraction and are deliberately unsupported).

Storage is GENERATIONAL with an atomic pointer commit (the Delta
transaction-log pattern reduced to one file): each applied delta
writes a new ``g<k>`` generation directory — merged bucket partitions
materialized, untouched bucket files HARDLINKED from the previous
generation (O(1) per file, no data copy) — then commits by atomically
replacing the ``_current.json`` pointer (rename(2) is atomic on POSIX).
Consequences, all load-bearing at scale:

- crash anywhere before the pointer flip leaves the view exactly at
  the previous generation — readers never see a partial merge and no
  repair pass is needed;
- the pointer records the last applied ``batch_id``, so replaying a
  delta (streaming restarts, at-least-once upstreams) is a detected
  no-op — EXACTLY-ONCE view maintenance on top of an at-least-once
  feed;
- previous generations remain readable until garbage-collected:
  ``read_matview(..., at_gen=k)`` is aggregate time travel for free.

Scale shape: a delta batch first partially aggregates (map-side
combine) to |distinct groups in batch| rows; ONLY the hash-bucket
partitions (``__bucket = pmod(xxhash64(keys), n_buckets)``) containing
those groups are read (partition-pruned), merged (full-outer,
null-safe keys) and rewritten. Per-batch cost is
O(|delta| + |touched buckets| + hardlinks), never O(view), never
O(fact). Groups retracted to zero rows disappear; buckets emptied
entirely are simply absent from the new generation.

Reference parity: the reference recomputes its aggregation snapshots
from the full table every run (src/aggregation_service.py — each
``get_*_metrics`` is a full-table scan); this operator is the §2.11
north-star upgrade of that surface.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.session import read_parquet
from spacex_data_engineering_pipeline_spark.storage import publish_json

_BUCKET = "__bucket"
_ROWS = "__rows"
_POINTER = "_current.json"


def _check_measures(measures: dict[str, tuple[str, str | None]]) -> None:
    for out, (kind, src) in measures.items():
        if kind not in ("count", "sum"):
            raise ValueError(
                f"measure {out!r}: kind {kind!r} not maintainable under "
                "retraction (only 'count' and 'sum' are abelian)"
            )
        if kind == "sum" and src is None:
            raise ValueError(f"measure {out!r}: sum needs a source column")


def _signed_agg(
    df: DataFrame,
    group_cols: list[str],
    measures: dict[str, tuple[str, str | None]],
    sign_col: str | None,
) -> DataFrame:
    """Partial-aggregate a (possibly signed) batch to one row per group:
    count → SUM(sign), sum(x) → SUM(sign*x). Runs map-side combine
    before any shuffle (plain groupBy + sum)."""
    sign = F.col(sign_col).cast("long") if sign_col else F.lit(1).cast("long")
    aggs = [F.sum(sign).alias(_ROWS)]
    for out, (kind, src) in measures.items():
        if kind == "count":
            aggs.append(F.sum(sign).alias(out))
        else:
            aggs.append(F.sum(sign.cast("double") * F.col(src)).alias(out))
    return df.groupBy(*group_cols).agg(*aggs)


def _with_bucket(df: DataFrame, group_cols: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        _BUCKET, F.pmod(F.xxhash64(*group_cols), F.lit(n_buckets)).cast("int")
    )


def _gen_dir(path: str, gen: int) -> str:
    return os.path.join(path, f"g{gen:07d}")


def _read_pointer(path: str) -> dict:
    with open(os.path.join(path, _POINTER)) as f:
        return json.load(f)


def _commit_pointer(path: str, gen: int, batch_id: int | None) -> None:
    publish_json(
        os.path.join(path, _POINTER), {"gen": gen, "last_batch_id": batch_id}
    )


def _hardlink_tree(src: str, dst: str) -> None:
    """Recreate ``src``'s directory structure under ``dst`` with every
    file hardlinked — O(1) per file, zero bytes copied."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        target = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(target, exist_ok=True)
        for fn in files:
            os.link(os.path.join(root, fn), os.path.join(target, fn))


def _write_gen(df: DataFrame, gdir: str) -> None:
    """Write a generation dir partitioned by bucket. An EMPTY dataset
    would leave a partitioned dir with no files (unreadable — no schema
    to discover), so it is rewritten flat: one zero-row file whose
    footer carries the schema, with ``__bucket`` as a plain column
    (nothing to prune in an empty view anyway)."""
    df.repartition(_BUCKET).write.partitionBy(_BUCKET).mode("overwrite").parquet(gdir)
    if not any(e.startswith(f"{_BUCKET}=") for e in os.listdir(gdir)):
        df.coalesce(1).write.mode("overwrite").parquet(gdir)


def create_matview(
    spark: SparkSession,
    path: str,
    base_df: DataFrame,
    group_cols: list[str],
    measures: dict[str, tuple[str, str | None]],
    n_buckets: int = 16,
) -> None:
    """Materialize generation 0 from ``base_df`` (all rows sign +1).
    An empty ``base_df`` seeds an empty view — the streaming-sync
    bootstrap path."""
    _check_measures(measures)
    os.makedirs(path, exist_ok=True)
    agg = _with_bucket(_signed_agg(base_df, group_cols, measures, None), group_cols, n_buckets)
    g0 = _gen_dir(path, 0)
    shutil.rmtree(g0, ignore_errors=True)
    _write_gen(agg, g0)
    _commit_pointer(path, 0, None)


def apply_delta(
    spark: SparkSession,
    path: str,
    delta_df: DataFrame,
    group_cols: list[str],
    measures: dict[str, tuple[str, str | None]],
    sign_col: str | None = None,
    n_buckets: int = 16,
    batch_id: int | None = None,
    keep_gens: int = 2,
) -> dict:
    """Fold a delta batch into the view as a new generation.

    ``sign_col`` (if given) holds +1/-1 per row; omitted means pure
    inserts. ``batch_id`` (monotonically increasing, e.g. a streaming
    epoch id) makes application EXACTLY-ONCE: a batch at or below the
    committed ``last_batch_id`` is skipped. Returns
    {"applied": bool, "gen": int, "touched_buckets": int}.
    """
    _check_measures(measures)
    ptr = _read_pointer(path)
    if batch_id is not None and ptr["last_batch_id"] is not None and batch_id <= ptr["last_batch_id"]:
        return {"applied": False, "gen": ptr["gen"], "touched_buckets": 0}

    cur = _gen_dir(path, ptr["gen"])
    nxt_gen = ptr["gen"] + 1
    nxt = _gen_dir(path, nxt_gen)
    shutil.rmtree(nxt, ignore_errors=True)  # debris from a crashed attempt

    delta_agg = _with_bucket(
        _signed_agg(delta_df, group_cols, measures, sign_col), group_cols, n_buckets
    ).persist()
    touched = [r[0] for r in delta_agg.select(_BUCKET).distinct().collect()]
    if not touched:
        delta_agg.unpersist()
        # still commit the batch id so a replayed empty batch stays a no-op
        if batch_id is not None:
            _commit_pointer(path, ptr["gen"], batch_id)
        return {"applied": True, "gen": ptr["gen"], "touched_buckets": 0}
    assert all(isinstance(b, int) for b in touched)

    view = read_parquet(spark, cur).filter(F.col(_BUCKET).isin(touched))
    measure_cols = [_ROWS, *measures.keys()]
    cond = None
    for c in group_cols:
        e = view[c].eqNullSafe(delta_agg[c])
        cond = e if cond is None else (cond & e)
    merged = view.alias("v").join(delta_agg.alias("d"), cond, "full_outer").select(
        *[F.coalesce(F.col(f"v.{c}"), F.col(f"d.{c}")).alias(c) for c in group_cols],
        F.coalesce(F.col(f"v.{_BUCKET}"), F.col(f"d.{_BUCKET}")).alias(_BUCKET),
        *[
            (
                F.coalesce(F.col(f"v.{m}"), F.lit(0) if m == _ROWS else F.lit(0.0))
                + F.coalesce(F.col(f"d.{m}"), F.lit(0) if m == _ROWS else F.lit(0.0))
            ).alias(m)
            for m in measure_cols
        ],
    ).filter(F.col(_ROWS) != 0)
    for out, (kind, _) in measures.items():
        if kind == "count":
            merged = merged.withColumn(out, F.col(out).cast("long"))
    merged = merged.withColumn(_ROWS, F.col(_ROWS).cast("long"))

    stage = nxt + "._staging"
    shutil.rmtree(stage, ignore_errors=True)
    _write_gen(merged, stage)

    # untouched buckets ride into the new generation as hardlinks
    touched_names = {f"{_BUCKET}={b}" for b in touched}
    for entry in os.listdir(cur):
        if entry.startswith(f"{_BUCKET}=") and entry not in touched_names:
            _hardlink_tree(os.path.join(cur, entry), os.path.join(stage, entry))

    os.replace(stage, nxt)  # generation complete (still uncommitted)
    _commit_pointer(path, nxt_gen, batch_id)  # THE commit point
    delta_agg.unpersist()

    # GC: retain keep_gens generations in total (current included)
    floor = nxt_gen - max(keep_gens, 1) + 1
    for entry in os.listdir(path):
        if entry.startswith("g") and entry[1:].isdigit() and int(entry[1:]) < floor:
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
    return {"applied": True, "gen": nxt_gen, "touched_buckets": len(touched)}


def read_matview(
    spark: SparkSession,
    path: str,
    avg_of: dict[str, tuple[str, str]] | None = None,
    at_gen: int | None = None,
) -> DataFrame:
    """Read the view (internal columns dropped). ``at_gen`` reads a
    retained previous generation — aggregate time travel. ``avg_of``
    derives ratio measures at read time: out_col -> (sum_col, count_col)."""
    gen = _read_pointer(path)["gen"] if at_gen is None else at_gen
    gdir = _gen_dir(path, gen)
    if not os.path.isdir(gdir):
        raise FileNotFoundError(
            f"generation {gen} not on disk (garbage-collected or never written)"
        )
    df = read_parquet(spark, gdir)
    out = df.drop(_BUCKET, _ROWS)
    if avg_of:
        for out_col, (s, c) in avg_of.items():
            out = out.withColumn(out_col, F.col(s) / F.col(c))
    return out


def current_generation(path: str) -> dict:
    """The committed pointer: {"gen": int, "last_batch_id": int|None}."""
    return _read_pointer(path)
