"""Primary-key upsert over parquet (SURVEY S7).

The reference upserts with one multi-row ``INSERT ... ON CONFLICT
(launch_id) DO UPDATE`` transaction (src/database.py:133-202). Spark's
equivalent on plain parquet is read → unionByName → per-key top-1 window
dedup → a staged write swapped in by ``storage.swap_dir``. With a
transactional table format (Delta/Iceberg) this whole module collapses
to ``MERGE INTO``; the interface here is format-agnostic so swapping
the implementation doesn't touch callers.

Scale notes:
- the window partitions by the PK: one hash shuffle, AQE-skew-safe;
- ``upsert_parquet`` rewrites the full table — correct-but-heavy; it
  exists as the layout-agnostic fallback and the tiny-table path;
- ``upsert_parquet_partitioned`` is the scale path: the table is
  partitioned on a time-derived column and an incremental batch
  rewrites ONLY the partitions it touches (dynamic partition
  overwrite). A 100 TB table with year partitions and a one-month
  incremental batch rewrites ~1 partition, not the table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.session import read_parquet
from spacex_data_engineering_pipeline_spark.storage import heal_swaps, swap_dir


def _partition_dir_names(
    spark: SparkSession, values: list, field, scratch_path: str
) -> set[str]:
    """Spark-encoded partition dir names for the distinct partition
    ``values`` of column ``field`` (the table's StructField).

    Deleting a zero-survivor partition dir needs its ON-DISK name. A
    Python f-string of the collected value is wrong for anything Spark
    escapes via ``escapePathName`` (':', '=', '%', spaces) or formats
    differently (date/timestamp partitions) — the rmtree would target a
    nonexistent path and the stale partition would silently survive. So
    ask Spark itself: write the (metadata-sized) value set partitioned
    by the column and read back the directory names it produced. Using
    the table's own StructField makes the round-trip byte-exact with
    what Spark wrote for the real table.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("__x", T.IntegerType()), T.StructField(field.name, field.dataType)]
    )
    shutil.rmtree(scratch_path, ignore_errors=True)
    spark.createDataFrame(
        [(1, v) for v in values], schema
    ).coalesce(1).write.partitionBy(field.name).mode("overwrite").parquet(scratch_path)
    prefix = f"{field.name}="
    names = {e for e in os.listdir(scratch_path) if e.startswith(prefix)}
    shutil.rmtree(scratch_path, ignore_errors=True)
    return names


def _swap_in_partitions(
    spark: SparkSession, table_path: str, tmp_path: str, field, affected: list
) -> None:
    """Move every staged ``<field>=...`` dir from ``tmp_path`` into the
    table (one ``storage.swap_dir`` each), then drop the ``affected``
    partitions the staged write left with no rows — their stale rows
    would survive otherwise. Commit is per partition: a crash mid-loop
    leaves a prefix of partitions updated, the guarantee dynamic
    partition overwrite gives; cross-partition atomicity needs a
    transactional table format."""
    survivors = set()
    for entry in os.listdir(tmp_path):
        if entry.startswith(f"{field.name}="):  # not _SUCCESS and friends
            survivors.add(entry)
            swap_dir(os.path.join(table_path, entry), os.path.join(tmp_path, entry))
    shutil.rmtree(tmp_path, ignore_errors=True)
    # Dir names come from Spark's own encoder (never an f-string of the
    # value — see _partition_dir_names), and only when a drop is pending.
    if len(survivors) < len(affected):
        affected_dirs = _partition_dir_names(
            spark, affected, field, table_path.rstrip("/") + "__dirprobe"
        )
        for entry in affected_dirs - survivors:
            shutil.rmtree(os.path.join(table_path, entry), ignore_errors=True)


def merge_dedup(
    existing: DataFrame | None, incoming: DataFrame, key: str,
    order_by: list[Column] | None,
    evolve_schema: bool = False,
) -> DataFrame:
    """union + per-key top-1: the relational core of the upsert.

    ``order_by`` decides the survivor (typically freshest ingested_at
    first → incoming rows replace matched existing rows, reference
    ON CONFLICT DO UPDATE semantics). ``None`` means "incoming wins
    unconditionally" (SQL MERGE's UPDATE SET *): a plan-internal side
    marker orders the window and is dropped before the result surfaces,
    so it never reaches the written table.

    ``evolve_schema=True`` permits additive drift between the sides
    (the Delta ``mergeSchema`` analog): columns present on only one
    side survive with NULLs filled on the other — a new telemetry field
    appears on incoming rows without a table migration, and a column
    the producer dropped keeps its historical values. OFF by default:
    silent drift on a mismatched batch is usually a bug, and the
    strict union raises it immediately.
    """
    missing_ok = bool(evolve_schema)

    def _union(a: DataFrame, b: DataFrame) -> DataFrame:
        return a.unionByName(b, allowMissingColumns=missing_ok)

    if order_by is None:
        incoming = incoming.withColumn("__src", F.lit(1))
        if existing is not None:
            existing = existing.withColumn("__src", F.lit(0))
        unioned = incoming if existing is None else _union(existing, incoming)
        w = Window.partitionBy(key).orderBy(F.col("__src").desc())
        return (
            unioned.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__src")
        )
    unioned = incoming if existing is None else _union(existing, incoming)
    w = Window.partitionBy(key).orderBy(*order_by)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_parquet(
    spark: SparkSession,
    table_path: str,
    incoming: DataFrame,
    key: str,
    order_by: list[Column] | None,
    probe: DataFrame | None = None,
    evolve_schema: bool = False,
) -> int:
    """Upsert ``incoming`` into the parquet table at ``table_path``;
    returns the number of NEW keys inserted (the reference reports this
    via count-before/after around the transaction, database.py:164-190).

    ``probe``: optional cheaper DataFrame with the same ``key`` values
    as ``incoming`` (e.g. the slim validated batch an enrichment join
    was built from); the insert-count probe runs against it so the full
    incoming plan executes only once, inside the write.
    """
    tmp_path = table_path.rstrip("/") + "__tmp_upsert"
    # Crash recovery: a verb that died inside a swap of this table left
    # it parked aside with nothing at table_path. Restore it FIRST —
    # otherwise this run would treat the upsert as an initial load and
    # silently orphan every prior row.
    heal_swaps(table_path)

    exists = os.path.exists(table_path)
    existing = read_parquet(spark, table_path) if exists else None
    keyed = (probe if probe is not None else incoming).select(key).distinct()
    if exists:
        # new-key count via anti-join probe, NOT count-before/count-after
        # full-table scans: one batch-sized job instead of two table-sized
        # ones (the table invariant — one row per key — makes them equal)
        inserted = keyed.join(existing, key, "left_anti").count()
    else:
        inserted = keyed.count()

    merged = merge_dedup(existing, incoming, key, order_by, evolve_schema)

    # Break lineage from the path we're about to replace: write to a
    # sibling tmp dir, then ``storage.swap_dir`` it in — a crash inside
    # the swap is repaired by the recovery above, so some complete table
    # (old or new) is always reachable. (On a real deployment: Delta
    # MERGE, or saveAsTable + dynamic partition overwrite.)
    merged.write.mode("overwrite").parquet(tmp_path)
    swap_dir(table_path, tmp_path)
    return inserted


def upsert_parquet_partitioned(
    spark: SparkSession,
    table_path: str,
    incoming: DataFrame,
    key: str,
    order_by: list[Column] | None,
    partition_col: str,
    probe: DataFrame | None = None,
    probe_stats: tuple[list, int] | None = None,
    evolve_schema: bool = False,
) -> int:
    """Upsert into a parquet table partitioned on ``partition_col``
    (a NON-NULL column of ``incoming``, e.g. ``year(date_utc)``),
    rewriting only affected partitions; returns new keys inserted.

    Affected = partitions receiving incoming rows ∪ partitions whose
    existing rows match an incoming key. The second set catches a key
    whose partition value CHANGED in the update (reference ON CONFLICT
    DO UPDATE replaces in place; here the old partition must also be
    rewritten or the stale row would survive as a duplicate).

    Scale: the affected-partition list is collected to the driver — by
    construction it is small (time-partitioned tables, incremental
    batches span few periods) and the ``isin`` filter partition-prunes
    the existing-side scan, so the merge reads only what it rewrites.

    Crash-safety: dynamic partition overwrite commits per partition —
    a crash mid-write can leave a subset of affected partitions updated
    (each partition is itself replaced by ``storage.swap_dir``).
    Cross-partition atomicity needs a transactional format
    (Delta/Iceberg MERGE); callers for whom that matters use
    ``upsert_parquet``'s whole-table swap instead.

    Probe cost: the pre-write probes only touch ``key`` and
    ``partition_col``. When ``incoming`` is an expensive plan (e.g. an
    enrichment join), pass ``probe`` — any cheaper DataFrame with the
    SAME key/partition values (typically the slim validated batch the
    join was built from) — and the probes never execute the full plan,
    which then runs exactly once, inside the write job. ``probe_stats``
    = (incoming partition values, incoming distinct-key count) skips the
    incoming-side probe job entirely for callers that already computed
    both riding an earlier action.

    ``evolve_schema=True`` accepts additive column drift (see
    ``merge_dedup``). Partitioned caveat: only the AFFECTED partitions
    are rewritten with the merged schema — untouched partitions keep
    their old-schema files, so whole-table reads that must see the new
    column need ``spark.read.option("mergeSchema", "true")`` until a
    compaction or full rewrite homogenizes the files (exactly Delta's
    behavior minus the transaction log that would record it).
    """
    # heal any crash-parked partition aside BEFORE reading the table —
    # a missing partition would silently vanish from the merge input
    heal_swaps(table_path)
    # an existing-but-empty dir (mkdir'd by an orchestrator, or a crash
    # before the first commit) is "no table yet", not an unreadable one
    exists = os.path.exists(table_path) and any(
        e.startswith(f"{partition_col}=") or e.endswith(".parquet")
        for e in os.listdir(table_path)
    )
    if not exists:
        # cluster rows by partition value before the write so each
        # partition directory gets ONE file per holding task, not one
        # per shuffle partition (32 tasks × P years = P·32 tiny files —
        # every later read pays the listing + footer cost). At cluster
        # scale add a second spread key (e.g. bucket(pk)) to keep write
        # parallelism within a huge partition.
        from pyspark.sql import Observation

        obs = Observation()
        deduped = merge_dedup(None, incoming, key, order_by)
        # dedup leaves exactly one row per key, so the written row count
        # IS the insert count — observe it riding the write job instead
        # of re-scanning the table afterwards
        deduped.observe(obs, F.count(F.lit(1)).alias("rows")).repartition(
            F.col(partition_col)
        ).write.partitionBy(partition_col).mode("overwrite").parquet(table_path)
        return int(obs.get["rows"])

    existing = read_parquet(spark, table_path)

    # Batch-bounded probe jobs replace the old four table-sized ones
    # (count-before, affected-partition collect, count-after ×2 scans):
    # one over the incoming side for its partitions + distinct keys
    # (skipped when probe_stats rode an earlier action), one semi-join
    # over existing for matched partitions + matched keys. inserted =
    # incoming keys − matched keys (table invariant: one row per key),
    # so no post-write table count is ever needed.
    probe = probe if probe is not None else incoming
    inc_keys = probe.select(key).distinct()
    if probe_stats is not None:
        inc_parts, inc_n_keys = list(probe_stats[0]), int(probe_stats[1])
    else:
        inc_row = probe.agg(
            F.collect_set(partition_col).alias("parts"),
            F.countDistinct(key).alias("n_keys"),
        ).first()
        inc_parts, inc_n_keys = inc_row["parts"], int(inc_row["n_keys"])
    ex_row = (
        existing.join(inc_keys, key, "left_semi")
        .agg(
            F.collect_set(partition_col).alias("parts"),
            F.countDistinct(key).alias("n_matched"),
        )
        .first()
    )
    inserted = inc_n_keys - int(ex_row["n_matched"] or 0)
    affected = sorted(set(inc_parts) | set(ex_row["parts"] or []))

    existing_affected = existing.filter(F.col(partition_col).isin(affected))
    # ONE job does the whole merge: write straight to a staging sibling
    # (different path → no read-from/write-to-same-path lineage problem,
    # so no eager checkpoint materializing the merge twice), then swap
    # partition directories driver-side. This is dynamic partition
    # overwrite's own commit protocol (stage, then move) minus the extra
    # materialization — at scale it halves the merge's write volume.
    tmp_path = table_path.rstrip("/") + "__tmp_parts"
    shutil.rmtree(tmp_path, ignore_errors=True)
    merge_dedup(existing_affected, incoming, key, order_by, evolve_schema).repartition(
        F.col(partition_col)
    ).write.partitionBy(partition_col).mode("overwrite").parquet(tmp_path)

    # Partition-dir swap (storage.swap_dir per partition), so no instant
    # leaves a partition missing. A partition whose every row moved away
    # has no staged dir; its directory is dropped.
    _swap_in_partitions(
        spark, table_path, tmp_path, existing.schema[partition_col], affected
    )
    return inserted


class MergeResult(dict):
    """``{"inserted": n, "updated_or_unchanged": m}`` with attribute
    access, mirroring the counters a SQL MERGE reports."""

    def __getattr__(self, name):
        try:
            return self[name]
        except KeyError as e:  # pragma: no cover
            raise AttributeError(name) from e


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    on: str,
    order_by: list[Column] | None = None,
    partition_col: str | None = None,
    probe: DataFrame | None = None,
    evolve_schema: bool = False,
) -> MergeResult:
    """``MERGE INTO target USING source ON target.<on> = source.<on>
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` —
    the Delta/Iceberg statement this module's upserts implement over
    plain parquet (the reference's ``INSERT ... ON CONFLICT (launch_id)
    DO UPDATE``, src/database.py:133-202).

    Semantics and their SQL counterparts:
    - ``on``: the merge key (one row per key is the table invariant);
    - matched rows are REPLACED whole-row (UPDATE SET *): with no
      ``order_by`` the source row wins outright (``merge_dedup``'s
      None-order contract); pass e.g. ``[F.col("ingested_at").desc()]``
      to resolve the survivor by a freshness column instead;
    - unmatched source rows are INSERTED (count returned);
    - WHEN NOT MATCHED BY SOURCE THEN DELETE is deliberately absent,
      as in the reference (ingest never deletes);
    - ``partition_col`` picks the scale path: only partitions the
      source touches are rewritten (``upsert_parquet_partitioned``);
      without it the whole table is swapped (``upsert_parquet`` — the
      tiny-table / cross-partition-atomicity path);
    - ``evolve_schema`` = Delta's ``mergeSchema``: additive column
      drift unions through with NULL fill instead of raising.

    Swapping in a real transactional format later means replacing this
    function's body with ``DeltaTable.merge`` — callers keep the same
    signature and counters.
    """
    if partition_col is not None:
        inserted = upsert_parquet_partitioned(
            spark, target_path, source, on, order_by, partition_col,
            probe=probe, evolve_schema=evolve_schema,
        )
    else:
        inserted = upsert_parquet(
            spark, target_path, source, on, order_by,
            probe=probe, evolve_schema=evolve_schema,
        )
    n_source = (probe if probe is not None else source).select(on).distinct().count()
    return MergeResult(inserted=inserted, updated_or_unchanged=n_source - inserted)
