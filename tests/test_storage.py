"""Storage-layout tests: each layout lever must deliver its plan-level
guarantee — pruning in PartitionFilters, bucketed joins without
exchanges, compaction to the target file count.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark import storage
from spacex_data_engineering_pipeline_spark.catalog import load_table


def test_partition_pruning(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    storage.write_partitioned(events, path, ["event_date"])

    pruned = spark.read.parquet(path).filter(F.col("event_date") == "2024-01-05")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "event_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], "filter on the partition column must prune directories"

    expected = events.filter(F.col("event_date") == "2024-01-05").count()
    assert pruned.count() == expected > 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    storage.write_bucketed(orders, "orders_bkt", ["o_orderkey"], num_buckets=8)
    storage.write_bucketed(lineitem, "lineitem_bkt", ["l_orderkey"], num_buckets=8)

    joined = storage.table(spark, "orders_bkt").join(
        storage.table(spark, "lineitem_bkt"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    )
    joined.collect()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-located join: no shuffle exchange on either side
    assert "Exchange hashpartitioning" not in plan, (
        "bucketed-by-key tables must join without a shuffle"
    )
    assert joined.count() == lineitem.count()

    spark.sql("DROP TABLE IF EXISTS orders_bkt")
    spark.sql("DROP TABLE IF EXISTS lineitem_bkt")


def test_compact_controls_file_count(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").repartition(16)
    path = str(tmp_path / "orders_compact")
    storage.compact(orders, 2).write.parquet(path)
    files = [
        f
        for f in __import__("os").listdir(path)
        if f.endswith(".parquet")
    ]
    assert len(files) == 2


def test_upsert_recovers_from_rename_crash_window(spark, tmp_path):
    """A crash between rename-old-aside and rename-new-in leaves the
    table parked at __old_upsert; the next upsert must restore it, not
    treat the incoming batch as an initial load."""
    import os

    from spacex_data_engineering_pipeline_spark.operators.upsert import upsert_parquet

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    upsert_parquet(spark, path, base, "id", [F.col("v")])
    # simulate the crash instant: old renamed aside, new never landed
    os.replace(path, path + "__old_upsert")

    batch = spark.createDataFrame([(3, "c")], "id long, v string")
    n = upsert_parquet(spark, path, batch, "id", [F.col("v")])
    assert n == 1, "prior rows must count as existing, not as fresh inserts"
    got = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}, "pre-crash rows must survive"
    assert not os.path.exists(path + "__old_upsert")


# -- partition-aware upsert (the scale path for S7) -------------------------


def _snapshot_files(path):
    import os

    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
    return out


def test_partitioned_upsert_touches_only_affected_partitions(spark, tmp_path):
    import os

    from spacex_data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 2020, "a"), (2, 2020, "b"), (3, 2021, "c"), (4, 2022, "d")],
        "id long, yr int, v string",
    )
    n = upsert_parquet_partitioned(spark, path, base, "id", [F.col("v")], "yr")
    assert n == 4
    assert sorted(
        d for d in os.listdir(path) if d.startswith("yr=")
    ) == ["yr=2020", "yr=2021", "yr=2022"]

    before = _snapshot_files(path)
    # update one 2021 row + insert one 2022 row: 2020 must not be rewritten
    batch = spark.createDataFrame(
        [(3, 2021, "c2"), (5, 2022, "e")], "id long, yr int, v string"
    )
    n = upsert_parquet_partitioned(spark, path, batch, "id", [F.col("v").desc()], "yr")
    assert n == 1  # one NEW key
    after = _snapshot_files(path)
    untouched_2020 = {p: t for p, t in before.items() if "yr=2020" in p}
    assert untouched_2020 == {
        p: t for p, t in after.items() if "yr=2020" in p
    }, "unaffected partition files must be byte-identical (not rewritten)"

    got = {r.id: (r.yr, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {1: (2020, "a"), 2: (2020, "b"), 3: (2021, "c2"), 4: (2022, "d"), 5: (2022, "e")}


def test_partitioned_upsert_key_moves_partition(spark, tmp_path):
    from spacex_data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet_partitioned,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 2020, 1, "a"), (2, 2021, 1, "b")], "id long, yr int, ver int, v string"
    )
    upsert_parquet_partitioned(spark, path, base, "id", [F.col("ver").desc()], "yr")

    # id=1's corrected date moves it 2020 → 2021; 2020 becomes empty
    moved = spark.createDataFrame([(1, 2021, 2, "a2")], "id long, yr int, ver int, v string")
    n = upsert_parquet_partitioned(spark, path, moved, "id", [F.col("ver").desc()], "yr")
    assert n == 0  # no new keys
    rows = {r.id: (r.yr, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {1: (2021, "a2"), 2: (2021, "b")}, (
        "old-partition copy of a moved key must not survive"
    )
    import os

    assert not os.path.exists(os.path.join(path, "yr=2020")), (
        "a partition emptied by the move must be dropped"
    )


def test_pipeline_partitioned_layout_end_to_end(spark, tmp_path):
    """partition_by_year=True must produce the same pipeline results as
    the flat layout, plus a pruned-scan-friendly year-partitioned table."""
    import os

    from spacex_data_engineering_pipeline_spark.pipeline.ingest import (
        IncrementalIngestionPipeline,
    )
    from spacex_data_engineering_pipeline_spark.sources.launches import (
        LocalLaunchSource,
    )

    raw_schema = (
        "launch_id string, mission_name string, date_utc string, success boolean, "
        "payload_ids array<string>, launchpad_id string, static_fire_date_utc string"
    )
    raw_all = spark.createDataFrame(
        [
            ("l1", "M1", "2020-01-01T00:00:00Z", True, ["p1"], "padA", None),
            ("l2", "M2", "2020-06-01T00:00:00Z", False, ["p2"], "padA", None),
            ("l3", "M3", "2021-03-01T00:00:00Z", True, [], "padB", None),
            ("l4", "M4", "2021-09-01T00:00:00Z", None, ["p4"], "padB", None),
        ],
        raw_schema,
    )
    payloads = spark.createDataFrame(
        [("p1", "P1", 100.0), ("p2", "P2", 200.0), ("p4", "P4", 50.0)],
        "payload_id string, name string, mass_kg double",
    )
    paths = dict(
        launches_path=str(tmp_path / "l.pq"),
        state_path=str(tmp_path / "s.pq"),
        snapshots_path=str(tmp_path / "a.pq"),
    )
    batch1 = raw_all.filter(F.col("date_utc") < "2021-01-01")

    p1 = IncrementalIngestionPipeline(
        spark, LocalLaunchSource(spark, batch1), payloads,
        partition_by_year=True, **paths,
    )
    r1 = p1.run()
    assert r1["snapshot_type"] == "initial" and r1["inserted"] == 2
    assert sorted(
        d for d in os.listdir(paths["launches_path"]) if d.startswith("launch_year=")
    ) == ["launch_year=2020"]

    p2 = IncrementalIngestionPipeline(
        spark, LocalLaunchSource(spark, raw_all), payloads,
        partition_by_year=True, **paths,
    )
    r2 = p2.run()
    assert r2["snapshot_type"] == "incremental" and r2["inserted"] == 2
    assert sorted(
        d for d in os.listdir(paths["launches_path"]) if d.startswith("launch_year=")
    ) == ["launch_year=2020", "launch_year=2021"]

    r3 = p2.run()
    assert r3["early_exit"] and r3["inserted"] == 0

    tbl = spark.read.parquet(paths["launches_path"])
    assert tbl.count() == 4
    assert tbl.select("launch_id").distinct().count() == 4
    got_mass = {r.launch_id: r.total_payload_mass_kg for r in tbl.collect()}
    assert got_mass["l1"] == 100.0 and got_mass["l3"] is None

    # year filter must prune to one directory
    pruned = tbl.filter(F.col("launch_year") == 2021)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "launch_year" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert pruned.count() == 2


def test_compact_parquet_flat_and_partitioned(spark, sf_dir, tmp_path):
    """Compaction rewrites fragmented leaves to ceil(bytes/target) files
    without changing content; compact leaves are untouched; a second run
    is a no-op."""
    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.catalog import load_table
    from spacex_data_engineering_pipeline_spark.operators.compact import compact_parquet

    orders = load_table(spark, sf_dir, "orders")

    # flat table fragmented into 32 files
    flat = str(tmp_path / "flat")
    orders.repartition(32).write.parquet(flat)
    before = orders.count()
    stats = compact_parquet(spark, flat, target_file_bytes=1 << 30)
    assert stats["files_before"] >= 32 and stats["files_after"] == 1
    assert stats["leaves_compacted"] == 1
    after = spark.read.parquet(flat)
    assert after.count() == before
    assert after.agg(F.bit_xor(F.xxhash64(*sorted(orders.columns)))).first()[0] == \
        orders.agg(F.bit_xor(F.xxhash64(*sorted(orders.columns)))).first()[0]
    # idempotent: second run touches nothing
    stats2 = compact_parquet(spark, flat, target_file_bytes=1 << 30)
    assert stats2["leaves_compacted"] == 0 and stats2["files_after"] == 1

    # partitioned table: each fragmented year leaf compacts independently
    part = str(tmp_path / "part")
    orders.withColumn("yr", F.year("o_orderdate")).repartition(8).write.partitionBy(
        "yr"
    ).parquet(part)
    stats3 = compact_parquet(spark, part, target_file_bytes=1 << 30)
    assert stats3["leaves_compacted"] > 0
    got = spark.read.parquet(part)
    assert got.count() == before
    # per-leaf result: one file per year dir
    import os
    for d in os.listdir(part):
        if d.startswith("yr="):
            files = [f for f in os.listdir(os.path.join(part, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)


def test_upsert_schema_evolution(spark, tmp_path):
    """evolve_schema=True: an incoming batch may ADD columns (old rows
    get NULL) or MISS columns (incoming rows get NULL, history kept);
    strict mode still raises on drift. Partitioned path: merged schema
    lands in affected partitions; whole-table reads use mergeSchema."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException

    from spacex_data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet,
        upsert_parquet_partitioned,
    )

    flat = str(tmp_path / "evo_flat")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id long, name string, v long"
    )
    upsert_parquet(spark, flat, v1, key="id", order_by=None)

    # strict mode: added column raises, nothing written
    v2 = spark.createDataFrame(
        [(2, "b2", 21, "x"), (3, "c", 30, "y")],
        "id long, name string, v long, extra string",
    )
    with pytest.raises(AnalysisException):
        upsert_parquet(spark, flat, v2, key="id", order_by=None)
    assert spark.read.parquet(flat).count() == 2

    # evolving mode: column added, old rows NULL-backfilled
    ins = upsert_parquet(spark, flat, v2, key="id", order_by=None, evolve_schema=True)
    assert ins == 1
    rows = {r.id: r for r in spark.read.parquet(flat).collect()}
    assert rows[1].extra is None and rows[2].extra == "x" and rows[3].extra == "y"

    # evolving mode: column MISSING on incoming — history survives
    v3 = spark.createDataFrame([(3, "c3", 31)], "id long, name string, v long")
    upsert_parquet(spark, flat, v3, key="id", order_by=None, evolve_schema=True)
    rows = {r.id: r for r in spark.read.parquet(flat).collect()}
    assert rows[3].name == "c3" and rows[3].extra is None and rows[2].extra == "x"

    # partitioned: new column reaches the affected partition; mergeSchema
    # read exposes it table-wide with NULLs elsewhere
    part = str(tmp_path / "evo_part")
    p1 = spark.createDataFrame(
        [(1, 1995, 10), (2, 1996, 20)], "id long, yr int, v long"
    )
    upsert_parquet_partitioned(spark, part, p1, key="id", order_by=None, partition_col="yr")
    p2 = spark.createDataFrame([(3, 1996, 30, "z")], "id long, yr int, v long, extra string")
    upsert_parquet_partitioned(
        spark, part, p2, key="id", order_by=None, partition_col="yr",
        evolve_schema=True,
    )
    got = {r.id: r for r in
           spark.read.option("mergeSchema", "true").parquet(part).collect()}
    assert got[3].extra == "z" and got[2].extra is None and got[1].extra is None
    assert got[2].v == 20  # untouched partition intact


def test_delete_where_flat_and_partitioned(spark, sf_dir, tmp_path):
    """DELETE WHERE over parquet: exact deleted-row count, NULL
    predicate rows kept, partitioned path rewrites only affected
    partitions and drops fully-emptied ones."""
    import os

    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.catalog import load_table
    from spacex_data_engineering_pipeline_spark.operators.delete import (
        delete_where,
        retention_delete,
    )

    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()
    n_f = orders.filter(F.col("o_orderstatus") == "F").count()

    # flat: delete one status; count exact; NULL-predicate rows kept
    flat = str(tmp_path / "flat_del")
    orders.write.parquet(flat)
    deleted = delete_where(spark, flat, F.col("o_orderstatus") == "F")
    assert deleted == n_f
    after = spark.read.parquet(flat)
    assert after.count() == total - n_f
    assert after.filter(F.col("o_orderstatus") == "F").count() == 0
    assert delete_where(spark, flat, F.col("o_orderstatus") == "F") == 0  # idempotent

    # partitioned: retention cutoff drops whole old years, trims one
    part = str(tmp_path / "part_del")
    orders.withColumn("yr", F.year("o_orderdate")).repartition(4).write.partitionBy(
        "yr"
    ).parquet(part)
    years = sorted(int(d.split("=")[1]) for d in os.listdir(part) if d.startswith("yr="))
    cutoff_year = years[2]
    n_old = orders.filter(F.year("o_orderdate") < cutoff_year).count()
    before_dirs = {d for d in os.listdir(part) if d.startswith("yr=")}
    # untouched-partition evidence: record a file mtime in a kept year
    kept_dir = os.path.join(part, f"yr={years[-1]}")
    kept_file = sorted(f for f in os.listdir(kept_dir) if f.endswith(".parquet"))[0]
    mtime_before = os.path.getmtime(os.path.join(kept_dir, kept_file))

    deleted2 = retention_delete(
        spark, part, "o_orderdate", f"{cutoff_year}-01-01 00:00:00", partition_col="yr"
    )
    assert deleted2 == n_old
    got = spark.read.parquet(part)
    assert got.count() == total - n_old
    assert got.agg(F.min(F.year("o_orderdate"))).first()[0] == cutoff_year
    after_dirs = {d for d in os.listdir(part) if d.startswith("yr=")}
    assert after_dirs == {d for d in before_dirs if int(d.split("=")[1]) >= cutoff_year}
    # kept partitions were not rewritten
    assert os.path.getmtime(os.path.join(kept_dir, kept_file)) == mtime_before
    # NULL semantics: predicate NULL keeps the row
    null_del = delete_where(spark, part, F.lit(None).cast("boolean"), partition_col="yr")
    assert null_del == 0 and spark.read.parquet(part).count() == total - n_old


def test_delete_where_escaped_partition_values(spark, tmp_path):
    """Zero-survivor partition drop must target the dir Spark actually
    wrote. For values Spark escapes in partition paths (':', spaces,
    '%', '=') or formats itself (date columns), an f-string of the
    collected value names a nonexistent path — the partition, every row
    of which matched the predicate, would silently survive (a
    data-retention bug for a GDPR-erasure operator)."""
    import datetime
    import os

    from spacex_data_engineering_pipeline_spark.operators.delete import delete_where

    # string partition values exercising escapePathName's charset
    vals = ["a:b", "c d", "p%q", "e=f", "plain"]
    rows = [(i, v) for v in vals for i in range(3)]
    tbl = str(tmp_path / "esc_del")
    spark.createDataFrame(rows, "id int, k string").repartition(2).write.partitionBy(
        "k"
    ).parquet(tbl)
    # every dir except 'plain' is escaped on disk
    dirs = {d for d in os.listdir(tbl) if d.startswith("k=")}
    assert "k=a%3Ab" in dirs and "k=plain" in dirs

    deleted = delete_where(spark, tbl, F.col("k") == "a:b", partition_col="k")
    assert deleted == 3
    after = {d for d in os.listdir(tbl) if d.startswith("k=")}
    assert "k=a%3Ab" not in after, "escaped partition dir must be dropped"
    got = spark.read.parquet(tbl)
    assert got.count() == 12 and got.filter(F.col("k") == "a:b").count() == 0

    # mixed: one partition fully deleted, another trimmed
    deleted2 = delete_where(
        spark, tbl, (F.col("k") == "c d") | ((F.col("k") == "e=f") & (F.col("id") == 0)),
        partition_col="k",
    )
    assert deleted2 == 4
    after2 = {d for d in os.listdir(tbl) if d.startswith("k=")}
    assert "k=c%20d" not in after2 and any(d.startswith("k=e%3D") for d in after2)
    assert spark.read.parquet(tbl).count() == 8

    # date-typed partition column: Spark formats the dir value itself
    drows = [(i, datetime.date(2024, 1, 1 + i % 2)) for i in range(6)]
    dtbl = str(tmp_path / "date_del")
    spark.createDataFrame(drows, "id int, d date").write.partitionBy("d").parquet(dtbl)
    assert delete_where(
        spark, dtbl, F.col("d") == datetime.date(2024, 1, 2), partition_col="d"
    ) == 3
    dafter = {x for x in os.listdir(dtbl) if x.startswith("d=")}
    assert dafter == {"d=2024-01-01"}
    assert spark.read.parquet(dtbl).count() == 3


def test_partitioned_upsert_aside_crash_repair(spark, sf_dir, tmp_path):
    """A crash between the partition swap's two renames parks the dir at
    a listing-invisible _old_part_* aside; the next partitioned upsert
    (or delete) must restore it before reading the table."""
    import os

    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.catalog import load_table
    from spacex_data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet_partitioned,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "yr", F.year("o_orderdate")
    )
    total = orders.count()
    part = str(tmp_path / "ups_crash")
    orders.repartition(4).write.partitionBy("yr").parquet(part)
    leaves = sorted(d for d in os.listdir(part) if d.startswith("yr="))
    victim = leaves[0]
    os.replace(
        os.path.join(part, victim),
        os.path.join(part, "_old_part_" + victim.replace("=", "%3D")),
    )
    # concurrent reader mid-crash: no phantom partition, victim parked
    pre = spark.read.parquet(part)
    assert dict(pre.dtypes)["yr"] == "int"
    # next upsert heals the aside FIRST, so no existing row is lost
    batch = orders.limit(10)
    upsert_parquet_partitioned(
        spark, part, batch, key="o_orderkey",
        order_by=[F.col("o_orderkey").asc()], partition_col="yr",
    )
    got = spark.read.parquet(part)
    assert got.count() == total
    assert not any(e.startswith("_old_part_") for e in os.listdir(part))


def test_compact_parquet_crash_repair(spark, sf_dir, tmp_path):
    """A crash between the two swap renames parks a leaf at its
    _old_compact_* aside; the next compact run must restore it BEFORE
    enumerating leaves (not raise FileNotFoundError / skip the leaf),
    and staging siblings must never surface in a whole-table read."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.catalog import load_table
    from spacex_data_engineering_pipeline_spark.operators.compact import compact_parquet

    orders = load_table(spark, sf_dir, "orders")
    before = orders.count()

    # --- flat table: simulate dying between rename-aside and rename-in
    flat = str(tmp_path / "flat_crash")
    orders.repartition(8).write.parquet(flat)
    parent = os.path.dirname(flat)
    os.replace(flat, os.path.join(parent, "_old_compact_flat_crash"))
    stats = compact_parquet(spark, flat, target_file_bytes=1 << 30)
    assert stats["leaves_compacted"] == 1 and stats["files_after"] == 1
    assert spark.read.parquet(flat).count() == before
    assert not os.path.exists(os.path.join(parent, "_old_compact_flat_crash"))

    # --- partitioned table: one leaf parked aside, plus a stale
    # incomplete _tmp_compact_* stage from the same imaginary crash
    part = str(tmp_path / "part_crash")
    orders.withColumn("yr", F.year("o_orderdate")).repartition(8).write.partitionBy(
        "yr"
    ).parquet(part)
    leaves = sorted(d for d in os.listdir(part) if d.startswith("yr="))
    enc = lambda b: b.replace("=", "%3D")  # staging names carry no '='
    victim = os.path.join(part, leaves[0])
    os.replace(victim, os.path.join(part, "_old_compact_" + enc(leaves[0])))
    shutil.copytree(
        os.path.join(part, leaves[1]), os.path.join(part, "_tmp_compact_" + enc(leaves[1]))
    )
    # staging dirs are underscore-prefixed → Spark's listing ignores
    # them even before repair: no phantom partitions, no type widening
    pre = spark.read.parquet(part)
    assert pre.select("yr").distinct().count() == len(leaves) - 1  # victim parked
    assert dict(pre.dtypes)["yr"] == "int"
    stats2 = compact_parquet(spark, part, target_file_bytes=1 << 30)
    got = spark.read.parquet(part)
    assert got.count() == before
    assert got.select("yr").distinct().count() == len(leaves)
    assert not any(
        e.startswith(("_old_compact_", "_tmp_compact_")) for e in os.listdir(part)
    )
    assert stats2["leaves_compacted"] > 0


# ---------------------------------------------------------------------------
# cross-table atomic commit (operators/txn.py)
# ---------------------------------------------------------------------------


def test_txn_commit_all_or_nothing(spark, tmp_path):
    from spacex_data_engineering_pipeline_spark.operators import txn

    root = str(tmp_path / "txroot")
    txn.init_txn_root(root)
    fact = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])
    agg = spark.createDataFrame([(30.0,)], ["total"])
    txn.commit_tables(root, {"fact": fact, "agg": agg})

    ptr = txn.read_pointer(root)
    assert ptr["version"] == 1
    assert ptr["tables"] == {"fact": 0, "agg": 0}
    assert txn.read_table(spark, root, "fact").count() == 2
    assert txn.read_table(spark, root, "agg").collect()[0]["total"] == 30.0

    # second commit advances both; old generations still readable via
    # the captured snapshot (cross-table time travel)
    snap = txn.read_pointer(root)
    fact2 = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 5.0)], ["k", "v"])
    agg2 = spark.createDataFrame([(35.0,)], ["total"])
    txn.commit_tables(root, {"fact": fact2, "agg": agg2})
    assert txn.read_table(spark, root, "fact").count() == 3
    assert txn.read_table(spark, root, "fact", pointer=snap).count() == 2
    assert txn.read_table(spark, root, "agg", pointer=snap).collect()[0][
        "total"
    ] == 30.0


def test_txn_crash_before_pointer_leaves_old_state(spark, tmp_path):
    import os

    from spacex_data_engineering_pipeline_spark.operators import txn

    root = str(tmp_path / "txroot")
    txn.init_txn_root(root)
    txn.commit_tables(
        root, {"fact": spark.createDataFrame([(1,)], ["k"])}
    )
    # simulate a crash AFTER the generation dirs are written but BEFORE
    # the pointer flip: write gen dirs manually, never touch pointer
    spark.createDataFrame([(1,), (2,)], ["k"]).write.parquet(
        os.path.join(root, "fact", "gen=1")
    )
    ptr = txn.read_pointer(root)
    assert ptr["tables"]["fact"] == 0  # reader still sees old version
    assert txn.read_table(spark, root, "fact").count() == 1
    # and the next commit simply overwrites the orphaned generation
    txn.commit_tables(
        root, {"fact": spark.createDataFrame([(1,), (2,), (3,)], ["k"])}
    )
    assert txn.read_table(spark, root, "fact").count() == 3


def test_txn_vacuum_keeps_committed(spark, tmp_path):
    import os

    from spacex_data_engineering_pipeline_spark.operators import txn

    root = str(tmp_path / "txroot")
    txn.init_txn_root(root)
    for n in range(3):
        txn.commit_tables(
            root, {"t": spark.createDataFrame([(i,) for i in range(n + 1)], ["k"])}
        )
    removed = txn.vacuum(root, keep_last=1)
    assert removed == 2
    assert sorted(os.listdir(os.path.join(root, "t"))) == ["gen=2"]
    assert txn.read_table(spark, root, "t").count() == 3


def test_txn_crash_sweep_every_step_boundary(spark, tmp_path):
    """Kill the multi-table commit protocol at EVERY filesystem step
    boundary (each os.replace — per-batch-file renames, generation-dir
    renames, and the pointer flip itself) and assert
    reader-visible atomicity after each: a reader sees BOTH tables at
    the previous committed state (crash before the flip) or BOTH at
    the new state (crash at/after it), never a mix; then a retried
    commit with the same batch_id converges exactly-once."""
    import os

    from spacex_data_engineering_pipeline_spark.operators import txn

    def snapshot(root):
        ptr = txn.read_pointer(root)
        fact = sorted(
            tuple(r)
            for r in txn.read_table(spark, root, "fact", pointer=ptr).collect()
        )
        summ = sorted(
            tuple(r)
            for r in txn.read_table(spark, root, "summary", pointer=ptr).collect()
        )
        return ptr, fact, summ

    batch2 = spark.createDataFrame([(3, 30.0), (4, 40.0)], ["k", "v"])
    old_expected_summ = [(30.0,)]
    new_expected_fact = [(1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0)]
    new_expected_summ = [(100.0,)]

    real_replace = os.replace
    fail_at = 0
    while True:
        fail_at += 1
        root = str(tmp_path / f"root{fail_at}")
        txn.init_txn_root(root)
        txn.commit_tables(
            root,
            tables={"summary": spark.createDataFrame([(30.0,)], ["total"])},
            appends={"fact": spark.createDataFrame([(1, 10.0), (2, 20.0)], ["k", "v"])},
            batch_id=1,
        )
        v0 = txn.read_pointer(root)["version"]

        calls = {"n": 0}

        def crashing_replace(*a, **kw):
            calls["n"] += 1
            if calls["n"] == fail_at:
                raise RuntimeError("injected crash")
            return real_replace(*a, **kw)

        os.replace = crashing_replace
        crashed = False
        try:
            txn.commit_tables(
                root,
                tables={"summary": spark.createDataFrame([(100.0,)], ["total"])},
                appends={"fact": batch2},
                batch_id=2,
            )
        except RuntimeError:
            crashed = True
        finally:
            os.replace = real_replace

        ptr, fact, summ = snapshot(root)
        if ptr["version"] == v0:
            # crash before the pointer flip: EVERYTHING at previous state
            assert fact == [(1, 10.0), (2, 20.0)], f"fail_at={fail_at}"
            assert summ == old_expected_summ, f"fail_at={fail_at}"
            assert ptr["last_batch_id"] == 1
        else:
            # pointer flipped: EVERYTHING at new state
            assert fact == new_expected_fact, f"fail_at={fail_at}"
            assert summ == new_expected_summ, f"fail_at={fail_at}"
            assert ptr["last_batch_id"] == 2

        # the at-least-once redelivery: same batch retried after the
        # crash must converge to the committed state exactly once
        txn.commit_tables(
            root,
            tables={"summary": spark.createDataFrame([(100.0,)], ["total"])},
            appends={"fact": batch2},
            batch_id=2,
        )
        ptr, fact, summ = snapshot(root)
        assert fact == new_expected_fact, f"retry after fail_at={fail_at}"
        assert summ == new_expected_summ, f"retry after fail_at={fail_at}"
        assert ptr["last_batch_id"] == 2

        if not crashed:
            break  # swept past the last os.replace in the protocol
    assert fail_at >= 4  # batch files + 2 gen dirs + pointer flip


def test_txn_rejects_table_in_both_replace_and_append(spark, tmp_path):
    import pytest

    from spacex_data_engineering_pipeline_spark.operators import txn

    root = str(tmp_path / "txroot")
    txn.init_txn_root(root)
    df = spark.createDataFrame([(1,)], ["k"])
    with pytest.raises(ValueError, match="both 'tables' and 'appends'"):
        txn.commit_tables(root, tables={"t": df}, appends={"t": df})


# ---------------------------------------------------------------------------
# anti-entropy repair (operators/repair.py)
# ---------------------------------------------------------------------------


def _mk_partitioned(spark, path, rows):
    df = spark.createDataFrame(rows, ["year", "k", "name"])
    df.repartition("year").write.partitionBy("year").parquet(path)


def test_repair_rewrites_only_diverged_partitions(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators import repair as R

    rows = [(y, y * 100 + i, f"n{y}_{i}") for y in (2020, 2021, 2022) for i in range(20)]
    src_path, dst_path = str(tmp_path / "src"), str(tmp_path / "dst")
    _mk_partitioned(spark, src_path, rows)
    # target copy diverges in 2021 only: one row mutated, one dropped
    bad = [r for r in rows if not (r[0] == 2021 and r[1] == 2021 * 100 + 3)]
    bad = [
        (y, k, ("CORRUPT" if (y == 2021 and k == 2021 * 100 + 7) else n))
        for (y, k, n) in bad
    ]
    _mk_partitioned(spark, dst_path, bad)

    canonical = F.concat_ws("|", F.col("k").cast("string"), F.col("name"))
    source = spark.read.parquet(src_path)

    before = {
        d: os.path.getmtime(os.path.join(dst_path, d))
        for d in os.listdir(dst_path)
        if d.startswith("year=")
    }
    out = R.repair_table(spark, source, dst_path, "year", canonical)
    assert out["diverged"] == [2021]

    after = spark.read.parquet(dst_path)
    got = {tuple(r) for r in after.select("year", "k", "name").collect()}
    want = {tuple(r) for r in source.select("year", "k", "name").collect()}
    assert got == want
    # untouched partitions were not rewritten
    for d, mt in before.items():
        if d != "year=2021":
            assert os.path.getmtime(os.path.join(dst_path, d)) == mt

    # convergence: a second repair finds nothing
    assert R.repair_table(spark, source, dst_path, "year", canonical) == {
        "diverged": [],
        "rewritten": 0,
    }


def test_repair_drops_partition_missing_from_source(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from spacex_data_engineering_pipeline_spark.operators import repair as R

    rows = [(y, y * 10 + i, f"x{i}") for y in (2020, 2021) for i in range(5)]
    extra = rows + [(2099, 1, "ghost")]
    src_path, dst_path = str(tmp_path / "src2"), str(tmp_path / "dst2")
    _mk_partitioned(spark, src_path, rows)
    _mk_partitioned(spark, dst_path, extra)
    canonical = F.concat_ws("|", F.col("k").cast("string"), F.col("name"))
    out = R.repair_table(
        spark, spark.read.parquet(src_path), dst_path, "year", canonical
    )
    assert out["diverged"] == [2099]
    assert not os.path.exists(os.path.join(dst_path, "year=2099"))
    got = {tuple(r) for r in spark.read.parquet(dst_path).select("year", "k", "name").collect()}
    want = {tuple(r) for r in spark.read.parquet(src_path).select("year", "k", "name").collect()}
    assert got == want


# ---------------------------------------------------------------------------
# one directory swap, one heal, one pointer publish (storage.py)
# ---------------------------------------------------------------------------


def _fragmented(spark, path, rows, ddl, partition_col=None):
    """Write ``rows`` as four appends of one file each, so every leaf
    holds four files and ``compact_parquet`` rewrites it."""
    for i in range(4):
        w = spark.createDataFrame(rows[i::4], ddl).coalesce(1).write.mode("append")
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(path)


def _crash_inside_swap(monkeypatch, verb):
    """Run ``verb`` with ``os.replace`` failing on its 2nd call — the
    rename-in right after a swap's rename-aside — and return the path
    the 1st call parked the live directory at."""
    import os

    import pytest

    real, targets = os.replace, []

    def crashing(src, dst):
        targets.append(dst)
        if len(targets) == 2:
            raise OSError("injected crash between the swap's renames")
        return real(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "replace", crashing)
        with pytest.raises(OSError, match="injected crash"):
            verb()
    assert os.path.isdir(targets[0]), "the crash must leave a dir parked aside"
    return targets[0]


_FLAT_ROWS = [(i, f"v{i}") for i in range(1, 9)]
_PART_ROWS = [(i, f"v{i}", 2000 if i <= 8 else 2001) for i in range(1, 13)]
_NEW_FLAT = [(100, "new")]
_NEW_PART = [(100, "new", 2000)]  # lands in the crashed leaf's partition


def _flat_verbs(spark, path):
    from spacex_data_engineering_pipeline_spark.operators.compact import compact_parquet
    from spacex_data_engineering_pipeline_spark.operators.delete import delete_where
    from spacex_data_engineering_pipeline_spark.operators.upsert import upsert_parquet

    def upsert():
        batch = spark.createDataFrame(_NEW_FLAT, "id long, v string")
        upsert_parquet(spark, path, batch, "id", [F.col("v")])

    return {
        # (run, rows it removes from / adds to the table)
        "upsert": (upsert, set(), set(_NEW_FLAT)),
        "delete": (lambda: delete_where(spark, path, F.col("id") == 1), {_FLAT_ROWS[0]}, set()),
        "compact": (lambda: compact_parquet(spark, path, target_file_bytes=1 << 30), set(), set()),
    }


def _partitioned_verbs(spark, path):
    from spacex_data_engineering_pipeline_spark.operators.compact import compact_parquet
    from spacex_data_engineering_pipeline_spark.operators.upsert import (
        upsert_parquet_partitioned,
    )

    def upsert():
        batch = spark.createDataFrame(_NEW_PART, "id long, v string, yr int")
        upsert_parquet_partitioned(spark, path, batch, "id", [F.col("v")], "yr")

    return {
        "upsert_partitioned": (upsert, set(), set(_NEW_PART)),
        "compact": (lambda: compact_parquet(spark, path, target_file_bytes=1 << 30), set(), set()),
    }


@pytest.mark.parametrize(
    "layout,crashed,then",
    [
        ("flat", "delete", "upsert"),
        ("flat", "compact", "upsert"),
        ("flat", "upsert", "delete"),
        ("partitioned", "compact", "upsert_partitioned"),
        ("partitioned", "upsert_partitioned", "compact"),
    ],
)
def test_swap_crash_is_healed_by_a_different_verb(
    spark, tmp_path, monkeypatch, layout, crashed, then
):
    """A crash inside one verb's directory swap parks the live dir
    aside. The NEXT verb — whichever it is — must put it back before it
    reads, or it takes the table (or leaf) for missing and makes the
    loss permanent: every pre-crash row must survive and no aside may
    remain."""
    import os

    path = str(tmp_path / "tbl")
    if layout == "flat":
        rows, cols = _FLAT_ROWS, ["id", "v"]
        _fragmented(spark, path, rows, "id long, v string")
        verbs = _flat_verbs(spark, path)
    else:
        rows, cols = _PART_ROWS, ["id", "v", "yr"]
        _fragmented(spark, path, rows, "id long, v string, yr int", "yr")
        verbs = _partitioned_verbs(spark, path)

    aside = _crash_inside_swap(monkeypatch, verbs[crashed][0])
    run, removed, added = verbs[then]
    run()
    got = {tuple(r) for r in spark.read.parquet(path).select(*cols).collect()}
    assert got == (set(rows) - removed) | added
    assert not os.path.exists(aside)


@pytest.mark.parametrize("writer", ["ledger", "txn", "matview", "late_data"])
def test_failed_pointer_publish_keeps_old_pointer_and_leaves_no_debris(
    tmp_path, writer
):
    """A pointer write that fails mid-dump (here: an unserialisable
    value) must raise, leave the committed pointer byte-identical and
    leave no temporary file beside it."""
    import os

    from spacex_data_engineering_pipeline_spark.operators import matview, txn
    from spacex_data_engineering_pipeline_spark.streaming import late_data, ledger

    d = str(tmp_path)
    bad = object()
    ledger_json = os.path.join(d, "ledger.json")
    good, broken = {
        "ledger": (
            lambda: ledger.flip_pointer(d, {"max_epoch": 0}),
            lambda: ledger.flip_pointer(d, {"max_epoch": bad}),
        ),
        "txn": (
            lambda: txn.init_txn_root(d),
            lambda: txn._commit(d, {"version": 1, "tables": bad}),
        ),
        "matview": (
            lambda: matview._commit_pointer(d, 0, None),
            lambda: matview._commit_pointer(d, 1, bad),
        ),
        "late_data": (
            lambda: late_data._store_ledger(ledger_json, {0: 5}),
            lambda: late_data._store_ledger(ledger_json, {0: 5, 1: bad}),
        ),
    }[writer]
    good()
    before = {f: open(os.path.join(d, f), "rb").read() for f in os.listdir(d)}
    with pytest.raises(TypeError):
        broken()
    after = {f: open(os.path.join(d, f), "rb").read() for f in os.listdir(d)}
    assert after == before


def test_only_storage_fsyncs_or_names_a_swap_aside():
    """Pointer publishes (``os.fsync``) and swap asides (``_old_``-style
    names) belong to ``storage.py`` alone: a second hand-rolled copy is
    how one verb came to heal only its own aside and lose another
    verb's parked rows."""
    import ast
    import os
    import re

    import spacex_data_engineering_pipeline_spark as pkg

    aside = re.compile(r"(?<![A-Za-z0-9])_old_")
    root = os.path.dirname(pkg.__file__)
    offenders = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            if not name.endswith(".py") or path == storage.__file__:
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                fn = getattr(node, "func", None)
                if (
                    isinstance(node, ast.Call)
                    and isinstance(fn, ast.Attribute)
                    and fn.attr == "fsync"
                ) or (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and aside.search(node.value)
                ):
                    offenders.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    assert offenders == []
