"""The workloads. Each one:

- ``prepare``: writes its seeded inputs (set-up);
- ``start_pass``: untimed reset before one pass of its operation list;
- ``ops``: the closed-loop operations of one pass, as (kind, callable)
  pairs; a callable returns whether the operation took its expected
  path. Kinds: ``write`` (an update lands and commits), ``noop`` (the
  same entry point with nothing new to apply), ``read`` (a query, result
  collected), plus workload-specific ones;
- ``check``: output checks after the timed region, as ``(state_checks,
  failures)``: how many whole-state checks ran (final table, final
  index), and one ``(op, message)`` per failed check, ``op`` being the
  position in the last pass of the operation whose answer was wrong, or
  None for a state check;
- ``rows``: input rows the timed passes applied;
- ``landed_bytes``: input bytes the timed passes landed;
- ``disk_bytes``: bytes under the engine's roots at the end;
- ``ratio_denominators``: the per-layer waste ratios' denominators.

Passes are independent (each starts from nothing but the inputs), so a
pass measures the same work whatever ran before it.
"""

from __future__ import annotations

import gc
import math
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen


class Context:
    """What a workload's steps share: the session, the status reader, the
    run's work directory, the seed, and the tracer while one is on."""

    def __init__(self, spark, reader, work: str, seed: int):
        self.spark = spark
        self.reader = reader
        self.work = work
        self.seed = seed
        self.tracer = None

    def spanned(self, layer: str, fn):
        """Run ``fn`` (a lazy engine call and the action that collects
        it) as one span of ``layer`` when tracing."""
        return self.tracer.call(layer, fn) if self.tracer else fn()


def _land(src: str, dst_dir: str) -> None:
    """Publish one input file into a watched directory: copy under a
    hidden name, then rename, so a reader never lists a partial file."""
    os.makedirs(dst_dir, exist_ok=True)
    name = os.path.basename(src)
    tmp = os.path.join(dst_dir, f".{name}.tmp")
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(dst_dir, name))


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# -- ingest_cycles ------------------------------------------------------------


class IngestCycles:
    """One pass: the initial load, then ``N_INC`` incremental runs
    (``write``) each over one newly landed date slice and each followed
    by ``N_NOOP`` no-new-data runs (``noop``), then every analytics read
    of the final state once, in seeded order."""

    N_ROWS = 12_000
    N_INC = 2
    N_NOOP = 1

    def prepare(self, ctx: Context) -> None:
        self.stage = os.path.join(ctx.work, "stage")
        self.plan = gen.ingest_inputs(ctx.seed, self.stage, self.N_ROWS, self.N_INC)
        rng = np.random.default_rng([ctx.seed, 11])
        self.read_order = [READS[int(i)] for i in rng.permutation(len(READS))]
        self.payloads = ctx.spark.read.parquet(
            os.path.join(self.stage, "payloads.parquet")
        )

    def start_pass(self, ctx: Context, p: int) -> None:
        prev = os.path.join(ctx.work, f"ingest_{p - 1}")
        shutil.rmtree(prev, ignore_errors=True)  # only the last pass is checked
        self.base = os.path.join(ctx.work, f"ingest_{p}")
        self.landing = os.path.join(self.base, "landing")
        self.answers: dict[int, tuple[str, list]] = {}

    def _pipeline(self, ctx: Context):
        from spacex_data_engineering_pipeline_spark.pipeline.ingest import (
            IncrementalIngestionPipeline,
        )
        from spacex_data_engineering_pipeline_spark.sources.launches import (
            LocalLaunchSource,
        )

        return IncrementalIngestionPipeline(
            ctx.spark,
            LocalLaunchSource.from_parquet(ctx.spark, self.landing),
            self.payloads,
            launches_path=os.path.join(self.base, "launches"),
            state_path=os.path.join(self.base, "state"),
            snapshots_path=os.path.join(self.base, "snapshots"),
        )

    def _run(self, ctx: Context, snapshot_type: str | None, i: int | None):
        def op() -> bool:
            exp = None
            if i is not None:
                exp = self.plan["expected"][i]
                _land(os.path.join(self.stage, exp["file"]), self.landing)
            r = self._pipeline(ctx).run()
            if snapshot_type is None:
                return r["early_exit"] is True
            return (
                r["early_exit"] is False
                and r["snapshot_type"] == snapshot_type
                and r["rejected_rows"] == exp["rejects"]
            )

        return op

    def _read(self, ctx: Context, name: str, pos: int):
        def op() -> bool:
            layer = "plans.aggregations" if name in ("history", "trends") else (
                "plans.launch_analytics"
            )
            self.answers[pos] = name, ctx.spanned(
                layer, lambda: _analytics_frame(ctx.spark, self.base, name).collect()
            )
            return True

        return op

    def ops(self, ctx: Context, p: int):
        out = [("initial", self._run(ctx, "initial", 0))]
        for i in range(self.N_INC):
            out.append(("write", self._run(ctx, "incremental", i + 1)))
            out += [("noop", self._run(ctx, None, None))] * self.N_NOOP
        for name in self.read_order:
            out.append(("read", self._read(ctx, name, len(out))))
        return out

    def rows(self) -> int:
        return sum(e["rows"] for e in self.plan["expected"])

    def landed_bytes(self) -> int:
        return sum(e["bytes"] for e in self.plan["expected"])

    def disk_bytes(self) -> int:
        return _du(self.base) - _du(self.landing)

    def ratio_denominators(self, ctx: Context) -> dict:
        exp = self.plan["expected"]
        return {
            "rows_applied": sum(e["rows"] - e["rejects"] for e in exp),
            "snapshots": len(exp),
        }

    def check(self, ctx: Context) -> tuple[int, list]:
        from pyspark.sql import functions as F

        fails = []
        t = ctx.spark.read.parquet(os.path.join(self.base, "launches"))
        row = t.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("total_payload_mass_kg").alias("mass"),
        ).first()
        ids = sorted(r[0] for r in t.select("launch_id").collect())
        if row["n"] != len(self.plan["final_ids"]) or ids != self.plan["final_ids"]:
            fails.append((
                None,
                f"ingest: final table has {row['n']} rows / key set differs, "
                f"expected {len(self.plan['final_ids'])} distinct valid ids",
            ))
        if not math.isclose(float(row["mass"] or 0), self.plan["final_mass"], rel_tol=1e-9):
            fails.append(
                (None, f"ingest: mass checksum {row['mass']} != {self.plan['final_mass']}")
            )
        snaps = pq.read_table(os.path.join(self.base, "snapshots")).to_pylist()
        got = [s["total_launches"] for s in sorted(snaps, key=lambda s: s["id"])]
        want = [e["total_launches"] for e in self.plan["expected"]]
        if got != want:
            fails.append((None, f"ingest: snapshot total_launches {got} != {want}"))
        import oracles

        expected = oracles.analytics(self.base)
        for pos, (name, got) in sorted(self.answers.items()):
            if not oracles.same_rows(got, expected[name], ordered=name in ORDERED_READS):
                fails.append((
                    pos,
                    f"ingest: read {name} differs from DuckDB: "
                    f"{[tuple(r) for r in got[:2]]} != {expected[name][:2]}",
                ))
        return 3, fails


# The launch analytics reads: the four reference queries on both API
# surfaces, plus the snapshot history and trends of the aggregation
# service.
READS = (
    "top_payload_masses",
    "launch_site_utilization",
    "launch_performance_over_time",
    "time_between_static_fire_and_launch",
    "sql.top_payload_masses",
    "sql.launch_site_utilization",
    "sql.launch_performance_over_time",
    "sql.time_between_engine_test_and_actual_launch",
    "history",
    "trends",
)
ORDERED_READS = {"top_payload_masses", "sql.top_payload_masses", "history"}


def _analytics_frame(spark, base: str, name: str):
    from spacex_data_engineering_pipeline_spark.plans import launch_analytics as la
    from spacex_data_engineering_pipeline_spark.plans.aggregations import (
        AggregationService,
    )

    agg = AggregationService(spark, os.path.join(base, "snapshots"))
    if name == "history":
        return agg.history(10)
    if name == "trends":
        return agg.trends()
    launches = spark.read.parquet(os.path.join(base, "launches"))
    if name.startswith("sql."):
        launches.createOrReplaceTempView("launches")
        agg.snapshots().createOrReplaceTempView("launch_aggregations")
        return spark.sql(la.SQL_QUERIES[name[4:]])
    if name == "launch_performance_over_time":
        return la.launch_performance_over_time(agg.snapshots())
    return getattr(la, name)(launches)


# -- index_sync_cdc -----------------------------------------------------------

DOC_CDC_DDL = "doc_id long, text string, op string"
VEC_CDC_DDL = "vec_id long, embedding array<double>, op string"
BM25_K = 10
GRAPH_K = 5
FINAL_TERMS = ("spark", "vector", "stream")
# The reads' query terms are fixed, not seeded: a query reads its terms'
# hash buckets of postings, and bucket occupancy is uneven (1 to 6 of
# the vocabulary's words share a bucket), so seeded terms moved the
# records a pass reads by about 10% from seed to seed.
QUERY_TERMS = (("spark", "stream"), ("ledger", "vector"))


class IndexSyncCDC:
    """One pass: build the two roots from the base corpora (``init``),
    then ``N_TICKS`` ticks. A tick (``write``) lands one CDC file per
    root and drains both; it is followed by a read of each index at the
    new head and at the previous epoch, and by two drains of both roots
    with nothing new landed (``noop``). The pass ends with
    ``maintain_root`` on both roots (``maintain``), which compacts their
    tails."""

    N_TICKS = 1
    N_DOCS = 2500
    N_VECS = 1000

    def prepare(self, ctx: Context) -> None:
        self.stage = os.path.join(ctx.work, "stage")
        self.plan = gen.index_inputs(
            ctx.seed, self.stage, self.N_TICKS, self.N_DOCS, self.N_VECS
        )
        rng = np.random.default_rng([ctx.seed, 12])
        self.probe_ids = [
            sorted(int(i) for i in rng.choice(self.N_VECS, size=8, replace=False))
            for _ in range(2 * self.N_TICKS)
        ]

    def start_pass(self, ctx: Context, p: int) -> None:
        shutil.rmtree(os.path.join(ctx.work, f"index_{p - 1}"), ignore_errors=True)
        self.dir = os.path.join(ctx.work, f"index_{p}")
        self.reads: list[tuple] = []

    def _init(self, ctx: Context):
        from spacex_data_engineering_pipeline_spark.streaming import index_sync

        def op() -> bool:
            read = ctx.spark.read.parquet
            ctx.spanned(
                "streaming.index_sync",
                lambda: index_sync.init_bm25_root(
                    read(os.path.join(self.stage, "docs_base.parquet")),
                    self._path("bm25"), "doc_id", "text",
                ),
            )
            ctx.spanned(
                "streaming.index_sync",
                lambda: index_sync.init_knn_graph_root(
                    read(os.path.join(self.stage, "vecs_base.parquet")),
                    self._path("graph"), "vec_id", "embedding", k=GRAPH_K,
                ),
            )
            return (
                index_sync.read_index_pointer(self._path("bm25"))["max_epoch"] == 0
                and index_sync.read_index_pointer(self._path("graph"))["generation"] == 0
            )

        return op

    def _path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def _drain(self, ctx: Context, t: int, land: bool):
        """Drain both roots; the committed heads must then read ``t``."""
        from spacex_data_engineering_pipeline_spark.streaming import index_sync

        def op() -> bool:
            if land:
                for name in ("docs", "vecs"):
                    _land(
                        os.path.join(self.stage, f"{name}_cdc_{t - 1:03d}.parquet"),
                        self._path(f"src_{name}"),
                    )
            index_sync.sync_bm25_cdc_stream(
                ctx.spark, self._path("src_docs"), DOC_CDC_DDL,
                self._path("bm25"), self._path("ckpt_docs"),
            )
            index_sync.sync_knn_graph_cdc_stream(
                ctx.spark, self._path("src_vecs"), VEC_CDC_DDL,
                self._path("graph"), self._path("ckpt_vecs"),
            )
            return (
                index_sync.read_index_pointer(self._path("bm25"))["max_epoch"] == t
                and index_sync.read_index_pointer(self._path("graph"))["generation"] == t
            )

        return op

    def _bm25_read(self, ctx: Context, q: int, as_of: int | None, pos: int):
        from spacex_data_engineering_pipeline_spark.streaming import index_sync

        def op() -> bool:
            root = self._path("bm25")
            terms = QUERY_TERMS[q % len(QUERY_TERMS)]
            epoch = as_of
            if epoch is None:
                epoch = index_sync.read_index_pointer(root)["max_epoch"]
            rows = ctx.spanned(
                "streaming.bm25_sync",
                lambda: index_sync.bm25_topk_synced(
                    ctx.spark, root, terms, k=BM25_K, as_of_epoch=as_of
                ).collect(),
            )
            self.reads.append((pos, "bm25", epoch, terms, [tuple(r) for r in rows]))
            return len(rows) > 0

        return op

    def _graph_read(self, ctx: Context, q: int, as_of: int | None, pos: int):
        from pyspark.sql import functions as F

        from spacex_data_engineering_pipeline_spark.streaming import index_sync

        def op() -> bool:
            root = self._path("graph")
            gen_ = as_of
            if gen_ is None:
                gen_ = index_sync.read_index_pointer(root)["generation"]
            ids = self.probe_ids[q]
            rows = ctx.spanned(
                "streaming.index_sync",
                lambda: index_sync.load_synced_graph(
                    ctx.spark, root, as_of_generation=as_of
                )
                .filter(F.col("vec_id").isin(ids))
                .select("vec_id", "rnk", "neighbor", "cos_sim")
                .collect(),
            )
            self.reads.append((pos, "graph", gen_, ids, [tuple(r) for r in rows]))
            return True

        return op

    def _maintain(self, ctx: Context):
        from spacex_data_engineering_pipeline_spark.streaming import index_sync

        def op() -> bool:
            for root in ("bm25", "graph"):
                ctx.spanned(
                    "streaming.index_sync",
                    lambda: index_sync.maintain_root(
                        ctx.spark, self._path(root), max_tail_epochs=0
                    ),
                )
            return True

        return op

    def ops(self, ctx: Context, p: int):
        out = [("init", self._init(ctx))]
        for t in range(self.N_TICKS):
            out.append(("write", self._drain(ctx, t + 1, land=True)))
            for q, as_of in ((2 * t, None), (2 * t + 1, t)):
                out.append(("read", self._bm25_read(ctx, q, as_of, len(out))))
                out.append(("read", self._graph_read(ctx, q, as_of, len(out))))
            out += [("noop", self._drain(ctx, t + 1, land=False))] * 2
        out.append(("maintain", self._maintain(ctx)))
        return out

    def rows(self) -> int:
        return self.plan["base"]["rows"] + sum(t["rows"] for t in self.plan["ticks"])

    def landed_bytes(self) -> int:
        return self.plan["base"]["bytes"] + sum(t["bytes"] for t in self.plan["ticks"])

    def disk_bytes(self) -> int:
        return _du(self._path("bm25")) + _du(self._path("graph"))

    def ratio_denominators(self, ctx: Context) -> dict:
        return {
            "changed_ids": sum(t["vec_rows"] for t in self.plan["ticks"]),
            "bm25_queries": sum(1 for r in self.reads if r[1] == "bm25"),
        }

    def _states(self):
        """Corpus after each epoch 0..N_TICKS, replayed from the inputs."""

        def rows(name: str, key: str, val: str):
            t = pq.read_table(os.path.join(self.stage, name)).to_pydict()
            return zip(t[key], t[val], t.get("op", ["I"] * len(t[key])))

        def apply(state: dict, changes) -> dict:
            state = dict(state)
            for i, v, op in changes:
                if op == "D":
                    state.pop(i, None)
                else:
                    state[i] = v
            return state

        docs = apply({}, rows("docs_base.parquet", "doc_id", "text"))
        vecs = apply({}, rows("vecs_base.parquet", "vec_id", "embedding"))
        states = [(docs, vecs)]
        for t in range(self.N_TICKS):
            docs = apply(docs, rows(f"docs_cdc_{t:03d}.parquet", "doc_id", "text"))
            vecs = apply(vecs, rows(f"vecs_cdc_{t:03d}.parquet", "vec_id", "embedding"))
            states.append((docs, vecs))
        return states

    def check(self, ctx: Context) -> tuple[int, list]:
        import oracles

        from spacex_data_engineering_pipeline_spark.streaming import index_sync

        fails = []
        states = self._states()
        for pos, kind, at, q, got in self.reads:
            docs, vecs = states[at]
            if kind == "bm25":
                want = oracles.bm25_topk(docs, q, BM25_K)
            else:
                want = oracles.knn_rows(vecs, GRAPH_K, q)
            if not oracles.same_rows(got, want):
                fails.append(
                    (pos, f"index: {kind} read at {at} for {q}: {got[:3]} != {want[:3]}")
                )
        docs, vecs = states[-1]
        got = index_sync.bm25_topk_synced(
            ctx.spark, self._path("bm25"), FINAL_TERMS, k=BM25_K
        ).collect()
        if not oracles.same_rows(got, oracles.bm25_topk(docs, FINAL_TERMS, BM25_K)):
            fails.append((None, "index: final BM25 top-k differs from a batch BM25"))
        graph = (
            index_sync.load_synced_graph(ctx.spark, self._path("graph"))
            .select("vec_id", "rnk", "neighbor", "cos_sim")
            .collect()
        )
        if not oracles.same_rows(graph, oracles.knn_rows(vecs, GRAPH_K, sorted(vecs))):
            fails.append((None, "index: final graph differs from a full rebuild"))
        return 2, fails


# -- catalog keys -------------------------------------------------------------

# Catalog keys whose operators no other workload reaches: near-dup
# clustering with connected components (operators.dedup) and perceptual
# hashing with banded candidate pairs (operators.multimodal).
CATALOG_KEYS = ("dedup_keep_best", "multimodal_phash_near_dup")


class CatalogBatch:
    """One pass: every key of ``CATALOG_KEYS`` (``catalog``), run as
    ``bench.py`` runs a catalog key: ``QUERIES[key](spark, dir)``, its
    result collected, then the key's cached and checkpointed blocks
    released. The input directory holds a seeded test-schema
    ``documents`` table."""

    N_DOCS = 500

    def prepare(self, ctx: Context) -> None:
        self.dir = os.path.join(ctx.work, "catalog")
        self.inputs = gen.catalog_inputs(ctx.seed, self.dir, self.N_DOCS)

    def start_pass(self, ctx: Context, p: int) -> None:
        self.answers: dict[int, tuple[str, list]] = {}

    def _key(self, ctx: Context, key: str, pos: int):
        from spacex_data_engineering_pipeline_spark.plans.queries import QUERIES

        def op() -> bool:
            jsc = ctx.spark.sparkContext._jsc
            before = set(jsc.getPersistentRDDs().keys())
            rows = ctx.spanned(
                f"plans.queries.{key}", lambda: QUERIES[key](ctx.spark, self.dir).collect()
            )
            self.answers[pos] = key, rows
            ctx.spark.catalog.clearCache()
            gc.collect()  # drop the key's DataFrames before unpersisting
            for rid, rdd in jsc.getPersistentRDDs().items():
                if rid not in before:
                    rdd.unpersist()
            return True

        return op

    def ops(self, ctx: Context, p: int):
        return [("catalog", self._key(ctx, key, pos)) for pos, key in enumerate(CATALOG_KEYS)]

    def rows(self) -> int:
        return self.inputs["rows"]

    def landed_bytes(self) -> int:
        return self.inputs["bytes"]

    def disk_bytes(self) -> int:
        return 0

    def ratio_denominators(self, ctx: Context) -> dict:
        return {}

    def check(self, ctx: Context) -> tuple[int, list]:
        import oracles

        from spacex_data_engineering_pipeline_spark.plans.queries import oracle_sql

        sql = oracle_sql()
        fails = []
        for pos, (key, rows) in sorted(self.answers.items()):
            diff = oracles.catalog_diff(self.dir, rows, sql[key])
            if diff:
                fails.append((pos, f"catalog: {key} differs from its DuckDB oracle: {diff}"))
        return 0, fails


class Chain:
    """Workloads run back to back as one: one pass is a pass of each
    part, in order; sizes and checks add up."""

    def __init__(self, *parts):
        self.parts = parts

    def prepare(self, ctx: Context) -> None:
        for w in self.parts:
            w.prepare(ctx)

    def start_pass(self, ctx: Context, p: int) -> None:
        for w in self.parts:
            w.start_pass(ctx, p)

    def ops(self, ctx: Context, p: int):
        out, self.offsets = [], []
        for w in self.parts:
            self.offsets.append(len(out))
            out += w.ops(ctx, p)
        return out

    def rows(self) -> int:
        return sum(w.rows() for w in self.parts)

    def landed_bytes(self) -> int:
        return sum(w.landed_bytes() for w in self.parts)

    def disk_bytes(self) -> int:
        return sum(w.disk_bytes() for w in self.parts)

    def ratio_denominators(self, ctx: Context) -> dict:
        out: dict = {}
        for w in self.parts:
            out.update(w.ratio_denominators(ctx))
        return out

    def check(self, ctx: Context) -> tuple[int, list]:
        state_checks, fails = 0, []
        for w, off in zip(self.parts, self.offsets):
            n, part = w.check(ctx)
            state_checks += n
            fails += [(None if pos is None else pos + off, msg) for pos, msg in part]
        return state_checks, fails


WORKLOADS = {
    # the catalog keys ride on the ingest workload: a workload of their
    # own would not fit the benchmark's run budget (see README.md)
    "ingest_cycles": lambda: Chain(IngestCycles(), CatalogBatch()),
    "index_sync_cdc": IndexSyncCDC,
}
