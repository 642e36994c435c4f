"""Seeded input generators.

Every file a workload reads is written here, before its timed region,
from the ``--seed`` argument alone: the same seed writes byte-identical
rows. The base tables follow the shapes of the engine's sf0.1 test
schema (the TPC-H-style ``orders`` table, the ``documents`` text corpus
and the 64-d ``embeddings`` table); the engine only ever sees the
generated parquet files.
"""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The documents corpus vocabulary (the final BM25 check queries
# "spark", "vector" and "stream", as the catalog's BM25 keys do).
VOCAB = (
    "a the data spark stream vector batch table query scan filter join "
    "group agg sort hash merge window key value row column part line "
    "order customer fast slow big small index graph ledger epoch"
).split()
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDER_DAY0 = date(1992, 1, 1)
ORDER_DAYS = (date(1998, 8, 2) - ORDER_DAY0).days


def write(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


# -- base tables ------------------------------------------------------------


def orders(rng: np.random.Generator, n: int = 150_000) -> pa.Table:
    i = np.arange(n, dtype=np.int64)
    key = (i // 8) * 32 + (i % 8) + 1  # TPC-H's sparse order keys
    status = rng.choice(np.array(["F", "O", "P"]), size=n, p=(0.487, 0.488, 0.025))
    days = rng.integers(0, ORDER_DAYS, size=n)
    odate = np.datetime64(ORDER_DAY0.isoformat(), "us") + days.astype(
        "timedelta64[D]"
    ).astype("timedelta64[us]")
    return pa.table(
        {
            "o_orderkey": key,
            "o_custkey": rng.integers(1, 15_001, size=n),
            "o_orderstatus": status,
            "o_totalprice": np.round(rng.lognormal(11.5, 0.6, size=n), 2),
            "o_orderdate": pa.array(odate, pa.timestamp("us")),
            "o_orderpriority": rng.choice(np.array(PRIORITIES), size=n),
        }
    )


def texts(rng: np.random.Generator, n: int) -> list[str]:
    """Documents of 8-99 corpus words."""
    vocab = np.array(VOCAB)
    return [" ".join(rng.choice(vocab, size=int(w))) for w in rng.integers(8, 100, size=n)]


def vectors(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10):
    """Clustered unit vectors (float32 precision, as array<double>)."""
    centers = rng.normal(0, 1, size=(labels, dim))
    vec = centers[rng.integers(0, labels, size=n)] + rng.normal(0, 0.9, size=(n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.array(list(vec.astype(np.float32).astype(np.float64)), pa.list_(pa.float64()))


# -- ingest_cycles ----------------------------------------------------------

SLICE_DAYS = 14
CUT_DAYS = ((date(1997, 2, 1) - ORDER_DAY0).days, (date(1997, 4, 1) - ORDER_DAY0).days)
RAW_SCHEMA = pa.schema(
    [
        ("launch_id", pa.string()),
        ("mission_name", pa.string()),
        ("date_utc", pa.string()),
        ("success", pa.bool_()),
        ("payload_ids", pa.list_(pa.string())),
        ("launchpad_id", pa.string()),
        ("static_fire_date_utc", pa.string()),
    ]
)


def launches_from_orders(o: pa.Table) -> dict[str, np.ndarray]:
    """Launch-shaped raw columns derived from ``orders`` as ``bench.py``
    derives them, plus a static fire for every third customer so the
    delay analytics have rows to fold."""
    key = o.column("o_orderkey").to_numpy()
    day = (
        o.column("o_orderdate").to_numpy().astype("datetime64[D]")
        - np.datetime64(ORDER_DAY0.isoformat())
    ).astype(np.int64)
    cust = o.column("o_custkey").to_numpy()
    status = o.column("o_orderstatus").to_numpy(zero_copy_only=False)
    return {
        "key": key,
        "day": day,
        "cust": cust,
        "status": status,
        "prio": o.column("o_orderpriority").to_numpy(zero_copy_only=False),
        "mass": o.column("o_totalprice").to_numpy(),
    }


def _years(day: np.ndarray) -> np.ndarray:
    d = np.datetime64(ORDER_DAY0.isoformat()) + day.astype("timedelta64[D]")
    return d.astype("datetime64[Y]").astype(np.int64) + 1970


def _iso(day: np.ndarray, hours: np.ndarray | None = None) -> list[str]:
    base = datetime(ORDER_DAY0.year, ORDER_DAY0.month, ORDER_DAY0.day)
    if hours is None:
        hours = np.zeros(len(day), dtype=np.int64)
    return [
        (base + timedelta(days=int(d), hours=int(h))).strftime("%Y-%m-%dT%H:%M:%SZ")
        for d, h in zip(day, hours)
    ]


def raw_batch(cols: dict, idx: np.ndarray, null_id: np.ndarray) -> pa.Table:
    """Raw launch rows for ``idx``; rows flagged in ``null_id`` carry a
    NULL launch_id with a valid date (validation rejects)."""
    key = cols["key"][idx]
    day = cols["day"][idx]
    cust = cols["cust"][idx]
    status = cols["status"][idx]
    has_fire = cust % 3 == 0
    fire = [
        s if f else None
        for s, f in zip(_iso(day - 1, 30 - cust % 40), has_fire)
    ]
    ids = [None if n else str(k) for k, n in zip(key, null_id)]
    return pa.table(
        {
            "launch_id": ids,
            "mission_name": [f"Mission-{k}" for k in key],
            "date_utc": _iso(day),
            "success": [
                True if s == "F" else (False if s == "O" else None) for s in status
            ],
            "payload_ids": [[str(k)] for k in key],
            "launchpad_id": [f"pad-{p}" for p in cols["prio"][idx]],
            "static_fire_date_utc": fire,
        },
        schema=RAW_SCHEMA,
    )


def ingest_inputs(
    seed: int, out: str, n_rows: int, n_incremental: int, dup_share: float = 0.0
) -> dict:
    """Staging files for one ingest pass: ``initial.parquet``, then
    ``inc_<i>.parquet`` — consecutive ``SLICE_DAYS``-day slices after a
    seeded date cut, each touching one ``launch_year`` partition —
    and the payload dimension. ``dup_share`` of the valid rows appear
    twice (exact copies) in their batch. Returns the expected outcome
    of every run (rows, rejects, distinct ids after it, mass checksum)."""
    rng = np.random.default_rng([seed, 1])
    cols = launches_from_orders(orders(rng, n_rows))
    day = cols["day"]
    # a seeded cut early in 1997 (~77-80% of the rows load initially):
    # every incremental slice then rewrites the same full-year partition
    cut = int(rng.integers(CUT_DAYS[0], CUT_DAYS[1]))
    files, expected = [], []
    seen: dict[str, float] = {}
    mass = dict(zip(cols["key"].astype(str), cols["mass"]))

    def emit(name: str, idx: np.ndarray) -> None:
        idx = np.sort(idx)
        # ~0.5% rejects, never on a slice's latest day so the change
        # probe's latest row is always a valid one
        latest = day[idx].max()
        null_id = (rng.random(len(idx)) < 0.005) & (day[idx] < latest)
        dup = idx[(rng.random(len(idx)) < dup_share) & ~null_id]
        t = raw_batch(cols, np.r_[idx, dup], np.r_[null_id, np.zeros(len(dup), bool)])
        size = write(t, os.path.join(out, name))
        for k in cols["key"][idx][~null_id].astype(str):
            seen[k] = mass[k]
        files.append(name)
        expected.append(
            {
                "file": name,
                "bytes": size,
                "rows": t.num_rows,
                "rejects": int(null_id.sum()),
                "total_launches": len(seen),
                "years": sorted(set(_years(day[idx]).tolist())),
            }
        )

    emit("initial.parquet", np.flatnonzero(day < cut))
    lo = cut
    for i in range(n_incremental):
        hi = lo + SLICE_DAYS
        emit(f"inc_{i:03d}.parquet", np.flatnonzero((day >= lo) & (day < hi)))
        lo = hi
    payloads = pa.table(
        {
            "payload_id": cols["key"].astype(str),
            "name": [f"Payload-{k}" for k in cols["key"]],
            "mass_kg": cols["mass"].astype(np.float64),
        }
    )
    write(payloads, os.path.join(out, "payloads.parquet"))
    return {
        "files": files,
        "expected": expected,
        "final_ids": sorted(seen),
        "final_mass": float(np.round(sum(seen.values()), 2)),
    }


# -- index_sync_cdc ---------------------------------------------------------


class CorpusState:
    """The generator's model of a synced corpus: live ids and the next
    fresh id, so every CDC batch updates/deletes live ids and inserts
    new ones (at most one row per id per batch)."""

    def __init__(self, ids: np.ndarray):
        self.live = set(int(i) for i in ids)
        self.next_id = int(ids.max()) + 1

    def batch(self, rng: np.random.Generator, n: int, mix=(0.4, 0.4, 0.2)):
        n_i = int(round(n * mix[0]))
        n_d = int(round(n * mix[2]))
        n_u = n - n_i - n_d
        pool = np.array(sorted(self.live))
        touched = rng.choice(pool, size=n_u + n_d, replace=False)
        upd, dels = touched[:n_u], touched[n_u:]
        ins = np.arange(self.next_id, self.next_id + n_i)
        self.next_id += n_i
        self.live.difference_update(int(i) for i in dels)
        self.live.update(int(i) for i in ins)
        ids = np.r_[ins, upd, dels].astype(np.int64)
        ops = ["I"] * n_i + ["U"] * n_u + ["D"] * n_d
        return ids, ops


def doc_cdc(rng, state: CorpusState, n: int) -> pa.Table:
    ids, ops = state.batch(rng, n)
    return pa.table({"doc_id": ids, "text": texts(rng, len(ids)), "op": ops})


def vec_cdc(rng, state: CorpusState, n: int) -> pa.Table:
    ids, ops = state.batch(rng, n)
    return pa.table({"vec_id": ids, "embedding": vectors(rng, len(ids)), "op": ops})


def index_inputs(seed: int, out: str, n_ticks: int, n_docs: int, n_vecs: int) -> dict:
    """Base corpora (``docs_base``/``vecs_base``) plus one BM25 and one
    graph CDC file per tick, ~1.5% churn of each corpus."""
    rng = np.random.default_rng([seed, 2])
    docs = pa.table({"doc_id": np.arange(n_docs), "text": texts(rng, n_docs)})
    vecs = pa.table({"vec_id": np.arange(n_vecs), "embedding": vectors(rng, n_vecs)})
    base = {
        "rows": n_docs + n_vecs,
        "bytes": write(docs, os.path.join(out, "docs_base.parquet"))
        + write(vecs, os.path.join(out, "vecs_base.parquet")),
    }
    ds, vs = CorpusState(docs.column("doc_id").to_numpy()), CorpusState(
        vecs.column("vec_id").to_numpy()
    )
    ticks = []
    for t in range(n_ticks):
        d = doc_cdc(rng, ds, max(1, n_docs * 3 // 200))
        v = vec_cdc(rng, vs, max(1, n_vecs * 3 // 200))
        db = write(d, os.path.join(out, f"docs_cdc_{t:03d}.parquet"))
        vb = write(v, os.path.join(out, f"vecs_cdc_{t:03d}.parquet"))
        ticks.append(
            {"rows": d.num_rows + v.num_rows, "vec_rows": v.num_rows, "bytes": db + vb}
        )
    return {"base": base, "ticks": ticks}


# -- catalog keys -------------------------------------------------------------

LANGS = ("en", "zh", "es", "fr", "de")


def catalog_inputs(seed: int, out: str, n_docs: int) -> dict:
    """``documents.parquet``, the test-schema table the catalog keys
    read, shaped like the engine's test data: corpus-vocabulary texts,
    ~5% of them near-duplicates of an earlier doc with trailing ``dup``
    tokens. Returns rows and bytes written."""
    rng = np.random.default_rng([seed, 3])
    text = texts(rng, n_docs)
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            src = int(rng.integers(0, i))
            text[i] = text[src] + " dup" * int(rng.integers(1, 3))
    ids = np.arange(n_docs, dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": ids,
            "text": text,
            "lang": rng.choice(np.array(LANGS), size=n_docs, p=(0.42, 0.15, 0.15, 0.14, 0.14)),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )
    return {"rows": n_docs, "bytes": write(docs, os.path.join(out, "documents.parquet"))}
