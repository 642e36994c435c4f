"""Independent answers the benchmark's output checks compare against:
plain Python/numpy over the generator's replayed corpus states, and
DuckDB over the pipeline's tables. None of it calls the engine."""

from __future__ import annotations

import math
from collections import Counter
from datetime import datetime, timezone
from decimal import ROUND_FLOOR, ROUND_HALF_UP, Decimal

import numpy as np


def spark_round(x: float, places: int) -> float:
    """Spark's ``round`` on a double: HALF_UP on its shortest repr."""
    q = Decimal(1).scaleb(-places)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def bm25_topk(docs: dict, terms, k: int, k1: float = 1.2, b: float = 0.75):
    """[(doc_id, score)] of Lucene's nonnegative-idf BM25 over ``docs``
    (id -> text), whitespace-tokenized, scores rounded to 4 places."""
    toks = {d: (t or "").split() for d, t in docs.items()}
    n = len(toks)
    avgdl = sum(len(w) for w in toks.values()) / n
    tf = {t: {} for t in terms}
    for d, w in toks.items():
        c = Counter(w)
        for t in terms:
            if c[t]:
                tf[t][d] = c[t]
    scores: dict = {}
    for t in terms:
        df = float(len(tf[t]))
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        for d, f in tf[t].items():
            f = float(f)
            dl = float(len(toks[d]))
            s = idf * (f * (k1 + 1.0)) / (f + k1 * ((1.0 - b) + b * dl / avgdl))
            scores[d] = scores.get(d, 0.0) + s
    ranked = sorted(
        ((d, spark_round(s, 4)) for d, s in scores.items()), key=lambda r: (-r[1], r[0])
    )
    return ranked[:k]


def knn_rows(vecs: dict, k: int, ids, slack: float = 1e-6):
    """[(id, rnk, neighbor, cos_sim)] of the exact cosine kNN graph over
    ``vecs`` (id -> vector) for the query ``ids`` present in it: cosine
    as a strict left-to-right float64 fold, rounded to 6 places, ranked
    by (cos desc, neighbor asc)."""
    all_ids = np.array(sorted(vecs), dtype=np.int64)
    mat = np.array([np.asarray(vecs[i], dtype=np.float64) for i in all_ids])
    nrm = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
    out = []
    for q in ids:
        if q not in vecs:
            continue
        r = int(np.searchsorted(all_ids, q))
        approx = (mat @ mat[r]) / (nrm * nrm[r])
        ok = all_ids != q
        kth = -np.partition(-approx[ok], k - 1)[k - 1]
        cand = np.nonzero(ok & (approx >= kth - slack - 1e-8))[0]
        cos = np.cumsum(mat[cand] * mat[r][None, :], axis=1)[:, -1] / (nrm[cand] * nrm[r])
        ranked = sorted(
            ((spark_round(c, 6), int(all_ids[i])) for c, i in zip(cos, cand)),
            key=lambda x: (-x[0], x[1]),
        )[:k]
        out += [(int(q), rnk + 1, nb, c) for rnk, (c, nb) in enumerate(ranked)]
    return out


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, np.generic):
        return v.item()
    return v


class OneOf(tuple):
    """An expected value either of whose members is right."""


def _eq(a, b) -> bool:
    if isinstance(b, OneOf):
        return any(_eq(a, x) for x in b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
        except (TypeError, ValueError):
            return False
    return a == b


def same_rows(got, want, ordered: bool = False) -> bool:
    """Row lists equal value for value (floats to 1e-9), order-insensitive
    unless ``ordered``."""
    g = [tuple(_norm(v) for v in r) for r in got]
    w = [tuple(_norm(v) for v in r) for r in want]
    if len(g) != len(w):
        return False
    if not ordered:
        key = lambda r: tuple((v is None, str(v)) for v in r)  # noqa: E731
        g.sort(key=key)
        w.sort(key=key)
    return all(
        len(x) == len(y) and all(_eq(a, b) for a, b in zip(x, y)) for x, y in zip(g, w)
    )


def _duck(base: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE VIEW launches AS SELECT * REPLACE ("
        "date_utc::TIMESTAMP AS date_utc, "
        "static_fire_date_utc::TIMESTAMP AS static_fire_date_utc) "
        f"FROM read_parquet('{base}/launches/**/*.parquet', hive_partitioning = true)"
    )
    con.execute(
        "CREATE VIEW snaps AS SELECT * REPLACE ("
        "updated_at::TIMESTAMP AS updated_at, "
        "earliest_launch_date::TIMESTAMP AS earliest_launch_date, "
        "latest_launch_date::TIMESTAMP AS latest_launch_date, "
        "last_processed_launch_date::TIMESTAMP AS last_processed_launch_date) "
        f"FROM read_parquet('{base}/snapshots/*.parquet')"
    )
    return con


def _avg_round(total, n, places: int = 2):
    """``round(avg(x), places)`` of ``n`` values that sum exactly to
    ``total``. When the exact mean sits on a rounding boundary (2-place
    inputs averaged often do), the engine's double sum, whose value
    depends on the order it reads its files in, decides the direction:
    either neighbour is then right."""
    if not n:
        return None
    mean = Decimal(total) / n
    q = Decimal(1).scaleb(-places)
    lo = mean.quantize(q, rounding=ROUND_FLOOR)
    if mean - lo == q / 2:
        return OneOf((float(lo), float(lo + q)))
    return float(mean.quantize(q, rounding=ROUND_HALF_UP))


def analytics(base: str) -> dict[str, list]:
    """Expected answer of every ingest read (names as in
    ``workloads.READS``) over the pipeline's final tables: DuckDB
    filters and groups, averages are rounded here with Spark's rule."""
    con = _duck(base)
    q = lambda sql: con.execute(sql).fetchall()  # noqa: E731
    top = q(
        "SELECT launch_id, mission_name, date_utc, total_payload_mass_kg, "
        "success, launchpad_id FROM launches "
        "WHERE total_payload_mass_kg IS NOT NULL "
        "ORDER BY total_payload_mass_kg DESC, launch_id ASC LIMIT 5"
    )
    sites = [
        (site, n, _avg_round(s, c))
        for site, n, s, c in q(
            "SELECT launchpad_id, count(*), "
            "sum(total_payload_mass_kg::DECIMAL(38, 6)), "
            "count(total_payload_mass_kg) FROM launches "
            "WHERE launchpad_id IS NOT NULL GROUP BY launchpad_id"
        )
    ]
    perf = [
        (y, _avg_round(s, c))
        for y, s, c in q(
            "SELECT year(updated_at), sum(success_rate::DECIMAL(38, 6)), "
            "count(success_rate) "
            "FROM snaps WHERE success_rate IS NOT NULL GROUP BY 1"
        )
    ]
    delay = [
        # integer hours: the engine's double sum is exact, so is its rounding
        (y, n, spark_round(s / n, 2), m)
        for y, n, s, m in q(
            "WITH d AS (SELECT year(date_utc) AS y, CAST(floor("
            "(epoch(date_utc) - epoch(static_fire_date_utc)) / 3600) AS BIGINT) AS h "
            "FROM launches WHERE static_fire_date_utc IS NOT NULL "
            "AND static_fire_date_utc <= date_utc) "
            "SELECT y, count(*), sum(h), max(h) FROM d GROUP BY y"
        )
    ]
    history = q("SELECT * FROM snaps ORDER BY updated_at DESC, id DESC LIMIT 10")
    series = q(
        "SELECT id, updated_at, snapshot_type, total_launches, success_rate "
        "FROM snaps ORDER BY updated_at, id"
    )
    trends = []
    for i, (sid, at, kind, n, rate) in enumerate(series):
        prev = series[i - 1] if i else None
        trends.append(
            (
                sid, at, kind, n, rate,
                None if prev is None else n - prev[3],
                None if prev is None or rate is None or prev[4] is None
                else spark_round(rate - prev[4], 2),
            )
        )
    con.close()
    return {
        "top_payload_masses": top,
        "sql.top_payload_masses": top,
        "launch_site_utilization": sites,
        "sql.launch_site_utilization": sites,
        "launch_performance_over_time": perf,
        "sql.launch_performance_over_time": perf,
        "time_between_static_fire_and_launch": delay,
        "sql.time_between_engine_test_and_actual_launch": delay,
        "history": history,
        "trends": trends,
    }


def catalog_diff(table_dir: str, rows, sql: str) -> str:
    """Empty when the collected ``rows`` equal DuckDB's answer to a
    catalog key's ``oracle_sql`` over the parquet tables in ``table_dir``
    (one view per file), compared as the engine's oracle gate compares
    them: columns by name, rows order-insensitive, floats to 1e-9.
    Otherwise, what differs."""
    import os

    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(table_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    want = res.fetchall()
    con.close()
    names = list(rows[0].__fields__) if rows else cols
    if sorted(names) != sorted(cols):
        return f"columns {sorted(names)} != {sorted(cols)}"
    got = [tuple(r[names.index(c)] for c in cols) for r in rows]
    if not same_rows(got, want):
        return f"{len(got)} rows {got[:2]} != {len(want)} rows {want[:2]}"
    return ""
