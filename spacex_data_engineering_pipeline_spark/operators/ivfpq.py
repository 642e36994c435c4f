"""IVF-PQ hybrid ANN: coarse inverted-file partitioning + product-
quantized residuals — the canonical billion-vector recipe (Jégou et al.
2011, §V "IVFADC"; FAISS `IndexIVFPQ`), composed from this repo's two
halves (`similarity.py` IVF, `pq.py` PQ):

- **IVF** prunes WHICH rows are scanned: postings live partitioned by
  coarse cluster, a probe touches ``n_probes`` partitions.
- **PQ** shrinks WHAT is scanned: each posting stores ``n_subq`` byte
  codes of the RESIDUAL (vector − its cluster centroid), so the probed
  partitions are read at 32× less bandwidth than float vectors.
- **ADC** scores candidates with per-cluster lookup tables (residual
  quantization means the query's LUT depends on the cluster the
  candidate lives in — built driver-side for just the probed clusters).
- **Rerank** fetches float vectors for only the ADC shortlist and
  exact-ranks, so quantization noise only has to keep the true top-k
  inside the shortlist, not order it.

Spark shape: both trainings happen on ONE bounded driver-side sample
(no MLlib job storm); assignment+encoding is ONE Arrow-batched map pass
(scan speed, no shuffle); the probe is a partition-prunable filter +
narrow ADC map + TakeOrderedAndProject; the rerank reads floats for
~tens of rows via a broadcast semi-join. Persisting follows
``IvfIndex.save``'s layout (postings ``partitionBy("cluster")`` with the
``code`` column riding along, centroids/codebooks as JSON sidecars);
incremental adds follow ``append_to_ivf_index`` — assign+encode the new
batch against the FROZEN quantizers and append its partitions.

Correctness contract (mirrors ivf_topk's): with every cluster probed
and a corpus-covering shortlist the search is EXACT (drives the catalog
query's DuckDB oracle); the recall/cost dials (n_probes, shortlist) are
pytest-gated floors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spacex_data_engineering_pipeline_spark.operators.pq import _lloyd_kmeans
from spacex_data_engineering_pipeline_spark.session import read_parquet


class IvfPqIndex:
    """Handle over the hybrid index: ``postings`` is
    (id, cluster, code[array<int>]); centroids (n_clusters, dim) and
    codebooks (n_subq, n_centroids, sub_dim) are driver-side KiB-scale
    tensors trained on a bounded sample."""

    def __init__(
        self,
        postings: DataFrame,
        centroids: np.ndarray,
        codebooks: np.ndarray,
        id_col: str,
    ):
        self.postings = postings
        self.centroids = centroids
        self.codebooks = codebooks
        self.id_col = id_col

    def probe_clusters(self, query_vec: list[float], n_probes: int) -> list[int]:
        """Driver-side numpy scan: the ``n_probes`` centroids nearest the
        query by squared L2 (the PQ metric). No Spark job."""
        q = np.asarray(query_vec, dtype="float64")
        d2 = ((self.centroids - q) ** 2).sum(axis=1)
        return [int(i) for i in np.argsort(d2)[:n_probes]]

    def unpersist(self) -> None:
        self.postings.unpersist()

    def save(self, path: str) -> None:
        """Persist the index: postings ``partitionBy("cluster")`` (the
        probed-cluster filter then PRUNES AT FILE LISTING — a 2-of-1024
        probe reads 2 directories of byte codes, not the corpus) plus
        the KiB-scale quantizer tensors as a JSON sidecar."""
        import json
        import os

        self.postings.write.mode("overwrite").partitionBy("cluster").parquet(
            os.path.join(path, "postings")
        )
        with open(os.path.join(path, "quantizers.json"), "w") as f:
            json.dump(
                {
                    "centroids": self.centroids.tolist(),
                    "codebooks": self.codebooks.tolist(),
                    "id_col": self.id_col,
                },
                f,
            )


def load_ivfpq_index(spark, path: str) -> IvfPqIndex:
    """Reopen a saved IVF-PQ index: the postings scan stays lazy (probes
    partition-prune it); quantizers rehydrate driver-side."""
    import json
    import os

    with open(os.path.join(path, "quantizers.json")) as f:
        q = json.load(f)
    postings = read_parquet(spark, os.path.join(path, "postings"))
    return IvfPqIndex(
        postings,
        np.asarray(q["centroids"], dtype="float64"),
        np.asarray(q["codebooks"], dtype="float64"),
        q["id_col"],
    )


def build_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 8,
    n_subq: int = 8,
    n_centroids: int = 16,
    seed: int = 42,
    sample_cap: int = 65536,
    persist: bool = True,
) -> IvfPqIndex:
    """Train the coarse quantizer AND the residual codebooks on one
    bounded driver sample, then assign + encode the whole corpus in a
    single Arrow-batched map pass.

    Residual encoding (classic IVFADC): codebooks quantize
    ``x − centroid(x)``, which has much lower variance than ``x`` itself,
    so the same byte budget buys materially less quantization error than
    coding raw vectors.
    """
    from spacex_data_engineering_pipeline_spark.operators.util import (
        deterministic_sample_vectors,
    )

    sample_rows = deterministic_sample_vectors(df, id_col, vec_col, sample_cap)
    if not sample_rows:
        raise ValueError("cannot build an IVF-PQ index over an empty corpus")
    X = np.asarray(sample_rows, dtype="float64")
    dim = X.shape[1]
    if dim % n_subq != 0:
        raise ValueError(f"dim ({dim}) must divide evenly into n_subq ({n_subq}) chunks")
    sub = dim // n_subq

    centroids = _lloyd_kmeans(X, n_clusters, seed)
    labels = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    R = X - centroids[labels]
    codebooks = np.stack(
        [
            _lloyd_kmeans(R[:, s * sub : (s + 1) * sub], n_centroids, seed + 1 + s)
            for s in range(n_subq)
        ]
    )

    @F.pandas_udf("struct<cluster:int, code:array<int>>")
    def _assign_encode(batch: pd.Series) -> pd.DataFrame:
        M = np.asarray([np.asarray(v, dtype="float64") for v in batch])
        if M.size == 0:
            return pd.DataFrame({"cluster": pd.Series([], dtype="int32"), "code": []})
        d2 = ((M[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        cl = d2.argmin(axis=1)
        R = M - centroids[cl]
        codes = np.empty((len(M), n_subq), dtype="int32")
        for s in range(n_subq):
            chunk = R[:, s * sub : (s + 1) * sub]
            cd2 = (codebooks[s] ** 2).sum(axis=1)[None, :] - 2.0 * chunk @ codebooks[s].T
            codes[:, s] = cd2.argmin(axis=1)
        return pd.DataFrame({"cluster": cl.astype("int32"), "code": list(codes)})

    enc = df.select(F.col(id_col), _assign_encode(F.col(vec_col)).alias("e")).select(
        id_col, F.col("e.cluster").alias("cluster"), F.col("e.code").alias("code")
    )
    if persist:
        enc = enc.persist()
    return IvfPqIndex(enc, centroids, codebooks, id_col)


def ivfpq_shortlist(
    index: IvfPqIndex,
    query_vec: list[float],
    n_shortlist: int,
    n_probes: int = 2,
) -> DataFrame:
    """The ADC stage alone: probe ``n_probes`` clusters, score their
    codes against per-cluster residual LUTs, return the ``n_shortlist``
    nearest posting ids (one column). The probed-cluster filter is a
    partition-prunable predicate under the saved layout; scoring is a
    narrow Arrow map; selection is TakeOrderedAndProject.
    """
    q = np.asarray(query_vec, dtype="float64")
    n_subq, _, sub = index.codebooks.shape
    probe_ids = index.probe_clusters(query_vec, n_probes)
    luts = {}
    for c in probe_ids:
        r = q - index.centroids[c]
        luts[c] = np.stack(
            [
                ((index.codebooks[s] - r[s * sub : (s + 1) * sub]) ** 2).sum(axis=1)
                for s in range(n_subq)
            ]
        )
    sub_idx = np.arange(n_subq)

    @F.pandas_udf("double")
    def _adc(clusters: pd.Series, codes: pd.Series) -> pd.Series:
        cl = clusters.to_numpy()
        C = np.asarray([np.asarray(c, dtype="int64") for c in codes])
        if C.size == 0:
            return pd.Series([], dtype="float64")
        out = np.empty(len(C), dtype="float64")
        for c in np.unique(cl):
            m = cl == c
            out[m] = luts[int(c)][sub_idx, C[m]].sum(axis=1)
        return pd.Series(out)

    return (
        index.postings.filter(F.col("cluster").isin(probe_ids))
        .select(index.id_col, _adc(F.col("cluster"), F.col("code")).alias("approx_dist2"))
        .orderBy(F.col("approx_dist2").asc(), F.col(index.id_col).asc())
        .limit(n_shortlist)
        .select(index.id_col)
    )


def ivfpq_topk(
    index: IvfPqIndex,
    vectors: DataFrame,
    vec_col: str,
    query_vec: list[float],
    k: int = 10,
    n_probes: int = 2,
    shortlist_factor: int = 4,
) -> DataFrame:
    """Probe: ADC over the probed clusters' codes → shortlist → exact
    squared-L2 rerank over the shortlist's float vectors.

    Per-cluster LUTs: residual coding means the query must be expressed
    relative to EACH probed centroid — ``n_probes`` small (n_subq ×
    n_centroids) tables, built driver-side, closed over the scoring UDF.
    Returns (id, dist2) ascending by exact squared L2, ``k`` rows.
    """
    q = np.asarray(query_vec, dtype="float64")
    shortlist = ivfpq_shortlist(
        index, query_vec, n_shortlist=k * shortlist_factor, n_probes=n_probes
    )

    @F.pandas_udf("double")
    def _exact_d2(batch: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(v, dtype="float64") for v in batch])
        if M.size == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(((M - q) ** 2).sum(axis=1))

    return (
        vectors.join(F.broadcast(shortlist), index.id_col, "left_semi")
        .select(index.id_col, _exact_d2(F.col(vec_col)).alias("dist2"))
        .orderBy(F.col("dist2").asc(), F.col(index.id_col).asc())
        .limit(k)
    )
