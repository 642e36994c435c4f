"""Deduplication operators for large text corpora (SURVEY §2.11).

Four tiers, all shuffle-disciplined for the 100 TB path:

- ``exact_dedup``      — hash-partitioned exact duplicate removal.
- ``ngram_jaccard_pairs`` — exact set-overlap pairs within a blocking key.
- ``minhash_near_dup_pairs`` — MinHash signatures → LSH banding →
  bucket-join candidates → exact-Jaccard verification. Entirely native
  expressions (xxhash64 / transform / array_min), no Python boundary.
- ``simhash`` — 64-bit SimHash via an Arrow-batched pandas UDF
  (vectorized bit-packing is the one step built-ins can't express).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from spacex_data_engineering_pipeline_spark.functions.text import with_word_ngrams
from spacex_data_engineering_pipeline_spark.operators.util import (
    release_caches_with,
    spread as _spread,
)


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[Column]) -> DataFrame:
    """Keep exactly one row per duplicate group, deterministically.

    Window-partitions by ``xxhash64(keys)`` *and* the keys themselves:
    the 8-byte hash makes the shuffle key fixed-width at scale (don't
    shuffle multi-KB text), the raw keys break hash collisions, and the
    ``order_cols`` pick the surviving row (reference resolves the same
    problem with ON CONFLICT (pk) DO UPDATE, src/database.py:169-184).
    """
    keys = [F.col(c) for c in key_cols]
    w = Window.partitionBy(F.xxhash64(*keys), *keys).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    min_jaccard_micro: int = 500_000,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for all pairs sharing a
    blocking key; emits pairs with similarity ≥ threshold.

    Jaccard is reported in exact integer micro-units
    (``floor(|∩| * 1_000_000 / |∪|)``) so heterogeneous engines agree
    bit-for-bit with no float-rounding hazard.

    Scale — inverted-index plan, NOT a blocked cross-product:
    1. explode distinct shingles → (block, gram, doc, |grams|);
    2. equi-join on (block, gram) → one row per co-occurring gram per
       pair: cost is Σ|posting list|², not |block|²·|grams| — shuffles
       narrow fixed-width rows, never the gram arrays;
    3. groupBy pair → shared-gram count (map-side partial agg), then
       jaccard from the carried set sizes.
    Pairs sharing zero grams never materialize (their jaccard is 0,
    below any positive threshold). Hot shingles (stop-gram posting
    lists) are the skew risk — AQE skew-join splits them.
    """
    grams = (
        # NOT _spread here: measured 1.6x slower end-to-end — widening
        # the input perturbs AQE's broadcast choice for the posting-list
        # self-join; the map work rides the join shuffle anyway
        with_word_ngrams(df, text_col, n, out_col="grams", distinct=True)
        .select(F.col(id_col).alias("doc"), F.col(block_col).alias("block"), "grams")
        .filter(F.size("grams") > 0)
        .select("doc", "block", F.size("grams").cast("long").alias("n_grams"), "grams")
        # feeds both self-join branches: materialize once. persist(), not
        # lazy localCheckpoint: a lazy checkpoint runs as a separate job
        # whose SQL-metric accumulators are unregistered before late task
        # completions land (spurious "Failed to update accumulator"
        # DAGScheduler errors); persist computes blocks inside the one
        # consuming action with no extra job.
        .persist()
    )
    postings = grams.select(
        "doc", "block", "n_grams", F.explode("grams").alias("gram")
    )
    # True self-join (same lineage, aliased): the shuffle exchange under
    # both sides canonicalizes identically, so Spark plans ONE shingle+
    # explode+exchange subtree and reuses it (ReusedExchange) instead of
    # computing the postings twice.
    a, b = postings.alias("a"), postings.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.n_grams").alias("na"),
            F.col("b.n_grams").alias("nb"),
        )
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union = F.col("na") + F.col("nb") - F.col("inter")
    out = (
        shared.withColumn(
            "jaccard_micro", F.floor((F.col("inter") * F.lit(1_000_000)) / union).cast("long")
        )
        .filter(F.col("jaccard_micro") >= min_jaccard_micro)
        .select("doc_a", "doc_b", "jaccard_micro")
    )
    # cache residency is bounded by the returned handle's lifetime
    return release_caches_with(out, grams)


_MINHASH_P = 2_147_483_647  # 2^31 - 1, prime — universal-hash modulus


def content_defined_chunk_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    carry_cols: list[str] | None = None,
    window: int = 3,
    modulus: int = 16,
) -> DataFrame:
    """Content-defined chunking (Rabin/FastCDC on word streams): a
    chunk boundary falls BEFORE token p wherever the portable md5 of
    the ``window`` tokens ending at p−1 lands in 1/``modulus`` of coin
    space. Boundaries are a pure function of LOCAL content — the CDC
    property: inserting or deleting a span changes only the chunks
    whose windows overlap the edit, every other chunk keeps its
    identity (fixed-size chunking would shift every later chunk).
    That edit-locality is pinned by pytest; the aggregate dedup ratio
    is the oracle-graded ``content_defined_chunks`` catalog entry.

    Returns one row per chunk: (id_col, *carry_cols, chunk_id,
    chunk_pos [1-based first-token position], n_toks, chunk_hash).

    Plan: boundary flags computed ARRAY-side with the shifted-copy
    n-gram idiom, aligned to tokens by row-level concat/slice — NEVER
    an element_at-in-lambda, which re-derives the whole md5 chain per
    element (measured 30.3 s → 1.6 s at sf0.1 for the catalog entry);
    then one posexplode → per-doc running-sum window (hash-partitioned
    by doc) → grouped chunk reassembly. Per-doc work is O(tokens).
    """
    from spacex_data_engineering_pipeline_spark.functions.text import (
        ngrams_from_words,
        words,
    )

    carry = list(carry_cols or [])
    w = words(F.col(text_col))
    staged = df.select(id_col, *carry, w.alias("__w")).withColumn(
        "__grams", ngrams_from_words(F.col("__w"), window)
    )
    coin = lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast(
        "long"
    ) % modulus
    staged = staged.withColumn(
        "__bf",
        F.transform(F.col("__grams"), lambda g: (coin(g) == 0).cast("int")),
    ).withColumn(
        "__sf",
        F.concat(
            F.slice(
                F.array(*[F.lit(0) for _ in range(window)]),
                1,
                F.least(F.size("__w"), F.lit(window)),
            ),
            F.slice(
                F.col("__bf"), 1, F.greatest(F.size("__w") - window, F.lit(0))
            ),
        ),
    )
    tok = staged.select(
        id_col,
        *carry,
        F.posexplode(F.arrays_zip("__w", "__sf")).alias("__p0", "__z"),
    ).select(
        id_col,
        *carry,
        (F.col("__p0") + 1).alias("__p"),
        F.col("__z.__w").alias("__tok"),
        F.col("__z.__sf").alias("__flag"),
    )
    wd = Window.partitionBy(id_col).orderBy("__p")
    ck = tok.withColumn(
        "chunk_id",
        F.sum("__flag").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return ck.groupBy(id_col, *carry, "chunk_id").agg(
        F.min("__p").alias("chunk_pos"),
        F.count(F.lit(1)).alias("n_toks"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__p", "__tok"))),
                    lambda s: s["__tok"],
                ),
            )
        ).alias("chunk_hash"),
    )


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic ``(a_i, b_i)`` coefficients for the classic
    universal hash family ``h_i(x) = (a_i·x + b_i) mod P`` that drives
    the MinHash permutations. Derived from MD5 of fixed strings — pure
    integer literals any engine can consume, which is what lets the
    DuckDB oracle replay the ENTIRE LSH pipeline value-exactly (the
    SimHash portable-hash recipe, applied to MinHash)."""
    import hashlib

    out: list[tuple[int, int]] = []
    for i in range(num_hashes):
        a = (
            int.from_bytes(hashlib.md5(f"minhash:a:{i}".encode()).digest()[:8], "big")
            % (_MINHASH_P - 1)
            + 1
        )
        b = (
            int.from_bytes(hashlib.md5(f"minhash:b:{i}".encode()).digest()[:8], "big")
            % _MINHASH_P
        )
        out.append((a, b))
    return out


def _minhash_band_hashes_udf(num_hashes: int, bands: int):
    """ALL bands' LSH keys in ONE Arrow-vectorized pass. The pure-
    expression form (num_hashes affine hashes per shingle inside nested
    transform/aggregate lambdas) is interpreted per element — the same
    never-enters-codegen wall the sign-LSH banding hit
    (operators/similarity.py) — measured ~2 s of the 5 s total at
    sf0.1. This computes the IDENTICAL portable math in numpy: base =
    first 7 MD5 hex digits (hashlib == F.md5 on UTF-8 bytes), h =
    (base·a + b) mod P in exact int64 (base < 2^28, a < P ⇒ product
    < 2^59), per-band min, band key = MD5 of the comma-joined vector —
    so the candidate set, and the DuckDB oracle replay, are unchanged
    bit-for-bit. Shared by the batch all-pairs pipeline and the
    incremental index probe (same builder ⇒ the probe's index keys are
    the batch pipeline's keys by construction)."""
    import hashlib as _hashlib

    coeffs = minhash_coeffs(num_hashes)
    rows_per_band = num_hashes // bands
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)

    @pandas_udf("array<string>")
    def _band_hashes(shingle_col: pd.Series) -> pd.Series:
        out = []
        for shingles in shingle_col:
            if shingles is None or len(shingles) == 0:
                out.append(None)
                continue
            bases = np.array(
                [
                    int(_hashlib.md5(s.encode("utf-8")).hexdigest()[:7], 16)
                    for s in shingles
                ],
                dtype=np.int64,
            )
            hs = (bases[:, None] * a_vec + b_vec) % _MINHASH_P  # (m, k)
            sig = hs.min(axis=0)  # (k,)
            out.append(
                [
                    _hashlib.md5(
                        ",".join(
                            str(v)
                            for v in sig[b * rows_per_band : (b + 1) * rows_per_band]
                        ).encode("utf-8")
                    ).hexdigest()
                    for b in range(bands)
                ]
            )
        return pd.Series(out)

    return _band_hashes


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_jaccard_micro: int = 500_000,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verification.

    Plan shape (the standard scale-out LSH pipeline):
    1. signature stage — narrow map, no shuffle;
    2. band explode — k/bands-wide band keys, one shuffle on
       (band_idx, band_hash): only docs agreeing on a whole band meet;
    3. candidate pairs — within-bucket self-pairing, dedup'd;
    4. verification — join shingle sets back, exact integer-micro
       Jaccard, threshold filter (kills LSH false positives).

    Every hash in the pipeline is PORTABLE (MD5 base + affine
    permutations, see ``minhash_coeffs``), so a SQL oracle replays the
    exact candidate set — the whole operator is value-exact gradable,
    not just recall-floor testable.

    Returns (doc_a, doc_b, jaccard_micro BIGINT).
    """
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands}) — uneven bands silently drop hashes, and "
            "bands > num_hashes degenerates every band to one signature"
        )
    grams = (
        # NOT _spread here: measured slower end-to-end — widening the
        # input replaces AQE's broadcast of the narrow banded table
        # with a shuffle join, which costs more than the parallelism
        # saves at LSH-bucket cardinalities
        with_word_ngrams(df, text_col, shingle_n, out_col="shingles", distinct=True)
        .select(F.col(id_col).alias("doc"), "shingles")
        .filter(F.size("shingles") > 0)
        # the shingle table feeds three consumers (banding + both
        # verification joins); materialize it once instead of
        # recomputing the shingling 3x (persist, not lazy checkpoint —
        # see ngram_jaccard_pairs for why).
        .persist()
    )

    _band_hashes = _minhash_band_hashes_udf(num_hashes, bands)

    banded = (
        grams.select(
            "doc",
            F.posexplode(_band_hashes(F.col("shingles"))).alias(
                "band_idx", "band_hash"
            ),
        )
        # materialize once: both self-join branches read the same blocks
        # (an explicit repartition here measured SLOWER — AQE picks a
        # broadcast join for the narrow banded table and skips the
        # shuffle entirely)
        .persist()
    )

    bl, br = banded.alias("l"), banded.alias("r")
    candidates = (
        bl.join(
            br,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )

    # Exact verification: join the shingle sets back by doc id (narrow
    # keys through the LSH shuffle; arrays move only for candidates).
    ga = grams.select(F.col("doc").alias("doc_a"), F.col("shingles").alias("grams_a"))
    gb = grams.select(F.col("doc").alias("doc_b"), F.col("shingles").alias("grams_b"))
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b"))).cast("long")
    union = (
        F.size(F.col("grams_a")).cast("long") + F.size(F.col("grams_b")).cast("long") - inter
    )
    out = (
        candidates.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("jaccard_micro", F.floor((inter * F.lit(1_000_000)) / union).cast("long"))
        .filter(F.col("jaccard_micro") >= min_jaccard_micro)
        .select("doc_a", "doc_b", "jaccard_micro")
    )
    # cache residency is bounded by the returned handle's lifetime
    return release_caches_with(out, grams, banded)


def _minhash_grams(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    return (
        with_word_ngrams(df, text_col, shingle_n, out_col="shingles", distinct=True)
        .select(F.col(id_col).alias("doc"), "shingles")
        .filter(F.size("shingles") > 0)
        .persist()
    )


def build_minhash_index(
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Build the persisted corpus side of incremental dedup ONCE:
    returns ``(grams, banded)`` — the shingle table (for exact
    verification) and the (doc, band_idx, band_hash) band-key index
    (for candidate generation). Both persisted: a continuously-
    ingesting deployment probes MANY batches against one index, and
    the hash keys are portable MD5+affine so the index can equally be
    written to parquet and reloaded across jobs/engines. Callers own
    unpersisting (or tie lifetime via ``release_caches_with``)."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands}) — uneven bands silently drop hashes, and "
            "bands > num_hashes degenerates every band to one signature"
        )
    grams = _minhash_grams(corpus_df, id_col, text_col, shingle_n)
    band_hashes = _minhash_band_hashes_udf(num_hashes, bands)
    banded = grams.select(
        "doc",
        F.posexplode(band_hashes(F.col("shingles"))).alias("band_idx", "band_hash"),
    ).persist()
    return grams, banded


def minhash_candidate_pairs(
    index_banded: DataFrame, probe_banded: DataFrame
) -> DataFrame:
    """Candidate stage of an index probe, exposed on its own so callers
    can prune the VERIFY side between stages: join the probe batch's
    band keys against the index's — one shuffle keyed on (band_idx,
    band_hash), candidate volume = probe-side bucket occupancy. Ids may
    overlap between sides (a re-ingested doc); a doc is never its own
    near-duplicate. Returns distinct (new_doc, corpus_doc)."""
    return (
        probe_banded.alias("n")
        .join(
            index_banded.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash"))
            & (F.col("n.doc") != F.col("c.doc")),
        )
        .select(F.col("n.doc").alias("new_doc"), F.col("c.doc").alias("corpus_doc"))
        .dropDuplicates(["new_doc", "corpus_doc"])
    )


def minhash_verify_pairs(
    candidates: DataFrame,
    new_grams: DataFrame,
    index_grams: DataFrame,
    min_jaccard_micro: int,
) -> DataFrame:
    """Verification stage of an index probe: join the shingle sets back
    onto the (new_doc, corpus_doc) candidates and keep exact integer-
    micro Jaccard ≥ threshold (kills LSH false positives). The
    ``index_grams`` side only needs rows for docs that actually appear
    as candidates — the streaming growing-index sync exploits that by
    passing a bucket-pruned read of the persisted grams ledger (see
    streaming/index_sync.py), so a 100 TB grams table is fetched, not
    scanned. Returns (new_doc, corpus_doc, jaccard_micro BIGINT)."""
    ga = new_grams.select(
        F.col("doc").alias("new_doc"), F.col("shingles").alias("grams_n")
    )
    gb = index_grams.select(
        F.col("doc").alias("corpus_doc"), F.col("shingles").alias("grams_c")
    )
    inter = F.size(F.array_intersect(F.col("grams_n"), F.col("grams_c"))).cast("long")
    union = (
        F.size(F.col("grams_n")).cast("long")
        + F.size(F.col("grams_c")).cast("long")
        - inter
    )
    return (
        candidates.join(ga, "new_doc")
        .join(gb, "corpus_doc")
        .withColumn(
            "jaccard_micro", F.floor((inter * F.lit(1_000_000)) / union).cast("long")
        )
        .filter(F.col("jaccard_micro") >= min_jaccard_micro)
        .select("new_doc", "corpus_doc", "jaccard_micro")
    )


def probe_minhash_index(
    index_grams: DataFrame,
    index_banded: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_jaccard_micro: int = 500_000,
    new_grams: DataFrame | None = None,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """Probe a batch of NEW documents against a prebuilt corpus index
    (``build_minhash_index``): banding-hash ONLY the new side, join its
    band keys against the index, verify candidates with exact Jaccard.
    O(batch) hash work per ingest, one shuffle keyed on (band_idx,
    band_hash), candidate volume proportional to new-side bucket
    occupancy — corpus×corpus pairs are never enumerated.

    A caller that ALSO folds the batch into the index (the streaming
    growing-index sync) already ran ``build_minhash_index`` on the
    batch; passing that (``new_grams``, ``new_banded``) pair skips the
    second shingle+band pass — one hash pass per batch total — and
    leaves cache ownership with the caller (this function only releases
    blocks it created).

    API CONTRACT on that path: when (``new_grams``, ``new_banded``) are
    supplied, ``new_df``, ``num_hashes``, ``bands``, and ``shingle_n``
    are IGNORED — the probe's hash geometry is whatever the pair was
    built with, and it must match the geometry the INDEX was built with
    or recall silently degrades (band keys from different geometries
    never collide, they just never match). Callers holding a persisted
    index must thread the index's pinned parameters into
    ``build_minhash_index`` for the batch (the streaming sync reads
    them from the ledger pointer for exactly this reason).

    Returns (new_doc, corpus_doc, jaccard_micro BIGINT).
    """
    if (new_grams is None) != (new_banded is None):
        raise ValueError(
            "pass new_grams and new_banded together (both from "
            "build_minhash_index on the same batch) or neither"
        )
    if new_grams is not None:
        gn = new_grams
        probe = new_banded
        owned: tuple[DataFrame, ...] = ()
    else:
        gn = _minhash_grams(new_df, id_col, text_col, shingle_n)
        band_hashes = _minhash_band_hashes_udf(num_hashes, bands)
        probe = gn.select(
            "doc",
            F.posexplode(band_hashes(F.col("shingles"))).alias(
                "band_idx", "band_hash"
            ),
        )
        owned = (gn,)
    candidates = minhash_candidate_pairs(index_banded, probe)
    out = minhash_verify_pairs(candidates, gn, index_grams, min_jaccard_micro)
    return release_caches_with(out, *owned)


def minhash_probe_pairs(
    corpus_df: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_jaccard_micro: int = 500_000,
) -> DataFrame:
    """Incremental near-dup detection: probe NEW documents against an
    existing corpus INDEX — corpus×corpus pairs are never enumerated.

    The operation every continuously-ingesting pipeline actually runs:
    yesterday's 100 TB corpus is already deduplicated; today's batch
    must be checked against it (and itself is deduplicated separately
    or not at all — caller's choice). Re-running the batch all-pairs
    pipeline over corpus+batch redoes O(corpus) signature work and
    re-meets every historical bucket; the probe instead banding-hashes
    ONLY the new side and joins it against the corpus band index. This
    convenience form builds the index in-job (``build_minhash_index``)
    and probes once; a stream probes many batches against the one
    index (``probe_minhash_index`` directly — see the
    streaming_dedup_against_index catalog entry).

    Same hash family, band layout, and verification math as
    ``minhash_near_dup_pairs`` — one shared builder
    (``_minhash_band_hashes_udf``), so a doc flagged by the batch
    pipeline is flagged by the probe and vice versa, and the DuckDB
    oracle replays the probe value-exactly.

    Returns (new_doc, corpus_doc, jaccard_micro BIGINT).
    """
    gc, banded = build_minhash_index(
        corpus_df, id_col, text_col, num_hashes, bands, shingle_n
    )
    out = probe_minhash_index(
        gc, banded, new_df, id_col, text_col,
        num_hashes, bands, shingle_n, min_jaccard_micro,
    )
    return release_caches_with(out, gc, banded)


def _simhash64_udf():
    """64-bit SimHash over whitespace tokens, Arrow-batched pandas UDF.

    Built lazily (pandas_udf needs an active SparkSession). Per token:
    MD5 → first 8 bytes as the token hash (portable across engines,
    unlike Python's salted ``hash``); per document: numpy majority vote
    per bit — the whole batch is vectorized, no per-row Python beyond
    the hashing loop Arrow amortizes.

    The token→hash map is memoized across documents AND batches within
    a worker: natural-language corpora follow Zipf's law, so the
    distinct-token count grows ~O(sqrt(corpus)) while occurrences grow
    O(corpus) — the MD5 work (the dominant cost) amortizes toward zero
    per document as the executor warms. Bounded at 4M entries
    (~0.5 GB) so executor memory stays flat on adversarial vocab.
    """
    import hashlib

    import numpy as np

    token_hash: dict[str, int] = {}

    @pandas_udf("long")
    def simhash64(texts: pd.Series) -> pd.Series:
        bit_idx = np.arange(64, dtype=np.uint64)
        out = []
        for text in texts:
            if text is None:
                out.append(None)
                continue
            tokens = text.split()
            if not tokens:
                out.append(0)
                continue
            hashes = np.empty(len(tokens), dtype=np.uint64)
            for j, t in enumerate(tokens):
                h = token_hash.get(t)
                if h is None:
                    h = int.from_bytes(hashlib.md5(t.encode("utf-8")).digest()[:8], "big")
                    if len(token_hash) < 4_000_000:
                        token_hash[t] = h
                hashes[j] = h
            # bits[i, b] = bit b of hash i → per-bit majority vote
            bits = (hashes[:, None] >> bit_idx) & np.uint64(1)
            votes = 2 * bits.astype(np.int64).sum(axis=0) - len(tokens)
            v = int(((votes > 0).astype(np.uint64) << bit_idx).sum())
            # two's-complement into signed 64-bit for Spark LongType
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out, dtype="object")

    return simhash64


def simhash_buckets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """SimHash per document plus 4×16-bit band keys: documents within
    Hamming distance 3 share at least one band (pigeonhole), so
    near-dup search = equi-join on any band — no pairwise scan.
    """
    simhash64 = _simhash64_udf()
    sh = _spread(df).select(
        F.col(id_col).alias("doc"), simhash64(F.col(text_col)).alias("simhash")
    )
    for i in range(4):
        sh = sh.withColumn(
            f"band{i}", F.shiftrightunsigned(F.col("simhash"), i * 16).bitwiseAND(F.lit(0xFFFF))
        )
    return sh


def minhash_near_dup_pairs_ml(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    num_hash_tables: int = 8,
    max_distance: float = 0.7,
) -> DataFrame:
    """MLlib-based variant of the MinHash near-dup pipeline:
    shingles → HashingTF sparse vectors → ``pyspark.ml.feature.MinHashLSH``
    → ``approxSimilarityJoin`` (distance = 1 - Jaccard).

    Exists alongside the native-expression pipeline as the idiomatic
    ml-lib formulation; the native one is preferred (exact verification
    stage, no feature-vector detour), and tests assert both find the
    same high-similarity pairs. Returns (doc_a, doc_b, jaccard_micro
    approximated as floor((1-distance)*1e6) — MLlib's distance is the
    EXACT Jaccard distance of the vector sets, so values align with the
    native operator up to shingle→vector hashing collisions).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    grams = (
        with_word_ngrams(df, text_col, shingle_n, out_col="shingles", distinct=True)
        .select(F.col(id_col).alias("doc"), "shingles")
        .filter(F.size("shingles") > 0)
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(grams)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42)
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, max_distance, distCol="dist")
    return (
        joined.filter(F.col("datasetA.doc") < F.col("datasetB.doc"))
        .select(
            F.col("datasetA.doc").alias("doc_a"),
            F.col("datasetB.doc").alias("doc_b"),
            F.floor((1 - F.col("dist")) * 1_000_000).cast("long").alias("jaccard_micro"),
        )
    )


def benchmark_contamination(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination probe: flag corpus documents sharing at
    least ``min_shared`` distinct word-``n``-grams with ANY benchmark
    document — the standard check that eval data leaked into training
    data. Returns ``(doc, n_shared_grams, n_bench_docs)``.

    Plan shape is the same inverted-index discipline as
    ``ngram_jaccard_pairs``: explode distinct shingles on both sides and
    equi-join on the gram, so cost is Σ|posting|·|bench posting| — never
    corpus × benchmark. The benchmark side is tiny by nature (eval sets,
    not corpora): its exploded gram table broadcasts, making the whole
    probe a map-side join over the corpus scan — at 100 TB the corpus is
    read once at scan speed and never shuffled. Hot grams (boilerplate
    shingles) are the skew risk; raise ``n`` until shingles are
    discriminative (n=8..13 in published decontamination setups).
    """
    cg = (
        # _spread IS safe here (unlike the self-join pipelines): the join
        # side we widen is the probe of an explicit broadcast join, so
        # AQE's strategy can't be perturbed — and the shingle+explode map
        # otherwise serializes on a single input split. Measured 5.5 s →
        # 2.3 s cold at sf0.1.
        with_word_ngrams(_spread(corpus), text_col, n, out_col="grams", distinct=True)
        .select(F.col(id_col).alias("doc"), F.explode("grams").alias("gram"))
    )
    bg = (
        with_word_ngrams(bench, text_col, n, out_col="grams", distinct=True)
        .select(F.col(id_col).alias("bench_doc"), F.explode("grams").alias("gram"))
    )
    return (
        cg.join(F.broadcast(bg), "gram")
        .groupBy("doc")
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("bench_doc").alias("n_bench_docs"),
        )
        .filter(F.col("n_shared_grams") >= min_shared)
    )


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    vertices: DataFrame | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation; returns ``(vertex, component)`` with
    ``component`` = the smallest vertex id reachable.

    THE dedup finisher: near-dup pair ops emit edges, but "keep one doc
    per duplicate group" needs the transitive closure of those pairs —
    a pair list alone double-drops docs chained A~B~C. ``vertices``
    (optional) adds isolated ids as singleton components.

    Plan shape per iteration: neighbor-min aggregation (one shuffle on
    vertex id) + left join back + ONE pointer-jumping join (label :=
    label(label) — path compression), so convergence is O(log diameter)
    rounds, not O(diameter): long chains that would take ~n rounds under
    plain min-label propagation finish in ~log₂ n. Labels only ever
    DECREASE toward reachable vertices, so the fixpoint is the exact
    component minimum; the loop exits when an iteration changes
    nothing. Each round is eagerly localCheckpoint-ed: truncated
    lineage keeps round k's plan O(1) deep, not O(k), and the
    convergence probe rides the checkpoint job. Duplicate-cluster
    graphs (near-cliques) still converge in 1-2 rounds.
    """
    # every round joins the edge list again — and `edges` is often an
    # EXPENSIVE plan (the near-dup pair pipeline). Persist the directed
    # list ONCE (the union below reads the cache twice — an in-memory
    # scan) or each round's checkpoint job re-runs that pipeline:
    # measured 5.7 s → 2.9 s for near_dup_clusters at sf0.1. Edge lists
    # are pair-count-sized, tiny next to the corpus. The materializing
    # count() runs BEFORE any caching of the union so the expensive
    # pipeline itself executes with AQE coalescing fully active
    # (cached plans pin their partitioning: canChangeCachedPlan-
    # OutputPartitioning defaults false).
    session0 = edges.sparkSession
    _CACHE_AQE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    saved_cache_aqe = session0.conf.get(_CACHE_AQE, "false")
    # without this, caching PINS the expensive edge pipeline's shuffle
    # partitioning at the session default (200+) and AQE cannot
    # coalesce its near-empty reduce tasks: measured 16.1 s → 13.2 s
    # on the sf0.01 entity-resolution graph under a vanilla session
    session0.conf.set(_CACHE_AQE, "true")
    directed = edges.select(
        F.col(src).alias("__u"), F.col(dst).alias("__v")
    ).persist()
    try:
        n_edges = directed.count()
    finally:
        session0.conf.set(_CACHE_AQE, saved_cache_aqe)
    # The loop materializes every round via localCheckpoint — an
    # RDD-level action that skips AQE post-shuffle coalescing, so under
    # a session-default spark.sql.shuffle.partitions (200+) each of the
    # ~diameter rounds pays hundreds of near-empty tasks (21.9 s for
    # the sf0.01 entity-resolution graph under a vanilla session).
    # Size the loop's shuffles from the edge count instead and restore
    # the session setting after: everything downstream reads
    # checkpoint-backed labels, so the override cannot leak into
    # caller plans.
    session = edges.sparkSession
    target = max(
        session.sparkContext.defaultParallelism,
        min(2048, 1 + n_edges // 200_000),
    )
    saved_sp = session.conf.get("spark.sql.shuffle.partitions")
    session.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        both = directed.unionByName(
            directed.select(
                F.col("__v").alias("__u"), F.col("__u").alias("__v")
            )
        )
        # Initialization IS the first propagation step: label₀(v) =
        # min(v, neighbors(v)) costs the same one aggregation a
        # self-label init would, but starts the loop a full round
        # ahead — near-clique duplicate graphs then converge in ONE
        # loop iteration (the probe round), saving a checkpoint+probe
        # cycle per call.
        labels = (
            both.groupBy(F.col("__u").alias("vertex"))
            .agg(F.min("__v").alias("__nbr_min"))
            .select(
                "vertex",
                F.least(F.col("vertex"), F.col("__nbr_min")).alias("component"),
            )
        )
        if vertices is not None:
            labels = (
                vertices.select(F.col(vertices.columns[0]).alias("vertex"))
                .distinct()
                .select("vertex", F.col("vertex").alias("component"))
                .unionByName(labels)
                .groupBy("vertex")
                .agg(F.min("component").alias("component"))
            )
        labels = _cc_loop(both, labels, max_iter)
    finally:
        session.conf.set("spark.sql.shuffle.partitions", saved_sp)
        directed.unpersist(blocking=False)
    return labels


def _cc_loop(both, labels, max_iter):
    labels = labels.localCheckpoint()

    converged = False
    for _ in range(max_iter):
        nbr_min = (
            both.join(labels, both["__v"] == labels["vertex"])
            .groupBy("__u")
            .agg(F.min("component").alias("__nbr_min"))
        )
        propagated = (
            labels.join(nbr_min, labels["vertex"] == nbr_min["__u"], "left")
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce("__nbr_min", "component")
                ).alias("component"),
                (F.col("__nbr_min") < F.col("component")).alias("__changed"),
            )
        )
        # pointer jumping (path compression): follow each label to ITS
        # label — component = label(label(v)) — so label chains halve
        # every round and convergence is O(log diameter) rounds instead
        # of O(diameter). Labels only ever point at smaller REACHABLE
        # vertices (propagate: a neighbor's label; jump: transitivity),
        # so correctness is unchanged. A 600-node path converges inside
        # 20 rounds (plain propagation needs ~600 — pytest-pinned); on
        # edge-VOLUME-bound graphs like the sf1.0 entity-resolution
        # component the gain is modest (98.9 -> 91.7 s) because each
        # round's join cost dominates, not the round count.
        parents = propagated.select(
            F.col("vertex").alias("__pv"), F.col("component").alias("__pc")
        )
        new_labels = (
            propagated.join(
                parents, propagated["component"] == parents["__pv"], "left"
            )
            .select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce("__pc", "component")
                ).alias("component"),
                (
                    F.col("__changed") | (F.col("__pc") < F.col("component"))
                ).alias("__changed"),
            )
        )
        # eager checkpoint materializes the round and truncates lineage
        # (an Observation can NOT ride it — RDD-level checkpoints bypass
        # SQL metrics); the convergence probe is then a short-circuiting
        # isEmpty over the checkpointed blocks, not a recompute
        new_labels = new_labels.localCheckpoint()
        converged = new_labels.filter(F.col("__changed")).isEmpty()
        labels = new_labels.drop("__changed")
        if converged:
            break
    # the final labels are checkpoint-materialized — the caller
    # releases the edge cache once the loop returns
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components hit max_iter={max_iter} before the "
            "fixpoint — labels may span unfinished merges (log₂(graph "
            "diameter) exceeds the round budget). Raise max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def trim_duplicated_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_df: int = 2,
) -> DataFrame:
    """Exact substring dedup, the ACTION stage (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): remove
    every token covered by an ``n``-gram that appears in ≥ ``min_df``
    documents. ``duplicated_span_docs`` is the measurement that sets
    the policy; this operator applies it and returns the cleaned text.

    Plan — all native expressions, linear in (tokens + duplicated
    windows), never quadratic:
    1. gram inventory: per doc, (start, n-gram) pairs from one
       sequence/slice expression over the token array;
    2. duplicated grams: per-doc-distinct grams → groupBy(gram) →
       document frequency ≥ min_df (one shuffle keyed on the gram);
    3. covered positions: duplicated (doc, start) windows explode to
       (doc, pos) via sequence(start, start+n−1), deduped — bounded by
       n × duplicated-window count, not tokens²;
    4. kept tokens: anti-join (doc, pos) against covered; reassemble
       with sort_array(collect_list(struct(pos, tok))) per doc.

    Output: (id_col, n_tokens, n_kept, cleaned_text) for every doc
    with ≥1 token; cleaned_text is single-space-normalized (both
    engines reassemble from tokens, so normalization is part of the
    contract). At 100 TB the gram shuffle key gets xxhash64-compressed
    (fixed 8-byte keys) at the cost of oracle exactness — same dial
    ``duplicated_span_docs`` documents.
    """
    from spacex_data_engineering_pipeline_spark.functions.text import words

    base = docs.select(
        F.col(id_col).alias("doc"), words(F.col(text_col)).alias("w")
    ).filter(F.size("w") > 0)

    grams = base.filter(F.size("w") >= n).select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - n),
                lambda i: F.struct(
                    i.alias("s"),
                    F.concat_ws(" ", F.slice("w", i + 1, n)).alias("g"),
                ),
            )
        ).alias("sg"),
    ).select("doc", F.col("sg.s").alias("s"), F.col("sg.g").alias("g"))

    dup_grams = (
        grams.select("doc", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("g")
    )
    covered = (
        grams.join(dup_grams, "g")
        .select("doc", F.explode(F.sequence(F.col("s"), F.col("s") + (n - 1))).alias("pos"))
        .distinct()
    )

    toks = base.select("doc", F.posexplode("w").alias("pos", "tok"))
    kept = toks.join(covered, ["doc", "pos"], "left_anti")
    kept_agg = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda st: st["tok"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        base.select("doc", F.size("w").cast("long").alias("n_tokens"))
        .join(kept_agg, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


def trim_maximal_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_df: int = 2,
    min_len: int = 12,
) -> DataFrame:
    """Exact substring dedup with MAXIMAL-RUN semantics — the policy
    real training-data pipelines apply (Lee et al. 2022 remove each
    maximal duplicated substring above a length threshold, not every
    matched shingle): adjacent/overlapping duplicated ``n``-gram
    windows merge into maximal runs, and only runs of ≥ ``min_len``
    tokens are removed. An isolated 8-gram hit (a quoted idiom, a
    boilerplate phrase) survives; a 200-token boilerplate block goes.
    ``trim_duplicated_spans`` is the blunter every-covered-token
    variant; this one separates MATCH length from REMOVAL policy.

    Plan: the same linear gram inventory → duplicated-gram shuffle →
    covered-position union as ``trim_duplicated_spans``, then maximal
    runs fall out of gaps-and-islands window algebra over the covered
    positions (pos − row_number() per doc is constant exactly on a
    consecutive run — one doc-keyed window, no self-join, no
    quadratic interval merge), a length filter, and the same
    anti-join + ordered reassembly. Everything stays native
    expressions; the extra cost over the blunt variant is one window
    over covered positions — bounded by duplicated coverage, not
    corpus size.

    Output: (id_col, n_tokens, n_kept, n_spans, cleaned_text) for
    every doc with ≥1 token; ``n_spans`` counts the maximal runs
    removed. Deterministic, fully SQL-replayable (integer window
    algebra — the DuckDB oracle recomputes the same islands).
    """
    from pyspark.sql.window import Window

    from spacex_data_engineering_pipeline_spark.functions.text import words

    base = docs.select(
        F.col(id_col).alias("doc"), words(F.col(text_col)).alias("w")
    ).filter(F.size("w") > 0)

    grams = base.filter(F.size("w") >= n).select(
        "doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - n),
                lambda i: F.struct(
                    i.alias("s"),
                    F.concat_ws(" ", F.slice("w", i + 1, n)).alias("g"),
                ),
            )
        ).alias("sg"),
    ).select("doc", F.col("sg.s").alias("s"), F.col("sg.g").alias("g"))

    dup_grams = (
        grams.select("doc", "g")
        .distinct()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("g")
    )
    covered = (
        grams.join(dup_grams, "g")
        .select(
            "doc",
            F.explode(F.sequence(F.col("s"), F.col("s") + (n - 1))).alias("pos"),
        )
        .distinct()
    )
    # gaps-and-islands: consecutive covered positions share
    # pos − row_number(); each island IS a maximal duplicated run
    w_pos = Window.partitionBy("doc").orderBy("pos")
    spans = (
        covered.withColumn("grp", F.col("pos") - F.row_number().over(w_pos))
        .groupBy("doc", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            F.max("pos").alias("span_end"),
            F.count(F.lit(1)).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
    )
    removed = spans.select(
        "doc", F.explode(F.sequence("span_start", "span_end")).alias("pos")
    )
    n_spans = spans.groupBy("doc").agg(F.count(F.lit(1)).alias("n_spans"))

    toks = base.select("doc", F.posexplode("w").alias("pos", "tok"))
    kept = toks.join(removed, ["doc", "pos"], "left_anti")
    kept_agg = kept.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda st: st["tok"],
            ),
        ).alias("cleaned_text"),
    )
    return (
        base.select("doc", F.size("w").cast("long").alias("n_tokens"))
        .join(kept_agg, "doc", "left")
        .join(n_spans, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"),
        )
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    min_jaccard_micro: int = 500_000,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs via PREFIX FILTERING (the
    PPJoin/AllPairs principle) — same output contract as
    :func:`ngram_jaccard_pairs`, different candidate generation.

    Why: the full inverted index pays Σ|posting|² over EVERY gram. Two
    sets with Jaccard ≥ t must overlap in o ≥ t·|union| ≥ t·max(na,nb)
    elements, so under any global total order of grams they must share
    a gram within the first ``n_i − ⌈t·n_i⌉ + 1`` of each set — only
    those PREFIX grams need posting lists. At t=0.5 that halves every
    posting list (quartering Σ|posting|²), and ordering grams
    rarest-first puts the surviving lists at the SHORT end of the df
    distribution — the two classic set-similarity-join optimizations,
    exact by theorem, no recall dial.

    Plan: one global gram-frequency aggregate (vocab-sized), per-doc
    rarest-first rank (window keyed by doc — no skew: every doc is its
    own partition key), prefix postings self-join on (block, gram),
    pair dedup, then ONE exact verify per candidate on the full gram
    arrays (``array_intersect`` — the arrays travel only to surviving
    candidates, never through the posting shuffle).
    """
    grams = (
        with_word_ngrams(df, text_col, n, out_col="grams", distinct=True)
        .select(F.col(id_col).alias("doc"), F.col(block_col).alias("block"), "grams")
        .filter(F.size("grams") > 0)
        .select("doc", "block", F.size("grams").cast("long").alias("n_grams"), "grams")
        .persist()
    )
    exploded = grams.select(
        "doc", "block", "n_grams", F.explode("grams").alias("gram")
    )
    freq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    # exact integer ceil(n_grams · t) via long arithmetic only: the
    # division operand is first floored to a multiple of 1e6 with %, so
    # the quotient is an exact integer regardless of double rounding
    raw = F.col("n_grams") * F.lit(min_jaccard_micro) + F.lit(999_999)
    ceil_tn = ((raw - raw % F.lit(1_000_000)) / F.lit(1_000_000)).cast("long")
    prefix_len = F.col("n_grams") - ceil_tn + F.lit(1)
    w = Window.partitionBy("doc").orderBy(F.col("__df").asc(), F.col("gram").asc())
    prefix = (
        exploded.join(freq, "gram")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= prefix_len)
        .select("doc", "block", "gram")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    ga = grams.select(
        F.col("doc").alias("doc_a"), F.col("grams").alias("__ga"),
        F.col("n_grams").alias("na"),
    )
    gb = grams.select(
        F.col("doc").alias("doc_b"), F.col("grams").alias("__gb"),
        F.col("n_grams").alias("nb"),
    )
    inter = F.size(F.array_intersect(F.col("__ga"), F.col("__gb"))).cast("long")
    union = F.col("na") + F.col("nb") - inter
    out = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn(
            "jaccard_micro", F.floor((inter * F.lit(1_000_000)) / union).cast("long")
        )
        .filter(F.col("jaccard_micro") >= min_jaccard_micro)
        .select("doc_a", "doc_b", "jaccard_micro")
    )
    return release_caches_with(out, grams)
