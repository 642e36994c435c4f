"""Deterministic, portable hash-based sampling.

``df.sample()`` is seed-and-partitioning dependent: re-run the job
with a different file split and you get a DIFFERENT sample, which is
poison for reproducible training-data pipelines (the reference has no
sampling at all; a 100 TB corpus pipeline samples constantly — eval
holdouts, ablation subsets, decontamination spot checks).

These operators key the coin flip on a PORTABLE hash of a stable row
key: ``rate``-fraction of keys where
``uint32(first 8 hex chars of md5(key || ':' || salt)) < rate * 2^32``.
Properties that matter at scale:

- deterministic under repartitioning, retries, and engine versions —
  the sample is a pure function of (key, salt, rate);
- consistent across tables: sampling two fact tables by the same join
  key yields ALIGNED samples (a joinable 1% of users everywhere);
- narrow-only plan: a filter on a hash expression — no shuffle, no
  state, pushes through column pruning, and composes with partition
  pruning;
- replayable bit-for-bit by any engine with md5 (DuckDB:
  ``('0x' || substr(md5(...), 1, 8))::UINT64``), so the sample itself
  is oracle-gradable — the same recipe that oracle-graded the SimHash
  and MinHash pipelines.

``stratified_hash_sample`` varies the rate per stratum (e.g. keep 100%
of rare languages, 1% of the dominant one) while keeping the same
portable-coin contract.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCALE = 1 << 32


def hash_coin(key: Column, salt: str) -> Column:
    """Portable uniform-in-[0, 2^32) coin for a row key: the first 8
    hex chars of ``md5(key ':' salt)`` as an unsigned 32-bit value."""
    return F.conv(
        F.substring(F.md5(F.concat_ws(":", key, F.lit(salt))), 1, 8), 16, 10
    ).cast("bigint")


def hash_bernoulli_sample(
    df: DataFrame,
    key_col: str,
    rate: float,
    salt: str = "sample",
) -> DataFrame:
    """Keep rows whose key's portable coin lands under ``rate``.

    Exactly reproducible: the kept-key set depends only on
    (key, salt, rate) — never on partitioning, task retries, or
    cluster size. Plan is a single filter (no shuffle); different
    ``salt`` values give independent samples for disjoint holdouts.
    """
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    threshold = int(rate * _SCALE)
    return df.filter(hash_coin(F.col(key_col), salt) < F.lit(threshold))


def stratified_hash_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling: stratum ``s`` keeps keys
    whose coin lands under ``rates[s]`` (else ``default_rate``).

    The coin is keyed on the row key alone, so a key sampled at rate
    r in one stratum is a SUPERSET of the same key-set at any lower
    rate — raising a stratum's rate only ADDS rows, which makes
    incremental re-sampling monotone (no churn in the kept set).
    Plan: broadcast-free CASE WHEN over a literal map + one filter.
    """
    thr = F.lit(int(default_rate * _SCALE))
    for value, rate in sorted(rates.items()):
        if not 0.0 <= rate <= 1.0:
            raise ValueError(f"rate for {value!r} must be in [0, 1]")
        thr = F.when(
            F.col(stratum_col) == F.lit(value), F.lit(int(rate * _SCALE))
        ).otherwise(thr)
    return df.filter(hash_coin(F.col(key_col), salt) < thr)


def weight_proportional_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    max_weight: int,
    rate_num: int = 1,
    rate_den: int = 1,
    salt: str = "wsample",
    validate_weights: bool = False,
) -> DataFrame:
    """Poisson/Bernoulli sampling with inclusion probability
    PROPORTIONAL to an integer weight: row kept iff

        coin(key) * max_weight * rate_den  <  weight * 2^32 * rate_num

    i.e. p(keep) = weight/max_weight * rate_num/rate_den — the
    Horvitz-Thompson design a corpus pipeline uses to oversample long
    or high-quality documents while keeping every estimate unbiased
    (reweight by 1/p downstream).

    Everything is EXACT 64-bit integer arithmetic — no float division,
    no transcendentals — so the kept set is a pure function of
    (key, weight, salt, rate) and any engine with md5 replays it
    bit-for-bit. BOTH products are validated against 2^62: the coin
    side (2^32·max_weight·rate_den) and the weight side
    (max_weight·2^32·rate_num) — rate_num > rate_den (p > 1 designs)
    or a huge max_weight would otherwise wrap int64 silently under
    non-ANSI Spark and break the exact-replay contract. Plan: one
    narrow filter, no shuffle; like :func:`hash_bernoulli_sample` it
    composes with partition pruning and survives repartitioning/
    retries unchanged.

    PRECONDITION: every row's weight must lie in [0, max_weight] —
    the overflow bounds are stated in terms of max_weight, so a
    larger weight voids them. ``validate_weights=True`` enforces this
    per row (fails the job on the first violating row via a
    conditional raise_error); it is off by default because the guard
    expression blocks filter pushdown into the scan.

    ``max_weight`` is an explicit argument (a scalar the caller probes
    or knows from stats) so the filter itself stays a literal
    expression that Catalyst can push into the scan.
    """
    if max_weight <= 0 or rate_num < 0 or rate_den <= 0:
        raise ValueError("max_weight/rate_den must be > 0, rate_num >= 0")
    if (_SCALE - 1) * max_weight * rate_den >= 1 << 62:
        raise ValueError("max_weight * rate_den too large for exact bigint math")
    if max_weight * _SCALE * rate_num >= 1 << 62:
        raise ValueError("max_weight * rate_num too large for exact bigint math")
    w = F.col(weight_col).cast("bigint")
    if validate_weights:
        w = F.when(
            (w < 0) | (w > F.lit(max_weight)),
            F.raise_error(
                F.concat(
                    F.lit(f"weight outside [0, {max_weight}]: "),
                    F.col(weight_col).cast("string"),
                )
            ).cast("bigint"),
        ).otherwise(w)
    lhs = hash_coin(F.col(key_col), salt) * F.lit(max_weight * rate_den)
    rhs = w * F.lit(_SCALE * rate_num)
    return df.filter(lhs < rhs)
