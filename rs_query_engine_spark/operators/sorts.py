"""Sorts / limits / top-k (beyond-reference: SURVEY §2.6 — the
reference has no ORDER BY/LIMIT anywhere; SURVEY §7 M2.1).

Scale notes:
- a global ``orderBy`` is a full range-partitioned sort (one shuffle
  with range partitioning + sampled boundaries) — correct but
  expensive at 100 TB; prefer :func:`top_k` when only the head is
  needed.
- ``top_k`` uses Spark's ``TakeOrderedAndProject`` physical operator
  (per-partition heap + driver merge) — no full sort, no full shuffle.
- ``top_k_per_group`` composes window rank + filter; the shuffle is on
  the group key only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, k: int, *order_exprs: Column | str) -> DataFrame:
    """ORDER BY ... LIMIT k — Catalyst rewrites to
    TakeOrderedAndProject (heap-based, no global sort). Include a
    unique tiebreaker in ``order_exprs`` for deterministic results."""
    return df.orderBy(*order_exprs).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    k: int,
    partial: bool = False,
) -> DataFrame:
    """Top-k rows per group via ROW_NUMBER window (column ``rn``) +
    filter. One shuffle on the group key; rank computed within
    partitions.

    ``partial=True`` prepends a per-input-partition top-k pass keyed by
    (spark_partition_id, group): every local top-k is a superset of the
    group's global top-k, so results are identical, but the final
    (group-keyed) sort sees ≤ k·num_partitions rows per group instead
    of ALL of them. Use when group cardinality is far below
    parallelism (e.g. 3 groups on a 1000-executor cluster — the plain
    window serializes into 3 sort tasks); costs one extra shuffle, so
    leave off for high-cardinality groups."""
    w = Window.partitionBy(*group_cols).orderBy(*order_exprs)
    if partial:
        wl = Window.partitionBy(F.spark_partition_id(), *group_cols).orderBy(
            *order_exprs
        )
        df = (
            df.withColumn("_local_rn", F.row_number().over(wl))
            .filter(F.col("_local_rn") <= k)
            .drop("_local_rn")
        )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def sample_fraction(df, fraction: float, seed: int = 42):
    """Bernoulli row sampling without replacement (``TABLESAMPLE``) —
    map-only, no shuffle;
    each partition samples independently, so it scales to any input.
    Deterministic per (seed, partitioning) but NOT portable across
    engines — validated by distribution tests, not the value oracle."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def _hash_pct(key: Column) -> Column:
    """Deterministic bucket in [0, 100) from an md5 content hash of the
    stringified key — engine-portable (DuckDB:
    ``('0x'||substr(md5(x),1,8))::BIGINT % 100``), unlike Spark's
    seeded RNG whose stream depends on partitioning."""
    from rs_query_engine_spark.functions.hashing import md5_bucket

    return md5_bucket(key.cast("string"), 100)


def sample_hash(df: DataFrame, key: Column, rate_pct: int) -> DataFrame:
    """Content-hash Bernoulli sampling: keep rows whose md5(key) lands
    in the first ``rate_pct`` of 100 buckets.

    This is the reproducible-sampling idiom for large pipelines:
    map-only (no shuffle, no RNG state), stable under repartitioning /
    re-runs / engine changes, and consistent across tables — sampling
    two tables by the same join key yields join-consistent samples.
    Prefer this over :func:`sample_fraction` whenever the sample must
    be auditable or re-derivable."""
    return df.filter(_hash_pct(key) < rate_pct)


def sample_stratified_hash(
    df: DataFrame,
    strata_col: str,
    key: Column,
    rates_pct: dict[str, int],
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum content-hash sampling: each stratum keeps its own
    hash-bucket threshold (e.g. 100% of a rare class, 2% of the head).
    Same map-only/deterministic properties as :func:`sample_hash`."""
    thr = F.lit(default_pct)
    for value, pct in rates_pct.items():
        thr = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(thr)
    return df.filter(_hash_pct(key) < thr)


def sample_weighted_hash(df: DataFrame, key: Column, weight: Column) -> DataFrame:
    """Per-ROW weighted Bernoulli sampling: keep each row with its own
    probability ``weight`` ∈ [0, 1] (importance sampling — the
    training-mixture knob that up-samples high-quality documents and
    down-samples boilerplate, row by row).

    Same content-hash determinism as :func:`sample_hash`, but the
    threshold is a per-row expression instead of a constant: a
    1e6-bucket uniform from md5(key) beats the 100-bucket grid so
    fractional weights (e.g. 0.0375) resolve exactly. Map-only — the
    weight expression and the comparison both compile into the scan
    filter; no shuffle, no RNG state, reproducible at any scale.

    Oracle-parity obligation: the comparison is ``u < weight * 1e6``
    on RAW doubles, so any caller that hash-verifies against a SQL
    oracle must mirror its exact ``weight`` EXPRESSION (same ops,
    same order, e.g. the ``least()``-capped form
    ``sample_weighted_bernoulli`` uses) into the oracle SQL — a
    mathematically-equal-but-differently-associated expression can
    land on the other side of the threshold by 1 ULP."""
    from rs_query_engine_spark.functions.hashing import md5_bucket

    u = md5_bucket(key.cast("string"), 1_000_000)
    return df.filter(u < weight * F.lit(1_000_000.0))


def sample_fixed_size(df: DataFrame, key: Column, n: int) -> DataFrame:
    """Deterministic fixed-SIZE sample: the n rows whose content hash
    is smallest (``ORDER BY md5-bucket LIMIT n`` → Catalyst's
    TakeOrderedAndProject: per-partition heap + driver merge, never a
    full sort-shuffle). The fixed-RATE twin is :func:`sample_hash`;
    this one guarantees exact output cardinality (eval sets, debug
    slices) while staying reproducible across engines and runs.
    Hash ties are broken by the key itself for total determinism."""
    h = F.md5(key.cast("string"))
    return (
        df.withColumn("_smp", h)
        .orderBy(F.col("_smp"), key)
        .limit(n)
        .drop("_smp")
    )
