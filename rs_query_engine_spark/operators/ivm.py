"""Incremental view maintenance (IVM) — persisted partial aggregates.

The 100-TB shape of "keep a daily rollup current": the historical
corpus is aggregated ONCE into per-(day, event_type) partials (count +
decimal-exact value sum — commutative monoids, so partials merge
associatively), persisted with the same mtime+params-keyed
atomic-install machinery as the index artifacts, and every refresh
touches only the delta slice — maintenance cost is O(delta), never
O(history). The reference has no maintained-view concept
(src/catalog.rs:16-42 registers immutable sources); this extends its
catalog idea to a maintained artifact, the same lifecycle as
``operators/lsh_index.py`` / ``operators/ivf_index.py``.

Exactness: COUNT merges as SUM of counts; the value sum is carried as
an exact decimal end-to-end (the queries.py float-determinism
discipline), so merged-partials == direct-aggregate at the bit level —
which is what the staged oracle pins.

The build-time cutoff (``max(ts) - ROLLUP_DELTA_DAYS``) is RECORDED in
the artifact (a one-row parquet) so the refresh filters the delta with
a literal — the predicate pushes into the events scan and the history
is provably not rescanned (plan-tested).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_query_engine_spark.sources.artifacts import ensure_artifact

# Delta horizon: everything within the last N days of the corpus max
# is "new arrivals" the maintained view has not absorbed yet.
ROLLUP_DELTA_DAYS = 2
D_VAL = "decimal(12,2)"
# Completeness of a daily-grain rollup generation (base and merged).
_DAY_PARTS = ("partials/_SUCCESS", "meta/_SUCCESS")


def day_partials(df: DataFrame) -> DataFrame:
    """Per-(day, event_type) partial aggregates — the mergeable unit
    of the maintained rollup. COUNT and the decimal-exact value SUM
    are commutative monoids (with exact inverses — see the retraction
    path), so any partition of the corpus re-reduces to the direct
    aggregate bit-for-bit."""
    return df.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast(D_VAL)).alias("val_sum"),
    )


def ensure_rollup_partials(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the per-(day, event_type) partial aggregates of the
    HISTORICAL slice (``ts < max(ts) - ROLLUP_DELTA_DAYS``), once per
    corpus generation. Layout: ``partials/`` (day, event_type, cnt,
    val_sum) + ``meta/`` (one row: the cutoff the build used — the
    refresh query reads it back as a literal so the delta filter is
    pushdown-able and both sides agree on the split without a second
    max() scan).

    The single-scalar ``max(ts)`` collect is a bounded artifact-build
    cost (one row, once per generation), not a per-query loop."""
    from datetime import timedelta

    from rs_query_engine_spark.sources.corpus import load_table

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")

    def write(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        mx = ev.agg(F.max("ts")).collect()[0][0]
        cutoff = mx - timedelta(days=ROLLUP_DELTA_DAYS)
        partials = day_partials(ev.filter(F.col("ts") < F.lit(cutoff)))
        meta = spark.createDataFrame([(cutoff,)], "cutoff timestamp")
        partials.write.parquet(os.path.join(tmp, "partials"))
        meta.coalesce(1).write.parquet(os.path.join(tmp, "meta"))

    return ensure_artifact(
        src, "ivmroll", f"d={ROLLUP_DELTA_DAYS}|grain=day", _DAY_PARTS, write
    )


def read_rollup_partials(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "partials"))


def read_rollup_cutoff(spark: SparkSession, root: str):
    """The cutoff the build recorded — one row, bounded collect."""
    return spark.read.parquet(os.path.join(root, "meta")).collect()[0][0]


def refreshed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained view, current as of the live table: persisted
    history partials ∪ delta partials, re-reduced. The events scan
    carries the pushed ``ts >= cutoff`` literal — O(delta); the
    partials read is O(days × types), metadata-scale."""
    from rs_query_engine_spark.sources.corpus import load_table

    root = ensure_rollup_partials(spark, sf_dir)
    cutoff = read_rollup_cutoff(spark, root)
    base = read_rollup_partials(spark, root)
    delta = day_partials(
        load_table(spark, sf_dir, "events").filter(F.col("ts") >= F.lit(cutoff))
    )
    return (
        base.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("val_sum").cast("double").alias("total_value"),
        )
    )


def retracted_rollup(spark: SparkSession, sf_dir: str, victim_pred) -> DataFrame:
    """The maintained view under RETRACTION: erase every event
    matching ``victim_pred`` (a GDPR/takedown erasure feed) from the
    rollup WITHOUT re-aggregating the history. COUNT and the decimal
    SUM have exact inverses (they form abelian groups, not just
    monoids), so the erasure is a third partials leg with negated
    measures merged into the same reduce; a group whose rows are all
    erased nets to zero and is dropped, exactly as if it never
    existed.

    Cost: the victim scan is the only corpus touch — a selective
    pushed predicate (at 100 TB, cluster/z-order by the victim key so
    row-group stats prune it); the history partials are never
    re-aggregated. Float discipline holds because negation of an
    exact decimal is exact — a double-sum rollup could NOT support
    retraction (subtraction would reorder the float reduction)."""
    from rs_query_engine_spark.sources.corpus import load_table

    root = ensure_rollup_partials(spark, sf_dir)
    cutoff = read_rollup_cutoff(spark, root)
    ev = load_table(spark, sf_dir, "events")
    base = read_rollup_partials(spark, root)
    delta = day_partials(ev.filter(F.col("ts") >= F.lit(cutoff)))
    retract = day_partials(ev.filter(victim_pred)).select(
        "day",
        "event_type",
        (-F.col("cnt")).alias("cnt"),
        (-F.col("val_sum")).alias("val_sum"),
    )
    return (
        base.unionByName(delta)
        .unionByName(retract)
        .groupBy("day", "event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("val_sum").cast("double").alias("total_value"),
        )
        .filter(F.col("n_events") > 0)
    )


def ensure_merged_rollup_partials(spark: SparkSession, sf_dir: str) -> str:
    """MERGE generation of the maintained rollup: absorb the delta
    into a new partials artifact built FROM the base generation plus
    the delta scan — the base partials are re-reduced, never
    re-aggregated from raw events (the lsh/ivf merge pattern on the
    rollup artifact). After the merge the recorded cutoff advances
    PAST everything absorbed: the delta convention is ``ts >= cutoff``
    and the merge absorbed through the corpus max inclusive, so the
    new cutoff is max + 1 microsecond (recording max itself would
    double-count the boundary row on the next refresh). No second
    corpus scan either: the base generation's recorded cutoff IS
    ``max(ts) - ROLLUP_DELTA_DAYS`` by construction, so the max is
    recovered arithmetically. Because the
    partials are a commutative monoid, merged-generation ≡
    fresh-build bit-for-bit, which the staged oracle states by
    comparing against the direct aggregate."""
    from datetime import timedelta

    from rs_query_engine_spark.sources.corpus import load_table

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")

    def write(tmp: str) -> None:
        base_root = ensure_rollup_partials(spark, sf_dir)
        cutoff = read_rollup_cutoff(spark, base_root)
        mx = cutoff + timedelta(days=ROLLUP_DELTA_DAYS)
        ev = load_table(spark, sf_dir, "events")
        merged = (
            read_rollup_partials(spark, base_root)
            .unionByName(day_partials(ev.filter(F.col("ts") >= F.lit(cutoff))))
            .groupBy("day", "event_type")
            .agg(F.sum("cnt").alias("cnt"), F.sum("val_sum").alias("val_sum"))
            # re-reduce widened the sum type; restore the generation's
            # storage type so probe code is generation-agnostic
            .withColumn("val_sum", F.col("val_sum").cast("decimal(22,2)"))
        )
        meta = spark.createDataFrame(
            [(mx + timedelta(microseconds=1),)], "cutoff timestamp"
        )
        merged.write.parquet(os.path.join(tmp, "partials"))
        meta.coalesce(1).write.parquet(os.path.join(tmp, "meta"))

    return ensure_artifact(
        src, "ivmrollm", f"d={ROLLUP_DELTA_DAYS}|grain=day", _DAY_PARTS, write
    )


def hour_partials(df: DataFrame) -> DataFrame:
    """Hourly twin of ``day_partials`` — the FINEST stored grain.
    Coarser grains re-reduce from it (grain-rollup associativity of
    the count/decimal-sum monoid), so multi-grain serving needs ONE
    corpus scan and one stored table."""
    return df.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast(D_VAL)).alias("val_sum"),
    )


def ensure_hourly_partials(spark: SparkSession, sf_dir: str) -> str:
    """The hourly-grain partials artifact (``hourly/`` + ``meta/``,
    same layout contract as the daily one). Only the finest grain is
    ever persisted: daily (or any coarser) numbers re-reduce from it
    exactly, so the artifact, the refresh delta scan, and the history
    pass are all shared across every requested grain."""
    from datetime import timedelta

    from rs_query_engine_spark.sources.corpus import load_table

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")

    def write(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        mx = ev.agg(F.max("ts")).collect()[0][0]
        cutoff = mx - timedelta(days=ROLLUP_DELTA_DAYS)
        partials = hour_partials(ev.filter(F.col("ts") < F.lit(cutoff)))
        meta = spark.createDataFrame([(cutoff,)], "cutoff timestamp")
        partials.write.parquet(os.path.join(tmp, "hourly"))
        meta.coalesce(1).write.parquet(os.path.join(tmp, "meta"))

    return ensure_artifact(
        src,
        "ivmrollh",
        f"d={ROLLUP_DELTA_DAYS}|grain=hour",
        ("hourly/_SUCCESS", "meta/_SUCCESS"),
        write,
    )


def two_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly AND daily maintained views from one artifact and ONE
    delta scan: refresh the hourly partials, then derive the daily
    grain by re-reducing the refreshed hourly result — the corpus is
    touched once (the pushed-cutoff delta slice), and the daily
    numbers still equal the direct daily aggregate bit-for-bit
    because the monoid re-reduce is associative across grain
    boundaries (hours nest inside days). Output rows are tagged by
    ``grain``."""
    from rs_query_engine_spark.sources.corpus import load_table

    root = ensure_hourly_partials(spark, sf_dir)
    cutoff = read_rollup_cutoff(spark, root)
    base = spark.read.parquet(os.path.join(root, "hourly"))
    delta = hour_partials(
        load_table(spark, sf_dir, "events").filter(F.col("ts") >= F.lit(cutoff))
    )
    hourly = (
        base.unionByName(delta)
        .groupBy("bucket", "event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("val_sum").alias("_vs"),
        )
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", F.col("bucket")).alias("bucket"), "event_type"
        )
        .agg(F.sum("n_events").alias("n_events"), F.sum("_vs").alias("_vs"))
    )
    return (
        hourly.select(F.lit("hour").alias("grain"), "bucket", "event_type",
                      "n_events", F.col("_vs").cast("double").alias("total_value"))
        .unionByName(
            daily.select(F.lit("day").alias("grain"), "bucket", "event_type",
                         "n_events", F.col("_vs").cast("double").alias("total_value"))
        )
    )
