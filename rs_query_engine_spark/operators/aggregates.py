"""Aggregate function builders.

Analogue of the reference's ``AggrOperator`` implementations
(``src/physical_plan/aggr/{sum,min,max,avg,count}.rs``). Each is a thin
builder over Spark's built-in aggregate expressions, which execute as
partial (map-side combine) + final hash aggregation — the distributed,
spill-aware version of the reference's single-phase in-memory hash agg
(``src/physical_plan/aggr/mod.rs:56-100``).

Semantic deltas (SQL-correct on purpose, per SURVEY §2.4):
- MIN/MAX on empty/all-null input yield NULL, not the reference's
  type::MAX/MIN sentinels (``src/physical_plan/aggr/min.rs:20-25``).
- AVG on empty input yields NULL, not NaN
  (``src/physical_plan/aggr/avg.rs:15-133``).
- COUNT returns LongType (the reference's UInt64 has no Spark type;
  values agree within int64 range).

All are null-skipping, matching the reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["sum_", "min_", "max_", "avg", "count", "count_star"]


def _c(expr: Column | str) -> Column:
    return F.col(expr) if isinstance(expr, str) else expr


def sum_(expr: Column | str, name: str | None = None) -> Column:
    """Null-skipping SUM (``src/physical_plan/aggr/sum.rs:12-113``).
    Beyond-reference: the argument may be any expression, not only a
    bare column (the reference planner panics otherwise,
    ``src/planner/mod.rs:59-71``)."""
    out = F.sum(_c(expr))
    return out.alias(name) if name else out


def min_(expr: Column | str, name: str | None = None) -> Column:
    """Null-skipping MIN (``src/physical_plan/aggr/min.rs:13-116``)."""
    out = F.min(_c(expr))
    return out.alias(name) if name else out


def max_(expr: Column | str, name: str | None = None) -> Column:
    """Null-skipping MAX (``src/physical_plan/aggr/max.rs:50-113``)."""
    out = F.max(_c(expr))
    return out.alias(name) if name else out


def avg(expr: Column | str, name: str | None = None) -> Column:
    """Null-skipping AVG → Double (``src/physical_plan/aggr/avg.rs``)."""
    out = F.avg(_c(expr))
    return out.alias(name) if name else out


def count(expr: Column | str, name: str | None = None) -> Column:
    """COUNT(col): non-null values only
    (``src/physical_plan/aggr/count.rs:10-53``)."""
    out = F.count(_c(expr))
    return out.alias(name) if name else out


def count_star(name: str | None = None) -> Column:
    """COUNT(*) — beyond-reference (the reference only has COUNT(col))."""
    out = F.count(F.lit(1))
    return out.alias(name) if name else out


def pandas_udaf(fn, return_type: str):
    """Wrap a pandas ``Series -> scalar`` function as a GROUPED_AGG
    pandas UDF — the Arrow-batched analogue of the reference's
    ``AggrOperator`` accumulator contract
    (``src/physical_plan/aggr/mod.rs:22-32``) for aggregates the
    built-ins can't express.

    Scale caveat (why built-ins always win when available): a grouped-
    agg pandas UDF is NOT partially aggregated — every group's full
    value list shuffles to one executor before Python sees it, whereas
    built-in aggregates combine map-side. Use for genuinely custom
    math on groups of bounded size."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: plain callables/lambdas carry no type
    # hints for Spark to infer Series→scalar (grouped-agg) from
    return pandas_udf(fn, return_type, PandasUDFType.GROUPED_AGG)


def profile_columns(df, cols: list[str]):
    """Data-quality profile: one row per column with count / null
    count / distinct count / min / max (min/max stringified so mixed
    types stack into one table) — the pre-ingest audit step of a data
    pipeline.

    TWO hash-aggregation passes over the scan, never a sort:

    - pass A: count / null-count / min / max for every column in one
      1-row aggregate (plain HashAggregate);
    - pass B: every column's distinct count in one explode →
      (column, value) → two-level hash distinct. Distinctness is
      taken on the value's string form so heterogeneous columns stack
      into one pass — injective for the atomic types this profiler
      targets (numbers, strings, dates/timestamps).

    The naive alternative — N ``count_distinct`` in one aggregate —
    plans an Expand(N+1×) whose `first(...) FILTER` rewrite is not
    hash-aggregatable, so Spark falls back to SortAggregate and sorts
    N+1 copies of the input (measured 3× slower at sf0.1, and the sort
    is a spill risk at 100 TB; pass B's shuffle instead carries only
    per-partition-distinct values)."""
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__n_null"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__n").alias("n"),
                F.col(f"{c}__n_null").alias("n_null"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
            )
            for c in cols
        ]
    )
    base = one.select(F.explode(per_col).alias("p")).select("p.*")

    # IEEE negative zero stringifies as "-0.0" but SQL DISTINCT treats
    # -0.0 = 0.0 — for float/double columns add +0.0 before the string
    # cast (-0.0 + 0.0 = +0.0), a codegen-cheap normalization that
    # keeps the distinct count on numeric semantics. Only binary floats
    # carry a signed zero (BigDecimal/ints cannot), so other types cast
    # directly.
    from pyspark.sql import types as T

    floaty = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.FloatType, T.DoubleType))
    }

    def _val(c):
        base = (F.col(c) + F.lit(0.0)) if c in floaty else F.col(c)
        return base.cast("string")

    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        _val(c).alias("val"),
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*")
    nd = (
        pairs.where(F.col("val").isNotNull())
        .groupBy("column", "val")
        .agg(F.lit(1))
        .groupBy("column")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    # left join + coalesce: an all-NULL column has no row in `nd` but
    # must report n_distinct = 0
    return (
        base.join(F.broadcast(nd), "column", "left")
        .select(
            "column",
            "n",
            "n_null",
            F.coalesce(F.col("n_distinct"), F.lit(0)).alias("n_distinct"),
            "min_str",
            "max_str",
        )
    )
