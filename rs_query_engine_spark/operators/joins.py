"""Join operators beyond the reference's inner/left/right equi-join
(``src/logical_plan/logical_plan.rs:97-110`` declares those three; the
single physical implementation is a nested-loop kernel,
``src/physical_plan/nested_loop_join.rs:62-191``). Spark provides
semi/anti/full/cross natively; this module adds the two join shapes
Spark has no single operator for — **as-of join** and **range join** —
re-expressed as compositions of DataFrame ops that scale.

Scale design:
- ``asof_join``: the naive formulation (non-equi join + pick latest)
  explodes to all key-matched pairs before aggregating. Instead we
  union both sides tagged, sort within each key partition, and carry
  the last-seen right row forward with a window — ONE shuffle on the
  key, no pair explosion, same cost class as a sort-merge join. Skewed
  keys respond to the same salting as any window/groupBy.
- ``range_join_bands``: Spark plans a plain non-equi range condition
  as BroadcastNestedLoopJoin (fine only when one side is tiny). The
  bucketed form maps each value to a bucket and explodes each band
  into the buckets it covers, turning the range predicate into an
  equi-join on bucket + residual filter — shuffle-partitionable on
  both sides at any scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _guard_reserved(reserved: Sequence[str], *frames: DataFrame) -> None:
    """Fail fast when an input frame already contains one of the
    operator's internal working column names — silently proceeding
    would produce wrong results or an opaque analysis error deep in
    the plan. Renaming the colliding caller column (it is restored in
    the output projection anyway) is the caller's one-line fix."""
    for df in frames:
        hit = sorted(set(df.columns) & set(reserved))
        if hit:
            raise ValueError(
                f"input columns {hit} collide with internal working "
                f"names reserved by this operator ({sorted(reserved)}); "
                "rename them before joining"
            )


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Left-semi join: left rows with ≥1 match (SQL EXISTS)."""
    return left.join(right, list(on), "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """Left-anti join: left rows with no match (SQL NOT EXISTS)."""
    return left.join(right, list(on), "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each left row, the single nearest right row per
    key — at-or-before ``left_ts`` (backward, the default) or at-or-
    after (forward).

    Output: all left columns plus every non-key right column (the
    right timestamp included), NULL where no right row qualifies —
    i.e. LEFT OUTER as-of semantics, matching DuckDB's
    ``ASOF LEFT JOIN`` and pandas ``merge_asof``.

    Ties on ``right_ts`` within a key are resolved by whichever tied
    row sorts last in the union — pre-dedup the right side (e.g. keep
    max id per (key, ts)) for a deterministic result.

    Implementation: tag and union both sides, then one window pass per
    key partition ordered by (ts, side) carrying the last non-null
    right payload forward. The side tag orders right rows before left
    rows at equal timestamps, making the match inclusive.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    by = list(by)
    _guard_reserved(["_ts", "_side", "_l", "_r", "_m"], left, right)
    right_payload = [c for c in right.columns if c not in by]
    l_tagged = left.select(
        *by,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).alias("_r_placeholder"),
    )
    r_struct = F.struct(*right_payload).alias("_r")
    r_tagged = right.select(
        *by,
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).alias("_l_placeholder"),
        r_struct,
    )
    # align the null placeholder types with the real struct types
    l_tagged = l_tagged.withColumnRenamed("_r_placeholder", "_r").withColumn(
        "_r", F.lit(None).cast(r_tagged.schema["_r"].dataType)
    )
    r_tagged = r_tagged.withColumnRenamed("_l_placeholder", "_l").withColumn(
        "_l", F.lit(None).cast(l_tagged.schema["_l"].dataType)
    )
    u = l_tagged.unionByName(r_tagged.select(l_tagged.columns))

    ts_order = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = u.withColumn("_m", F.last("_r", ignorenulls=True).over(w)).filter(
        F.col("_side") == 1
    )
    return matched.select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[F.col(f"_m.{c}").alias(c) for c in right_payload],
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    tolerance_us: int,
) -> DataFrame:
    """NEAREST-within-tolerance as-of join (pandas ``merge_asof
    direction='nearest'`` semantics): for each left row, the single
    right row per key whose timestamp is CLOSEST to ``left_ts`` —
    looking both directions — but only if within ``tolerance_us``
    microseconds; LEFT OUTER (NULL payload) otherwise. Ties in
    distance prefer the backward (at-or-before) match.

    Output: all left columns, the matched right payload columns,
    ``matched_side`` ('b'/'f'/NULL) and ``dist_us`` (microseconds,
    NULL when unmatched).

    Scale shape: like :func:`asof_join`, ONE shuffle on the key and
    ONE sort — the backward candidate is ``last(right)`` over the
    preceding frame and the forward candidate ``first(right)`` over
    the following frame of the SAME sorted window spec, so both
    resolve in a single Window pass; no pair explosion, no second
    exchange. (At equal timestamps the backward frame sees the right
    row and wins with distance 0, so the forward frame's equal-ts
    exclusion is unobservable.) Pre-dedup the right side per
    (key, ts) for deterministic results, as with :func:`asof_join`."""
    by = list(by)
    _guard_reserved(
        ["_ts", "_side", "_l", "_r", "_b", "_f", "_w"], left, right
    )
    right_payload = [c for c in right.columns if c not in by]
    l_tagged = left.select(
        *by,
        F.col(left_ts).cast("timestamp").alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).alias("_r_placeholder"),
    )
    r_tagged = right.select(
        *by,
        F.col(right_ts).cast("timestamp").alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).alias("_l_placeholder"),
        F.struct(*right_payload).alias("_r"),
    )
    l_tagged = l_tagged.withColumnRenamed("_r_placeholder", "_r").withColumn(
        "_r", F.lit(None).cast(r_tagged.schema["_r"].dataType)
    )
    r_tagged = r_tagged.withColumnRenamed("_l_placeholder", "_l").withColumn(
        "_l", F.lit(None).cast(l_tagged.schema["_l"].dataType)
    )
    u = l_tagged.unionByName(r_tagged.select(l_tagged.columns))

    base = Window.partitionBy(*by).orderBy(F.col("_ts").asc(), F.col("_side").asc())
    w_back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    u = u.withColumn("_b", F.last("_r", ignorenulls=True).over(w_back)).withColumn(
        "_f", F.first("_r", ignorenulls=True).over(w_fwd)
    )
    m = u.filter(F.col("_side") == 1)

    here = F.unix_micros(F.col("_ts"))
    dist_b = here - F.unix_micros(F.col("_b")[right_ts].cast("timestamp"))
    dist_f = F.unix_micros(F.col("_f")[right_ts].cast("timestamp")) - here
    ok_b = F.coalesce(
        F.col("_b").isNotNull() & (dist_b <= F.lit(tolerance_us)), F.lit(False)
    )
    ok_f = F.coalesce(
        F.col("_f").isNotNull() & (dist_f <= F.lit(tolerance_us)), F.lit(False)
    )
    side = (
        F.when(ok_b & (~ok_f | (dist_b <= dist_f)), F.lit("b"))
        .when(ok_f, F.lit("f"))
        .otherwise(F.lit(None).cast("string"))
    )
    m = m.withColumn("_w", side)
    chosen = F.when(F.col("_w") == "b", F.col("_b")).when(
        F.col("_w") == "f", F.col("_f")
    )
    dist = F.when(F.col("_w") == "b", dist_b).when(F.col("_w") == "f", dist_f)
    return m.select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[chosen[c].alias(c) for c in right_payload],
        F.col("_w").alias("matched_side"),
        dist.alias("dist_us"),
    )


def range_join_bands(
    fact: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Range (inner) join: each fact row matched to the band rows whose
    half-open interval [lo, hi) contains ``value_col``.

    ``bucket_width`` discretizes the value domain: facts get one
    bucket (floor(value/width)); each band explodes into every bucket
    its interval covers. The join becomes bucket-equi + residual
    range filter. Pick a width comparable to typical band length so
    each band covers O(1) buckets.
    """
    wlit = F.lit(bucket_width)
    f = fact.withColumn("_bucket", F.floor(F.col(value_col) / wlit))
    b = bands.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / wlit), F.floor(F.col(hi_col) / wlit)
            )
        ),
    )
    joined = f.join(
        b,
        (f["_bucket"] == b["_bucket"])
        & (F.col(value_col) >= F.col(lo_col))
        & (F.col(value_col) < F.col(hi_col)),
        "inner",
    )
    return joined.drop(f["_bucket"]).drop(b["_bucket"])


def asof_join_cogrouped(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    direction: str = "backward",
) -> DataFrame:
    """As-of join via ``cogroup().applyInPandas`` — the Python escape
    hatch shape (SURVEY §7: custom operators fall back to Pandas-UDF
    cogroups when DataFrame ops can't express the semantics; this one
    CAN be expressed JVM-side — see :func:`asof_join` — so the
    cogrouped variant exists as the reference implementation pattern
    and is cross-checked against the JVM one in tests).

    Each key's rows from both sides arrive as one pandas pair —
    ``pd.merge_asof`` does per-key work. Scale shape: one shuffle on
    the key for each side, Arrow-batched transfer, per-group memory =
    that key's rows (bounded for time-series keys; salt first for
    pathological keys)."""
    import pandas as pd

    from pyspark.sql import types as T

    by = list(by)
    r_payload = [c for c in right.columns if c not in by]
    out_fields = list(left.schema.fields) + [
        right.schema[c] for c in r_payload
    ]
    out_schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in out_fields]
    )

    def merge(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty:
            return pd.DataFrame(columns=[f.name for f in out_fields])
        lpdf = lpdf.sort_values(left_ts, kind="mergesort")
        rpdf = rpdf.drop(columns=[c for c in by if c in rpdf.columns]).sort_values(
            right_ts, kind="mergesort"
        )
        if rpdf.empty:
            out = lpdf.copy()
            for c in r_payload:
                out[c] = None
            return out[[f.name for f in out_fields]]
        merged = pd.merge_asof(
            lpdf, rpdf, left_on=left_ts, right_on=right_ts, direction=direction
        )
        return merged[[f.name for f in out_fields]]

    return (
        left.groupBy(*by)
        .cogroup(right.groupBy(*by))
        .applyInPandas(merge, schema=out_schema)
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    bucket_width: int,
) -> DataFrame:
    """INTERVAL × INTERVAL overlap join — the generalization of
    :func:`range_join_bands` (point-in-interval) to two interval sets:
    rows pair when ``[l_lo, l_hi)`` and ``[r_lo, r_hi)`` overlap.

    The naive spelling is a non-equi theta join (nested-loop at any
    scale); instead both sides explode into the ``bucket_width``-sized
    grid cells their interval covers, the join is cell-EQUI + residual
    overlap predicate, and duplicate matches (pairs sharing several
    cells) collapse with a distinct. Bucket columns are numeric —
    callers with timestamp intervals pass epoch seconds. Pick a width
    near the typical interval length: each row then explodes into O(1)
    cells, the shuffle is hash-partitioned by cell (time-local at
    100 TB, where a theta join is a cross product)."""
    wlit = F.lit(bucket_width)
    lb = left.withColumn(
        "_cell",
        F.explode(
            F.sequence(F.floor(F.col(l_lo) / wlit), F.floor(F.col(l_hi) / wlit))
        ),
    )
    rb = right.withColumn(
        "_cell",
        F.explode(
            F.sequence(F.floor(F.col(r_lo) / wlit), F.floor(F.col(r_hi) / wlit))
        ),
    )
    joined = lb.join(
        rb,
        (lb["_cell"] == rb["_cell"])
        & (F.col(l_lo) < F.col(r_hi))
        & (F.col(r_lo) < F.col(l_hi)),
    )
    return joined.drop(lb["_cell"]).drop(rb["_cell"]).distinct()
