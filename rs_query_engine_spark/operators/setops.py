"""Set operations (beyond-reference: SURVEY §2.6 / §7 M2.1).

SQL set semantics mapping (the bag forms UNION ALL / INTERSECT ALL /
EXCEPT ALL are plain ``unionByName`` / ``intersectAll`` / ``exceptAll``):
- ``union``        → SQL UNION (distinct) = ``unionByName`` + ``distinct``
- ``intersect``    → SQL INTERSECT (distinct), Spark ``intersect``
- ``except_``      → SQL EXCEPT (distinct), Spark ``exceptAll`` minus
  duplicates → use ``subtract`` (distinct semantics)

All are shuffles on the full row; at scale prefer semi/anti joins on a
key when the intent is key membership (Catalyst can't infer that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b).distinct()


def intersect(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.subtract(b)


def upsert_latest(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
) -> DataFrame:
    """Merge/upsert: union base with an update batch and keep ONE row
    per key — the highest ``version_col``, ties going to the update —
    the CDC-compaction idiom without a mutable
    table format. One shuffle on the key (union is free); no driver
    loop, no per-row merge. At scale, partition/bucket both sides by
    the key so repeated merges reuse the layout."""
    from pyspark.sql import Window

    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(F.col(version_col).desc(), F.col("_src").desc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
