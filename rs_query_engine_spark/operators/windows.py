"""Window functions (beyond-reference: SURVEY §2.6 / §7 M2.2).

Scale notes: a window spec shuffles once on its partition keys and
sorts within partitions; an unbounded-preceding running frame is
computed in a single pass. Skewed partition keys (one user with 10^9
events) are the scale hazard — mitigate by bucketing time into the
partition key when semantics allow.

Float determinism: running SUM over doubles is association-dependent
(DuckDB uses segment trees, Spark accumulates serially), so
``running_sum`` casts to decimal (exact, association-independent) and
casts back to double — same discipline as the aggregate queries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

D_PRICE = "decimal(12,2)"


def spec(partition_by: list[str], order_by: list[Column | str]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def running_sum(expr: Column | str, w: WindowSpec, name: str = "running") -> Column:
    """Exact running sum: decimal accumulation, double output."""
    c = F.col(expr) if isinstance(expr, str) else expr
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.sum(c.cast(D_PRICE)).over(frame).cast("double").alias(name)
