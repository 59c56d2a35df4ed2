"""Driver-contract query registry.

Every implemented operator from SURVEY §2 (+ §7 extensions) gets one
entry here: a PySpark callable ``(spark, sf_dir) -> DataFrame`` and,
where SQL-expressible, the equivalent DuckDB oracle SQL. The driver
hash-compares the two (row count + schema + order-insensitive value
hash), so every computed/aggregate column is aliased identically on
both sides.

Float-determinism discipline (verified bit-exact vs DuckDB at sf0.01):

- **Row-level double arithmetic is emitted RAW.** The same IEEE-754 ops
  in the same order produce bit-identical doubles in Spark and DuckDB;
  ``round()`` must NOT be applied — Spark rounds via shortest-repr
  BigDecimal HALF_UP while DuckDB rounds the raw double, so rounding
  *introduces* half-way divergence instead of removing it.
- **SUM/AVG are computed in DECIMAL** (inputs cast to an exact decimal
  grid — the corpus doubles all sit on a 2-decimal grid) so the sum is
  exact and order-independent, then cast back to DOUBLE (an exact
  conversion) for a stable output type. Decimal precisions are kept
  small enough that Spark never hits its precision-38 cap (which would
  re-introduce rounding).
- MIN/MAX/COUNT and column passthroughs are raw (exact selections).
- ``sqrt`` is IEEE correctly-rounded in both engines (safe raw);
  ``power`` is libm-dependent (±1 ulp) so it is only used on
  small-integer arguments where both engines are exact.

Queries are written Spark-first: lazy scans, broadcast hints for
dimension tables, expressions that stay inside whole-stage codegen.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from rs_query_engine_spark.session import truncate_lineage

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLE: dict[str, str] = {}

# decimal grids for exact aggregation (corpus doubles live on a
# 2-decimal grid; see module docstring)
D_PRICE = "decimal(12,2)"  # prices / balances / quantities (< 1e10)
D_FRAC = "decimal(4,2)"  # discount/tax factors in [0, 2)


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and its oracle SQL) to the registry.
    Every query module registers here; a name already taken raises."""

    def deco(fn: QueryFn) -> QueryFn:
        owner = _QUERIES.get(name)
        if owner is not None:
            raise ValueError(
                f"query {name!r} is already registered by {owner.__module__}"
            )
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLE[name] = oracle
        return fn

    return deco


# The driver's correctness gate records rows for only the FIRST 50
# entries of ``queries()`` per round. With >50 registered queries, emit
# a rotation so hard verification coverage accrues across rounds:
# queries WITHOUT a green row in ANY prior round go first (new
# registrations and regressions automatically qualify), then the
# already-verified ones ordered OLDEST-green-first — a query whose last
# driver-green row is N rounds stale (e.g. because the code under it
# changed since) cycles back into the window before one re-verified
# last round. The verified set is read from the driver's own
# CORRECTNESS_r*.json artifacts at import time, so the rotation
# advances every round without hand-maintained lists (the round-3
# freeze bug); a round that turns a green row red demotes that query
# back to the front of the line.
def _latest_green_rounds(
    artifact_paths: list[str] | None = None,
) -> tuple[dict[str, int], set[str]]:
    """(name -> round number of the most recent driver-green row, for
    queries whose LATEST driver row is green; names whose latest green
    row was a rows-only ``no_oracle`` check). A later red row demotes
    the query back to unverified. The second set feeds the rotation's
    newly-oracled promotion: a query whose only driver evidence is
    rows-only but which NOW has an oracle registered has never had its
    hash checked, so it must re-enter the window with the unverified
    group rather than ranking as merely stale (VERDICT r05 #2).

    ``artifact_paths`` defaults to every ``CORRECTNESS_r*.json`` in the
    repo root (the live state the driver sees); tests pass an explicit
    frozen subset (e.g. rounds ≤ N−1) so round-N window-composition
    assertions stay true after later artifacts land (VERDICT r06 #2 —
    never assert window composition against live artifacts)."""
    import glob
    import json
    import os
    import re

    if artifact_paths is None:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        artifact_paths = glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
    status: dict[str, tuple[bool, int, bool]] = {}
    for path in sorted(artifact_paths):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            rows_only = row.get("err") == "no_oracle"
            if rows_only:
                # rows-only check (non-SQL-expressible op): green when
                # the Spark side executed at all — a legitimately-empty
                # result (spark_rows == 0) still counts as ran-ok, so
                # it doesn't pin a front-of-rotation slot forever
                green = row.get("spark_rows") is not None
            elif row.get("err") is not None:
                green = False
            else:
                green = bool(row.get("rows_match")) and (
                    row.get("hash_match") is None or bool(row.get("hash_match"))
                )
            # later rounds win: a regression demotes, a fix promotes
            status[name] = (green, rnd, rows_only)
    green_round = {n: rnd for n, (ok, rnd, _) in status.items() if ok}
    rows_only_green = {n for n, (ok, _, ro) in status.items() if ok and ro}
    return green_round, rows_only_green


_GREEN_ROUND, _ROWS_ONLY_GREEN = _latest_green_rounds()

# Queries whose IMPLEMENTATION was materially rewritten in round N
# (the optimization rounds' plan-shape rewrites): a driver-green row
# stamped at or BEFORE round N predates the rewrite, so it verifies
# the old spelling, not the code that now runs — the query must
# re-enter the window with the unverified group until a post-rewrite
# green row lands (VERDICT r18 #1). This is NOT a hand-maintained
# verified list (the round-3 freeze bug): entries only DEMOTE, are
# recorded at rewrite time like a changelog, and self-expire the
# moment the driver stamps a green row in a later round.
_CODE_CHANGED_ROUND: dict[str, int] = {
    # round-19 optimization rewrites (OPTIMIZATION_r19.md)
    "stream_stream_join": 19,
    "stream_late_data_drop": 19,
    "stream_stream_join_late": 19,
    "stream_stream_left_outer_late": 19,
    "stream_stream_full_outer_late": 19,
    "stream_chained_stateful": 19,
    "stream_sliding_window": 19,
    "stream_append_finalized": 19,
    "stream_static_enrich": 19,
    "stream_window_topk": 19,
    "source_python_stream_partitioned": 19,
    "source_python_arrow_stream": 19,
    "dedup_containment_pairs": 19,
    "agg_mad_outliers": 19,
    "graph_recursive_closure": 19,
    "stream_window_approx_distinct": 19,
    "stream_parquet_sink": 19,
    "stream_ivm_maintenance": 19,
    "source_rate_micro_batch": 19,
    "governance_takedown_audit": 19,
    "text_winnowing_fingerprints": 19,
    "text_contamination_check": 19,
    "dedup_ngram_jaccard": 19,
    "graph_label_propagation": 19,
    "graph_mass_diffusion": 19,
    "dedup_minhash_estimate": 19,
    # one micro-batch, 2 state partitions (stream_dedup_events docstring)
    "stream_dedup_events": 19,
}


def _rotation_order(qs: dict[str, QueryFn], osql: dict[str, str]) -> list[str]:
    # A query counts as UNVERIFIED when it has no green driver row at
    # all, OR when its latest green row was rows-only (``no_oracle``)
    # but an oracle is NOW registered — the hash check has never run
    # for it, so old rows-only stamps must not grant re-check seniority
    # (computed at call time: _ORACLE fills after the import-time
    # _GREEN_ROUND computation, and the other query modules load
    # lazily).
    def _verified(n: str) -> bool:
        return (
            n in _GREEN_ROUND
            and not (n in _ROWS_ONLY_GREEN and n in osql)
            # a green stamp from before (or at) the query's last code
            # rewrite verifies the OLD spelling — demote to unverified
            and _GREEN_ROUND[n] > _CODE_CHANGED_ROUND.get(n, 0)
        )

    reg_idx = {n: i for i, n in enumerate(qs)}
    unverified = [n for n in qs if not _verified(n)]
    verified = sorted(
        (n for n in qs if _verified(n)),
        key=lambda n: (_GREEN_ROUND[n], reg_idx[n]),
    )
    return unverified + verified


# The query modules besides this one, in registration order.
_QUERY_MODULES: tuple[str, ...] = (
    "queries_staged",
    "queries_staged_r7",
    "queries_staged_r8",
    "queries_staged_r9",
    "queries_staged_r10",
    "queries_staged_r11",
    "queries_staged_r12",
    "queries_staged_r13",
    "queries_staged_r14",
    "queries_staged_r15",
    "queries_staged_r16",
)


def _registered() -> dict[str, QueryFn]:
    """The whole registry in registration order: this module first,
    then ``_QUERY_MODULES`` in list order, each in definition order.
    Loading the modules here rather than at import time lets any of
    them be imported first (each imports this module for its
    helpers); sorting by module makes the order independent of which
    one that was."""
    import importlib

    for mod in _QUERY_MODULES:
        importlib.import_module(f"{__package__}.{mod}")
    rank = {__name__: 0}
    rank.update((f"{__package__}.{m}", i + 1) for i, m in enumerate(_QUERY_MODULES))
    names = sorted(_QUERIES, key=lambda n: rank[_QUERIES[n].__module__])
    return {n: _QUERIES[n] for n in names}


def queries() -> dict[str, QueryFn]:
    qs = _registered()
    return {n: qs[n] for n in _rotation_order(qs, _ORACLE)}


def oracle_sql() -> dict[str, str]:
    qs = _registered()
    return {n: _ORACLE[n] for n in _rotation_order(qs, _ORACLE) if n in _ORACLE}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from rs_query_engine_spark.sources.corpus import load_table

    return load_table(spark, sf_dir, name)


def _dsum(expr: Column | str, name: str) -> Column:
    """Exact SUM: decimal-cast input, decimal-exact sum, double out."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return F.sum(c.cast(D_PRICE)).cast("double").alias(name)


def _davg(expr: Column | str, name: str) -> Column:
    """Exact-sum AVG: decimal sum cast double, divided by count."""
    c = F.col(expr) if isinstance(expr, str) else expr
    return (F.sum(c.cast(D_PRICE)).cast("double") / F.count(c)).alias(name)


# =====================================================================
# Reference parity — scan / filter / project / expressions (SURVEY §2.1-2.2)
# =====================================================================


@register(
    "filter_project_arith",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           l_extendedprice * (1 - l_discount) AS revenue,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount <= 0.05
    """,
)
def filter_project_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → Selection → Projection with arithmetic + comparison +
    boolean AND (reference: ``src/physical_plan/selection.rs:119-168``
    chains scan→projection→selection; expression kernels per
    ``src/physical_plan/expr/binary.rs``). Catalyst pushes both
    predicates into the parquet scan and prunes the read schema to the
    6 referenced columns."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 30) & (F.col("l_discount") <= 0.05)).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias(
            "charged"
        ),
    )


@register(
    "project_literal_alias",
    oracle="""
    SELECT o_orderkey,
           o_totalprice,
           o_totalprice * 0.1 AS fee,
           1 AS one,
           'flag' AS tag
    FROM orders
    WHERE o_orderstatus = 'F'
    """,
)
def project_literal_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal + Alias expressions (``src/physical_plan/expr/literal.rs``,
    ``alias.rs``); string equality predicate (Utf8 filter path,
    ``src/physical_plan/selection.rs:70-89``)."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") * F.lit(0.1)).alias("fee"),
        F.lit(1).alias("one"),
        F.lit("flag").alias("tag"),
    )


# =====================================================================
# Reference parity — aggregation (SURVEY §2.4)
# =====================================================================


@register(
    "agg_groupby_returnflag",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)      AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(l_quantity)                                     AS avg_qty,
           MIN(l_extendedprice)                                        AS min_price,
           MAX(l_extendedprice)                                        AS max_price,
           COUNT(l_orderkey)                                           AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped hash aggregation with SUM/MIN/MAX/AVG/COUNT — the
    reference's full aggregate surface in one query
    (``src/physical_plan/aggr/mod.rs:264-296``), TPC-H-Q1-shaped.
    Executes as partial (map-side) + final HashAggregate; one shuffle
    on the group keys — the minimum possible — and the shuffle carries
    only the pre-aggregated partials (a few rows per partition), so
    this scales to arbitrary lineitem sizes."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice").cast(D_PRICE) * (
        1 - F.col("l_discount").cast(D_FRAC)
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum("l_quantity", "sum_qty"),
        _dsum("l_extendedprice", "sum_base_price"),
        F.sum(disc_price).cast("double").alias("sum_disc_price"),
        _davg("l_quantity", "avg_qty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.count("l_orderkey").alias("count_order"),
    )


@register(
    "agg_global",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
               / COUNT(l_discount)                                     AS avg_disc,
           MIN(l_quantity)                                             AS min_qty,
           MAX(l_quantity)                                             AS max_qty,
           COUNT(l_orderkey)                                           AS n_rows
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregation → single row
    (``src/physical_plan/aggr/mod.rs:125-144``)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        _dsum("l_extendedprice", "sum_price"),
        (
            F.sum(F.col("l_discount").cast(D_FRAC)).cast("double") / F.count("l_discount")
        ).alias("avg_disc"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count("l_orderkey").alias("n_rows"),
    )


@register(
    "agg_computed_groupkey",
    oracle="""
    SELECT l_quantity <= 25                                            AS is_small,
           COUNT(l_orderkey)                                           AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(l_extendedprice)                                AS avg_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)     AS sum_qty
    FROM lineitem
    GROUP BY l_quantity <= 25
    """,
)
def agg_computed_groupkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group by a *computed* boolean key — mirrors the reference's
    ``age <= 24`` grouping test (``src/physical_plan/aggr/mod.rs:270-274``)
    with SQL-correct NULL-key retention (the reference drops null keys,
    ``aggr/mod.rs:61-62``; the corpus has no null l_quantity so both
    agree here — the semantic is unit-tested separately)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy((F.col("l_quantity") <= 25).alias("is_small")).agg(
        F.count("l_orderkey").alias("n"),
        _davg("l_extendedprice", "avg_price"),
        _dsum("l_quantity", "sum_qty"),
    )


# =====================================================================
# Reference parity — joins (SURVEY §2.3)
# =====================================================================


@register(
    "join_inner_star",
    oracle="""
    SELECT r.r_name                                                  AS region_name,
           COUNT(o.o_orderkey)                                       AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def join_inner_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table inner equi-join over the star schema (the
    reference's inner join, ``src/physical_plan/nested_loop_join.rs``,
    with SQL-correct duplicate-key semantics — SURVEY §2.3).

    Scale design: nation/region are always tiny → broadcast-hash joins
    (no shuffle); orders⋈customer is the only real shuffle and Catalyst
    + AQE pick its strategy (broadcast at small SF, sort-merge/
    shuffled-hash at scale, skew-split if needed)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _dsum("o_totalprice", "total_revenue"),
        )
    )


@register(
    "join_multikey",
    oracle="""
    SELECT a.l_orderkey, a.l_linenumber,
           a.l_extendedprice AS price,
           b.max_qty         AS max_qty
    FROM lineitem a
    JOIN (
        SELECT l_orderkey, l_linenumber, MAX(l_quantity) AS max_qty
        FROM lineitem GROUP BY l_orderkey, l_linenumber
    ) b ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
    WHERE a.l_quantity > 45
    """,
)
def join_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-key equi-join — mirrors the reference's (id, name) two-key
    join test (``src/physical_plan/nested_loop_join.rs:233-241``) at
    corpus scale, with correct duplicate-key semantics. Both sides
    shuffle on the same keys; the aggregated side is fact-table-sized
    (near-unique keys) so broadcast would be wrong at scale — instead a
    shuffle-hash hint skips both sort-merge sorts (the per-partition
    hash build is |lineitem|/numPartitions, which fits executor memory
    at any scale with adequately sized shuffle partitions; AQE still
    splits skewed partitions)."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey", "l_linenumber").agg(F.max("l_quantity").alias("max_qty"))
    a = li.filter(F.col("l_quantity") > 45)
    return a.join(agg.hint("shuffle_hash"), ["l_orderkey", "l_linenumber"]).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        "max_qty",
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT outer equi-join — declared but unimplemented in the
    reference (``join_type`` never consulted,
    ``src/logical_plan/logical_plan.rs:106-110``); implemented here
    with SQL semantics. COUNT(col) skips NULLs from unmatched
    customers, so order-less customers report n_orders=0."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_name, o.o_totalprice AS total
    FROM customer c
    RIGHT JOIN orders o ON c.c_custkey = o.o_custkey
    WHERE o.o_totalprice > 100000
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT outer equi-join (declared-only in the reference, as
    above). The post-join filter on the preserved side is pushed below
    the join by Catalyst."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "right")
        .filter(F.col("o_totalprice") > 100000)
        .select("o_orderkey", "c_name", F.col("o_totalprice").alias("total"))
    )


# =====================================================================
# Reference parity — scalar functions (SURVEY §2.5)
# =====================================================================


@register(
    "scalar_functions",
    oracle="""
    SELECT c_custkey,
           CONCAT(c_mktsegment, ':', c_name)          AS seg_name,
           SUBSTRING(c_name, 1, 8)                    AS name_prefix,
           ABS(c_acctbal)                             AS abs_bal,
           SQRT(ABS(c_acctbal))                       AS sqrt_bal,
           POWER(CAST(c_custkey % 7 AS DOUBLE), 3)   AS key_cubed
    FROM customer
    WHERE c_acctbal < 0
    """,
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five declared scalar functions CONCAT/SUBSTRING/ABS/SQRT/
    POWER (``src/logical_plan/logical_expr.rs:130-157`` — declared-only
    in the reference, planner ``unimplemented!()`` at
    ``src/planner/mod.rs:164``; fully implemented here via Spark
    built-ins). SQRT is IEEE correctly-rounded (bit-exact vs the
    oracle); POWER is exercised on small-integer arguments where libm
    implementations are exact."""
    from rs_query_engine_spark.functions.scalar import abs_, concat, power, sqrt, substring

    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey",
        concat(F.col("c_mktsegment"), F.lit(":"), F.col("c_name")).alias("seg_name"),
        substring("c_name", 1, 8).alias("name_prefix"),
        abs_("c_acctbal").alias("abs_bal"),
        sqrt(abs_("c_acctbal")).alias("sqrt_bal"),
        power((F.col("c_custkey") % 7).cast("double"), 3).alias("key_cubed"),
    )


# =====================================================================
# Extensions — sorts / limits / distinct / set ops (SURVEY §7 M2.1)
# =====================================================================


@register(
    "sort_limit_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → Catalyst's TakeOrderedAndProject: a
    per-partition heap + driver merge, NOT a full sort-shuffle — the
    scale-correct top-k. Unique (orderkey, linenumber) tiebreak keeps
    the result deterministic under ties."""
    from rs_query_engine_spark.operators.sorts import top_k

    li = _t(spark, sf_dir, "lineitem")
    return top_k(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
        100,
        F.col("l_extendedprice").desc(),
        "l_orderkey",
        "l_linenumber",
    )


@register(
    "sample_hash_bernoulli",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE ('0x' || substr(md5(l_orderkey || '-' || l_linenumber), 1, 8))::BIGINT
          % 100 < 5
    """,
)
def sample_hash_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% Bernoulli sample via content hashing
    (operators/sorts.sample_hash) — the reproducible eval-set builder:
    map-only (the filter reaches the scan), stable under
    repartitioning and engine changes (md5 of the row key, not a
    seeded RNG stream), so the same rows are kept on any cluster at
    any scale. The RNG-based ``sample_fraction`` twin is
    distribution-tested instead (not value-portable)."""
    from rs_query_engine_spark.operators.sorts import sample_hash

    li = _t(spark, sf_dir, "lineitem")
    key = F.concat_ws("-", "l_orderkey", "l_linenumber")
    return sample_hash(li, key, 5).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "sample_stratified_hash",
    oracle="""
    SELECT event_id, event_type, value
    FROM events
    WHERE ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < CASE event_type WHEN 'purchase' THEN 100
                            WHEN 'error'    THEN 25
                            WHEN 'view'     THEN 10
                            ELSE 2 END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum content-hash sampling over an imbalanced event log:
    keep 100% of purchases, 25% of errors, 10% of views, 2% of the
    rest — the imbalanced-corpus eval-set recipe (keep all of the rare
    class). Map-only like sample_hash_bernoulli; thresholds compile to
    a CASE inside the scan filter."""
    from rs_query_engine_spark.operators.sorts import sample_stratified_hash

    ev = _t(spark, sf_dir, "events")
    return sample_stratified_hash(
        ev,
        "event_type",
        F.col("event_id"),
        {"purchase": 100, "error": 25, "view": 10},
        default_pct=2,
    ).select("event_id", "event_type", "value")


@register(
    "sample_fixed_size",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM (
        SELECT o_orderkey, o_totalprice,
               md5(CAST(o_orderkey AS VARCHAR)) AS smp
        FROM orders
        ORDER BY smp, o_orderkey
        LIMIT 500
    )
    """,
)
def sample_fixed_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-SIZE sample: the 500 orders with smallest
    content hash — exact cardinality (unlike rate-based sampling) yet
    reproducible across runs/engines. Plan is TakeOrderedAndProject:
    per-partition heaps + driver merge, no global sort shuffle, so it
    holds at any corpus size."""
    from rs_query_engine_spark.operators.sorts import sample_fixed_size as sfs

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return sfs(o, F.col("o_orderkey"), 500)


@register(
    "agg_pandas_udaf_range",
    oracle="""
    SELECT l_returnflag,
           MAX(l_extendedprice) - MIN(l_extendedprice) AS price_range,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pandas_udaf_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate via GROUPED_AGG pandas UDF (max−min spread per
    group) — the Arrow-batched analogue of the reference's
    ``AggrOperator`` contract for aggregates built-ins can't express.
    The UDF result is two exact doubles and one subtraction, so it
    value-matches the oracle. Spark forbids mixing grouped-agg pandas
    UDFs with JVM aggregates in one ``agg``, so the row count is a
    second pandas UDAF. (Scale note in
    operators/aggregates.pandas_udaf: grouped-agg UDFs skip partial
    aggregation — keep them off unbounded groups.)"""
    from rs_query_engine_spark.operators.aggregates import pandas_udaf

    spread_udaf = pandas_udaf(lambda s: s.max() - s.min(), "double")
    count_udaf = pandas_udaf(lambda s: s.size, "long")
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            spread_udaf(F.col("l_extendedprice")).alias("price_range"),
            count_udaf(F.col("l_extendedprice")).alias("n"),
        )
    )


@register(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT → partial+final hash aggregate on the pair (map-side
    dedup before the shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@register(
    "setop_union",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
    """,
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL UNION (distinct) via unionByName + distinct."""
    from rs_query_engine_spark.operators.setops import union

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_totalprice") > 150000).select(F.col("o_custkey").alias("custkey"))
    return union(a, b)


@register(
    "setop_intersect_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
    INTERSECT
    SELECT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def setop_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT then EXCEPT (distinct set semantics). SQL leaves
    INTERSECT binding tighter than EXCEPT; the builder chain mirrors
    that explicitly."""
    from rs_query_engine_spark.operators.setops import except_, intersect

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    pos = c.filter(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("custkey"))
    ordered = o.select(F.col("o_custkey").alias("custkey"))
    big = o.filter(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("custkey"))
    return except_(intersect(pos, ordered), big)


# =====================================================================
# Extensions — window functions (SURVEY §7 M2.2)
# =====================================================================


@register(
    "window_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
               ) AS rn
        FROM lineitem
    ) WHERE rn <= 5
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 per group via ROW_NUMBER — one shuffle on the group key.
    (At scale, pre-filtering with an approximate per-group threshold
    cuts the sort input; not needed at these SFs.)"""
    from rs_query_engine_spark.operators.sorts import top_k_per_group

    li = _t(spark, sf_dir, "lineitem")
    return top_k_per_group(
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
        ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
        5,
    )


@register(
    "window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running SUM per customer — decimal-exact accumulation (window
    sum association differs between engines on doubles; decimal is
    association-independent)."""
    from rs_query_engine_spark.operators.windows import running_sum, spec

    o = _t(spark, sf_dir, "orders")
    w = spec(["o_custkey"], ["o_orderdate", "o_orderkey"])
    return o.select("o_custkey", "o_orderkey", running_sum("o_totalprice", w, "running_spend"))


@register(
    "window_lag_delta",
    oracle="""
    SELECT user_id, event_id, value,
           LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events
    """,
)
def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG + arithmetic on the lagged value over the event stream
    (batch view). Raw doubles: subtraction of identical operands is
    bit-identical across engines."""
    from rs_query_engine_spark.operators.windows import spec

    e = _t(spark, sf_dir, "events")
    w = spec(["user_id"], ["ts", "event_id"])
    prev = F.lag(F.col("value")).over(w)
    return e.select(
        "user_id",
        "event_id",
        "value",
        prev.alias("prev_value"),
        (F.col("value") - prev).alias("delta"),
    )


# =====================================================================
# Extensions — date/time, strings, JSON (SURVEY §7 M2.3)
# =====================================================================


@register(
    "date_trunc_month_agg",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           COUNT(o_orderkey) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS monthly_revenue
    FROM orders
    GROUP BY 1
    """,
)
def date_trunc_month_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month rollup via date_trunc (date output type keeps
    the oracle comparison timezone-free)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _dsum("o_totalprice", "monthly_revenue"),
        )
    )


@register(
    "events_hourly_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(event_id) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation (batch semantics
    of the streaming query in :mod:`rs_query_engine_spark.streaming`).
    ``F.window(ts, '1 hour')`` start == date_trunc('hour') for aligned
    tumbling windows."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast(D_PRICE)).cast("double").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_gap_fill",
    oracle="""
    WITH span AS (
        SELECT CAST(MIN(date_trunc('day', ts)) AS DATE) AS d0,
               CAST(MAX(date_trunc('day', ts)) AS DATE) AS d1
        FROM events
    ), days AS (
        SELECT CAST(g.d AS DATE) AS day
        FROM span, LATERAL unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS g(d)
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), counts AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT days.day, types.event_type, COALESCE(counts.n, 0) AS n
    FROM days CROSS JOIN types
    LEFT JOIN counts USING (day, event_type)
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: daily counts per event type with missing
    (day, type) combinations zero-filled — the densify step before
    charting/forecasting. The day scaffold is built with
    ``sequence``+``explode`` from the corpus span (a 1-row aggregate,
    broadcast), so the only real shuffle is the daily count; the
    scaffold join is broadcast at any corpus size because its
    cardinality is days × types, not rows."""
    e = _t(spark, sf_dir, "events")
    span = e.agg(
        F.min(F.date_trunc("day", "ts")).cast("date").alias("d0"),
        F.max(F.date_trunc("day", "ts")).cast("date").alias("d1"),
    )
    days = span.select(
        F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = e.select("event_type").distinct()
    counts = (
        e.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        F.broadcast(days)
        .crossJoin(types)
        .join(counts, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("n", F.lit(0)).alias("n"))
    )


@register(
    "events_funnel",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(first_view) AS n_viewers,
           COUNT(CASE WHEN first_purchase > first_view THEN 1 END) AS n_converted
    FROM firsts
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step conversion funnel (view → later purchase) via
    conditional MIN aggregation — one shuffle on user_id, no self-join
    (the naive events⋈events per-user pair join explodes quadratically
    in events-per-user; conditional aggregation is the scale-correct
    funnel idiom)."""
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_view").alias("n_viewers"),
        F.count(
            F.when(F.col("first_purchase") > F.col("first_view"), F.lit(1))
        ).alias("n_converted"),
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST((CAST(date_trunc('week', e.ts) AS DATE) - f.cohort_week) / 7
                AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted distinct in each subsequent week — the cohort matrix
    behind every retention chart. Two shuffles (first-touch agg on
    user_id, then the cohort×offset distinct count); the first-touch
    side carries one row per user, so the join broadcasts at low user
    cardinality and hash-joins co-partitioned otherwise."""
    e = _t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    return (
        e.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", "ts").cast("date"), F.col("cohort_week"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@register(
    "profile_lineitem",
    oracle="""
    SELECT 'l_quantity' AS "column", COUNT(*) AS n,
           COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS n_null,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           CAST(MIN(l_quantity) AS VARCHAR) AS min_str,
           CAST(MAX(l_quantity) AS VARCHAR) AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', COUNT(*),
           COUNT(CASE WHEN l_returnflag IS NULL THEN 1 END),
           COUNT(DISTINCT l_returnflag),
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    UNION ALL
    SELECT 'l_shipdate', COUNT(*),
           COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END),
           COUNT(DISTINCT l_shipdate),
           CAST(MIN(l_shipdate) AS VARCHAR), CAST(MAX(l_shipdate) AS VARCHAR)
    FROM lineitem
    """,
)
def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (count/nulls/distincts/min/max per column)
    in ONE aggregation pass over the scan — the oracle spells it as
    three scans ∪ ALL; the engine's operator
    (aggregates.profile_columns) reshapes a single 1-row aggregate, so
    profiling N columns of a 100 TB table costs one scan, not N."""
    from rs_query_engine_spark.operators.aggregates import profile_columns

    li = _t(spark, sf_dir, "lineitem")
    return profile_columns(li, ["l_quantity", "l_returnflag", "l_shipdate"])


@register(
    "string_functions",
    oracle="""
    SELECT p_partkey,
           UPPER(p_brand)                          AS brand_upper,
           LOWER(p_type)                           AS type_lower,
           LENGTH(p_name)                          AS name_len,
           TRIM(CONCAT('  ', p_brand, '  '))       AS brand_trim,
           REPLACE(p_type, ' ', '_')               AS type_snake
    FROM part
    WHERE p_name LIKE '%gold%' OR p_size BETWEEN 40 AND 45
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function surface + LIKE/BETWEEN predicates (absent from
    the reference — SURVEY §2.6)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%gold%") | F.col("p_size").between(40, 45)
    ).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("brand_trim"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events props column (JSON
    functions absent from the reference — SURVEY §2.6)."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
    )


@register(
    "setop_upsert_latest",
    oracle="""
    WITH updates AS (
        SELECT o_orderkey, o_custkey,
               o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate + INTERVAL 30 DAY AS o_orderdate
        FROM orders WHERE o_orderkey % 7 = 0
    ), merged AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 0 AS src
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 1 AS src
        FROM updates
    )
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM merged
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY o_orderkey ORDER BY o_orderdate DESC, src DESC
    ) = 1
    """,
)
def setop_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style merge/upsert without a mutable table format: union the
    base with an update batch (here: a derived batch bumping every 7th
    order), keep the newest row per key via one window pass — ONE
    shuffle on the key, no driver loop. The update rows win on their
    later o_orderdate; the src tag breaks exact ties toward updates."""
    from rs_query_engine_spark.operators.setops import upsert_latest

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    updates = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        F.date_add("o_orderdate", 30).alias("o_orderdate"),
    )
    return upsert_latest(o, updates, ["o_orderkey"], "o_orderdate").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("date")
    )


@register(
    "json_typed_parse_agg",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def json_typed_parse_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-driven JSON parsing (``from_json`` → typed struct) +
    aggregation over the parsed field. Unlike per-field
    ``get_json_object`` (one full JSON parse per extracted field),
    ``from_json`` parses each document ONCE into a struct — the right
    shape when extracting several fields from event payloads at
    scale."""
    e = _t(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json("props", "k BIGINT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.sum(F.col("p.k")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


# =====================================================================
# Extensions — CASE/WHEN, IN, IS NULL, CAST (SURVEY §2.6 gap-fill)
# =====================================================================


@register(
    "case_when_in_cast",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 200000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END                  AS price_band,
           o_orderpriority IN ('1-URGENT', '2-HIGH') AS is_urgent,
           CAST(TRUNC(o_totalprice) AS BIGINT)  AS price_int,
           o_orderstatus IS NOT NULL            AS has_status
    FROM orders
    """,
)
def case_when_in_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN, IN-list, CAST, IS NULL — the expression surface the
    reference lacks entirely (SURVEY §2.6). Note: Spark CAST
    double→bigint truncates toward zero while DuckDB's rounds, so the
    oracle spells Spark's semantics as CAST(TRUNC(x) AS BIGINT)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "high")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_urgent"),
        F.col("o_totalprice").cast("bigint").alias("price_int"),
        F.col("o_orderstatus").isNotNull().alias("has_status"),
    )


# =====================================================================
# Extensions — text analysis over `documents` (north-star M2.4)
# =====================================================================


@register(
    "text_token_stats",
    oracle=r"""
    SELECT doc_id,
           n_chars,
           len(regexp_split_to_array(lower(text), '\s+'))  AS n_tokens,
           length(text) AS measured_chars
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting over documents — all JVM-side
    (split/size), no Python in the loop."""
    from rs_query_engine_spark.functions.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "n_chars",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("measured_chars"),
    )


@register(
    "text_quality_score",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               length(text) AS n_chars_m,
               regexp_split_to_array(lower(text), '\s+') AS t
        FROM documents
    ), counted AS (
        SELECT doc_id, n_chars_m,
               len(t) AS n_tokens,
               len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is','it','for','on'))) AS n_stop
        FROM toks
    )
    SELECT doc_id,
           n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens                         AS stop_ratio,
           0.5 * LEAST(n_chars_m / 500.0, 1.0)
             + 0.5 * LEAST((CAST(n_stop AS DOUBLE) / n_tokens) * 4.0, 1.0) AS quality
    FROM counted
    WHERE n_tokens > 0
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length + stopword-ratio components
    (punctuation term omitted here because the corpus has none — the
    full composite is unit-tested). Pure arithmetic on counts →
    bit-identical vs the oracle."""
    from rs_query_engine_spark.functions.text import STOPWORDS, tokens

    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))
    n_tokens = F.size(toks)
    stop_ratio = n_stop.cast("double") / n_tokens
    quality = F.lit(0.5) * F.least(F.length("text") / F.lit(500.0), F.lit(1.0)) + F.lit(
        0.5
    ) * F.least(stop_ratio * 4.0, F.lit(1.0))
    return (
        d.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            stop_ratio.alias("stop_ratio"),
            quality.alias("quality"),
        )
        .filter(F.col("n_tokens") > 0)
    )


@register(
    "text_lang_id",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS t
        FROM documents
    ), scores AS (
        SELECT doc_id, lang,
               len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','it')))  AS s_en,
               len(list_filter(t, x -> x IN ('der','die','und','das','ist','nicht','ein','zu'))) AS s_de,
               len(list_filter(t, x -> x IN ('el','la','de','que','y','en','un','por')))     AS s_es,
               len(list_filter(t, x -> x IN ('le','la','et','les','des','une','est','que'))) AS s_fr,
               len(list_filter(t, x -> x IN ('的','是','在','了','和','有','我','不')))        AS s_zh
        FROM toks
    )
    SELECT doc_id, lang,
           CASE WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
                WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
                WHEN s_fr = GREATEST(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM scores
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID (n-gram heuristic): argmax of per-
    language marker-token counts, tie-broken in fixed language order —
    deterministic and SQL-expressible on both sides."""
    from rs_query_engine_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", lang_id("text").alias("pred_lang"))


@register(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 fingerprint of normalized text — the exact-
    dedup key (md5 hex is engine-independent; Spark xxhash64/DuckDB
    hash() are not)."""
    from rs_query_engine_spark.functions.text import fingerprint_md5

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5("text").alias("fp"))


@register(
    "text_token_freq",
    oracle=r"""
    SELECT token, COUNT(*) AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS token
        FROM documents
    )
    GROUP BY token
    HAVING COUNT(*) >= 50
    """,
)
def text_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency: explode tokens → hash-agg count →
    frequency floor. The explode happens before the shuffle but the
    partial aggregation collapses each partition's counts first, so
    shuffle volume is vocabulary-sized, not token-sized."""
    from rs_query_engine_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= 50)
    )


@register(
    "text_chunking",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        FROM documents
    )
    SELECT doc_id,
           s AS chunk_start,
           len(list_slice(toks, s, s + 49)) AS n_tokens,
           array_to_string(list_slice(toks, s, s + 49), ' ') AS chunk_text
    FROM t, LATERAL unnest(generate_series(1, greatest(len(toks), 1), 40)) AS g(s)
    """,
)
def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunker: fixed 50-token chunks every 40 tokens
    (10-token overlap), one output row per chunk via explode. The
    chunk spans are built with array built-ins in a single map-only
    projection — no shuffle, no UDF — so chunking 100 TB is scan-bound.
    Spark ``sequence``+``slice`` and DuckDB ``generate_series``+
    ``list_slice`` (both end-inclusive) produce identical spans."""
    from rs_query_engine_spark.functions.text import chunk_spans

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.explode(chunk_spans(F.col("text"), chunk_size=50, stride=40)).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_start").alias("chunk_start"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


@register(
    "text_tfidf_topk",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (
        SELECT COUNT(*) AS n FROM documents
    )
    SELECT doc_id, term,
           CAST(tf * n AS DOUBLE) / df AS score,
           ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(tf * n AS DOUBLE) / df DESC, term
           ) AS rnk
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
    QUALIFY rnk <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by tf-idf with linear
    idf (= N/df): the score is one exact integer product and one IEEE
    division, so Spark and DuckDB agree bit-for-bit (log-idf would
    rank identically but diverge in the last ulp). Plan: explode →
    (doc,term) count → vocabulary df agg → join (vocab side broadcast
    when small) → per-doc window top-k; each shuffle is on the
    minimal key for its step."""
    from rs_query_engine_spark.functions.text import tfidf_topk_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_topk_terms(d, "doc_id", "text", k=3)


# =====================================================================
# Extensions — deduplication over `documents` (north-star M2.4/dedup)
# =====================================================================


@register(
    "dedup_exact",
    oracle=r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_id,
           COUNT(*)    AS n_dups
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by normalized-text md5, keep smallest id.
    One shuffle on the fingerprint; partial agg collapses per-partition
    dups first."""
    from rs_query_engine_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text")


def _minhash_sql_parts() -> tuple[str, str]:
    """Generate the DuckDB minhash signature + band-key SQL (mirrors
    operators/dedup.py exactly: base hash = first-8-hex(md5(s)) as
    bigint, then affine family h_i(x) = ((2i+1)x + (7919i+17)) mod
    4294967311 — one md5 per shingle on both engines). The shape comes
    from the dedup.py production constants so a tuning change there
    regenerates these fragments too — never a stale inline copy."""
    from rs_query_engine_spark.operators.dedup import (
        MINHASH_BANDS as bands,
        MINHASH_NUM_HASHES as num_hashes,
    )

    sig_cols = ",\n               ".join(
        f"COALESCE(list_min(list_transform(hs, x -> "
        f"({2 * i + 1} * x + {7919 * i + 17}) % 4294967311)), 8589934592) AS h{i}"
        for i in range(num_hashes)
    )
    rows = num_hashes // bands
    band_rows = ", ".join(
        "({b}, CONCAT_WS('-', {ks}))".format(
            b=b, ks=", ".join(f"h{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    )
    return sig_cols, band_rows


_MH_SIG, _MH_BANDS = _minhash_sql_parts()


def _mh_max_bucket() -> int:
    from rs_query_engine_spark.operators.dedup import MINHASH_MAX_BUCKET

    return MINHASH_MAX_BUCKET

# shared CTE chain: documents → shingles → minhash sig → LSH bands →
# verified near-dup pairs (used by the pairs query AND the clusters
# query's recursive-CTE oracle)
_MH_PAIRS_CTES = rf"""
    sh AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       generate_series(1, len(regexp_split_to_array(lower(text), '\s+')) - 2),
                       i -> array_to_string(regexp_split_to_array(lower(text), '\s+')[i:i+2], ' ')
                   )
               ) AS sh
        FROM documents
    ), hashed AS (
        SELECT doc_id, sh,
               list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
        FROM sh
    ), sig AS (
        SELECT doc_id, sh,
               {_MH_SIG}
        FROM hashed
    ), banded AS (
        SELECT doc_id, sh, b.* FROM sig,
        LATERAL (VALUES {_MH_BANDS}) AS b(band, key)
    ), banded_ok AS (
        -- bucket-size cap, generated from dedup.py's MINHASH_MAX_BUCKET:
        -- degenerate band keys are skipped before the quadratic pair expansion
        SELECT * FROM banded
        QUALIFY COUNT(*) OVER (PARTITION BY band, key) BETWEEN 2 AND {_mh_max_bucket()}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.sh AS sh_a, b.sh AS sh_b
        FROM banded_ok a JOIN banded_ok b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ), pairs AS (
        SELECT id_a, id_b,
               CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                 / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jaccard
        FROM cand
        WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
                 / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) >= 0.5
    )
"""


@register(
    "dedup_minhash_lsh",
    oracle=rf"""
    WITH {_MH_PAIRS_CTES}
    SELECT id_a, id_b, jaccard FROM pairs
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 hashes) + banded LSH (4 bands × 4 rows) + exact-
    Jaccard verification at θ=0.5 over 3-gram shingles. Candidate
    generation is an equi-join on band keys — never an all-pairs
    join — so cost tracks the number of true near-dup clusters."""
    from rs_query_engine_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text")


@register(
    "dedup_connected_clusters",
    oracle=rf"""
    WITH RECURSIVE {_MH_PAIRS_CTES},
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL
        SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach AS (
        SELECT s AS node, d AS r FROM sym
        UNION
        SELECT reach.node, sym.d AS r FROM reach JOIN sym ON reach.r = sym.s
    ),
    comp AS (
        SELECT node, LEAST(node, MIN(r)) AS cluster_id
        FROM reach GROUP BY node
    )
    SELECT node AS doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
)
def dedup_connected_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster consolidation: near-dup pairs (MinHash LSH) →
    connected components (iterative min-label propagation,
    operators/graph.py) → (doc_id, cluster_id, cluster_size). The
    oracle computes the same components via DuckDB's recursive CTE
    (transitive closure + min), pinning the iteration's fixpoint."""
    from rs_query_engine_spark.operators.dedup import minhash_lsh_pairs
    from rs_query_engine_spark.operators.graph import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    return dedup_clusters(pairs)


def _simhash_sql() -> str:
    """DuckDB SimHash signature SQL over token hashes ``h`` and token
    count ``n``, ``dedup.SIMHASH_BITS`` wide like the Spark operators."""
    from rs_query_engine_spark.operators.dedup import SIMHASH_BITS

    return "\n             + ".join(
        f"CASE WHEN 2 * len(list_filter(h, x -> ((x >> {j}) & 1) = 1)) > n "
        f"THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )


@register(
    "dedup_simhash",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               list_transform(regexp_split_to_array(lower(text), '\s+'),
                              s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h,
               len(regexp_split_to_array(lower(text), '\s+')) AS n
        FROM documents
    )
    SELECT doc_id,
           {_simhash_sql()} AS simhash
    FROM t
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (bit j set when the
    majority of token hashes have bit j set). Near-dups then hamming-
    match on signature blocks; the signature projection itself is the
    scale-relevant pass (one scan, no shuffle)."""
    from rs_query_engine_spark.operators.dedup import simhash
    from rs_query_engine_spark.sources.corpus import spread

    d = spread(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", simhash(F.col("text")).alias("simhash"))


@register(
    "dedup_simhash_pairs",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               list_transform(regexp_split_to_array(lower(text), '\s+'),
                              s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h,
               len(regexp_split_to_array(lower(text), '\s+')) AS n
        FROM documents
    ), sig AS (
        SELECT doc_id,
               {_simhash_sql()} AS s
        FROM t
    ), banded AS (
        SELECT doc_id, s, b.blk, (s >> (8 * b.blk)) & 255 AS val
        FROM sig, LATERAL (VALUES (0), (1), (2), (3)) AS b(blk)
    ), banded_ok AS (
        SELECT * FROM banded
        QUALIFY COUNT(*) OVER (PARTITION BY blk, val) BETWEEN 2 AND 1000
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.s AS sig_a, b.s AS sig_b
        FROM banded_ok a JOIN banded_ok b
          ON a.blk = b.blk AND a.val = b.val AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup retrieval, completing :func:`dedup_simhash`:
    candidates from an equi-join on 8-bit signature blocks (pigeonhole:
    hamming ≤ 3 over 4 blocks ⇒ some block equal — guaranteed recall,
    no all-pairs join), verified with exact ``bit_count(sig_a^sig_b)``.
    Cost tracks bucket collisions, not n²; bucket-size cap 1000 guards
    degenerate keys (mirrored in the oracle's QUALIFY)."""
    from rs_query_engine_spark.operators.dedup import simhash_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text")


@register(
    "dedup_ngram_jaccard",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               array_to_string(regexp_split_to_array(lower(text), '\s+')[1:8], ' ') AS blk,
               list_distinct(
                   list_transform(
                       generate_series(1, len(regexp_split_to_array(lower(text), '\s+')) - 2),
                       i -> array_to_string(regexp_split_to_array(lower(text), '\s+')[i:i+2], ' ')
                   )
               ) AS sh
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
    FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs with 8-token-prefix blocking (equi-
    join on the blocking key replaces the cross join — the planted
    near-dup clusters share prefixes)."""
    from rs_query_engine_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, "doc_id", "text")


def _hlsh_band_values() -> str:
    """DuckDB LATERAL VALUES rows for the hyperplane-LSH band keys —
    the ±1 plane literals come from the SAME Python generator and the
    same ``dedup.HLSH_*`` shape the Spark operator uses (hashlib.md5 ≡
    DuckDB md5), so both engines compute identical sign bits."""
    from rs_query_engine_spark.operators.dedup import (
        HLSH_BANDS as bands,
        HLSH_DIM,
        HLSH_NUM_PLANES as num_planes,
        hyperplane_signs,
    )

    planes = hyperplane_signs(num_planes, HLSH_DIM)
    rows = num_planes // bands

    def bit(i: int) -> str:
        lit = "[" + ",".join("1.0" if x > 0 else "-1.0" for x in planes[i]) + "]"
        return (
            f"CASE WHEN list_sum(list_transform(list_zip(v, {lit}::DOUBLE[]), "
            f"x -> x[1] * x[2])) >= 0 THEN 1 ELSE 0 END"
        )

    keys = [
        " + ".join(f"({bit(b * rows + r)} * {1 << r})" for r in range(rows))
        for b in range(bands)
    ]
    return ", ".join(f"({b}, {k})" for b, k in enumerate(keys))


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x*x))) AS n
        FROM embeddings
    ), banded AS (
        SELECT vec_id, bb.band, bb.key
        FROM e, LATERAL (VALUES {_hlsh_band_values()}) AS bb(band, key)
    ), banded_ok AS (
        SELECT * FROM banded
        QUALIFY COUNT(*) OVER (PARTITION BY band, key) BETWEEN 2 AND 1000
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM banded_ok a JOIN banded_ok b
          ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           list_sum(list_transform(list_zip(ea.v, eb.v), x -> x[1] * x[2]))
             / (ea.n * eb.n) AS cos
    FROM cand c JOIN e ea ON c.id_a = ea.vec_id JOIN e eb ON c.id_b = eb.vec_id
    WHERE list_sum(list_transform(list_zip(ea.v, eb.v), x -> x[1] * x[2]))
             / (ea.n * eb.n) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the FULL corpus via
    random-hyperplane LSH (32 sign bits, 8 bands × 4 bits): candidates
    from a banded equi-join, exact cosine ≥ 0.4 verified on candidates
    only — no all-pairs self-join anywhere in the plan (plan-asserted
    in tests/unit/test_plan_properties.py). Retrieval is the standard
    LSH trade: this config finds 46 of the corpus's 59 ground-truth
    pairs; more planes/bands buy recall. Cosine is the same sequential
    fold on both engines with per-side staged norms — bit-identical."""
    from rs_query_engine_spark.operators.dedup import embedding_lsh_pairs

    e = _t(spark, sf_dir, "embeddings")
    return embedding_lsh_pairs(e, "vec_id", "embedding")


# =====================================================================
# Extensions — similarity search over `embeddings` (north-star M2.5)
# =====================================================================

_COS_SQL = """list_sum(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]))
             / (sqrt(list_sum(list_transform({a}, x -> x*x)))
                * sqrt(list_sum(list_transform({b}, x -> x*x))))"""


@register(
    "similarity_bruteforce_topk",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id % 100 = 0
    ), scored AS (
        SELECT q.query_id, corpus.vec_id,
               {_COS_SQL.format(a="corpus.v", b="q.qv")} AS cos
        FROM corpus, q
    )
    SELECT * FROM (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """,
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: brute-force cosine top-10 for each query
    vector (every 100th corpus vector). The query set is broadcast —
    a map-only pass over the corpus, no corpus shuffle; only the
    per-query top-k survive to the (tiny) rank shuffle."""
    from rs_query_engine_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return brute_force_topk(e, q, 10)


@register(
    "similarity_ivf_topk",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8
    ), assigned AS (
        SELECT vec_id, v, centroid_id FROM (
            SELECT corpus.vec_id, corpus.v, cent.centroid_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY corpus.vec_id
                       ORDER BY {_COS_SQL.format(a="corpus.v", b="cent.cv")} DESC, cent.centroid_id
                   ) AS rn
            FROM corpus, cent
        ) WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, centroid_id
        FROM assigned WHERE vec_id % 100 = 0
    ), scored AS (
        SELECT q.query_id, a.vec_id,
               {_COS_SQL.format(a="a.v", b="q.qv")} AS cos
        FROM assigned a JOIN q ON a.centroid_id = q.centroid_id
    )
    SELECT * FROM (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (nprobe=1): corpus assigned to 8 fixed seed
    centroids (deterministic stand-in for trained k-means — same
    plumbing), queries probe only their own bucket → ~1/8 of the
    corpus scanned per query. At scale the assignment becomes the
    table's bucketing column and the probe is partition-pruned."""
    from rs_query_engine_spark.operators.similarity import assign_centroids, cosine, ivf_topk
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    assigned = assign_centroids(e, cent)
    q = (
        assigned.filter(F.col("vec_id") % 100 == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("_v").alias("_qv"), F.col("centroid_id"))
    )
    scored = assigned.join(F.broadcast(q), "centroid_id").select(
        "query_id", "vec_id", cosine(F.col("_v"), F.col("_qv")).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 10)


@register(
    "similarity_ivf_probed",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8
    ), ranked AS (
        SELECT corpus.vec_id, corpus.v, cent.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY corpus.vec_id
                   ORDER BY {_COS_SQL.format(a="corpus.v", b="cent.cv")} DESC, cent.centroid_id
               ) AS rn
        FROM corpus, cent
    ), assigned AS (
        SELECT vec_id, v, centroid_id FROM ranked WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, centroid_id
        FROM ranked WHERE rn <= 2 AND vec_id % 100 = 0
    ), scored AS (
        SELECT q.query_id, a.vec_id,
               {_COS_SQL.format(a="a.v", b="q.qv")} AS cos
        FROM assigned a JOIN q ON a.centroid_id = q.centroid_id
    )
    SELECT * FROM (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """,
)
def similarity_ivf_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: each query searches its TWO nearest
    inverted lists (~2/8 of the corpus) — the recall/cost knob that
    makes IVF usable in practice (nprobe=1 recall vs brute force is
    measurably worse; tests/unit/test_similarity_recall.py gates the
    ordering). Same deterministic seed centroids as
    ``similarity_ivf_topk`` so the probe set stays oracle-expressible
    (query assignment = rank ≤ 2 instead of rank = 1)."""
    from rs_query_engine_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(e, cent, q, 10, nprobe=2)


@register("similarity_ivf_kmeans")  # no oracle: k-means centers are
# iteration-order-dependent floats — not SQL-reproducible; the driver
# records the rows-only check and tests/unit/test_similarity_recall.py
# gates recall@10 against the exact brute-force baseline
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over TRAINED centroids: seeded Spark-ML k-means (k=8)
    replaces the fixed seed vectors, nprobe=2. This is the production
    IVF shape — train on a sample, broadcast the centers, bucket the
    corpus by assignment, probe a few lists per query."""
    from rs_query_engine_spark.operators.similarity import ivf_topk, kmeans_centroids

    # one materialized scan feeds the iterative trainer, the corpus
    # side, and the query subset (measured ~15% faster than three
    # parquet re-reads; at index-build scale training samples and
    # corpus bucketing share the same pass)
    e = _t(spark, sf_dir, "embeddings").transform(truncate_lineage)
    cents = kmeans_centroids(e, k=8, max_iter=10)
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(e, cents, q, 10, nprobe=2)


# =====================================================================
# Extensions — sessionization + multimodal plumbing (M2.6 / north-star)
# =====================================================================


@register(
    "events_sessionization",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT *, SUM(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING
        ) AS sess_id
        FROM o
    )
    SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           user_id,
           COUNT(event_id) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM s
    GROUP BY user_id, sess_id
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (5-minute inactivity gap) via Spark's
    ``session_window`` in batch mode — the same expression runs as a
    stateful streaming query (``streaming.events.sessionize_stream``).
    The oracle derives identical sessions from first principles
    (lag-gap → cumulative session id → group), pinning the window's
    half-open [start, last+gap) semantics."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast(D_PRICE)).cast("double").alias("session_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


@register(
    "multimodal_byte_stats",
    oracle="""
    WITH b AS (
        SELECT doc_id, list_transform(split(text, ''), x -> ord(x)) AS bytes
        FROM documents WHERE length(text) > 0
    )
    SELECT doc_id AS id,
           len(bytes)                               AS n_bytes,
           CAST(list_sum(bytes) AS BIGINT)          AS byte_sum,
           CAST(list_max(bytes) AS INT)             AS byte_max,
           CAST(list_sum(bytes) AS DOUBLE) / len(bytes) AS mean_byte
    FROM b
    """,
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column feature extraction through the real multimodal
    plumbing: text → utf-8 ``binary`` payload → Arrow-batched
    ``mapInPandas`` byte statistics (operators/multimodal.byte_stats).
    The corpus is ASCII, so the DuckDB oracle reproduces the byte math
    from codepoints. This is the one deliberately-Python query — it
    exists to pin the JVM→Arrow→pandas→JVM round trip, not for speed."""
    from rs_query_engine_spark.operators.multimodal import byte_stats

    d = _t(spark, sf_dir, "documents")
    payloads = d.filter(F.length("text") > 0).select(
        F.col("doc_id").alias("id"), F.encode("text", "utf-8").alias("payload")
    )
    return byte_stats(payloads)


@register(
    "multimodal_frame_sample",
    oracle="""
    WITH t AS (
        SELECT doc_id, text FROM documents WHERE length(text) > 0
    )
    SELECT doc_id AS id,
           CAST((off - 1) / 64 AS INT) AS frame_idx,
           md5(substr(text, off, 16)) AS frame_md5
    FROM t, LATERAL unnest(generate_series(1, length(text), 64)) AS g(off)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through the multimodal plumbing: a
    1→N flatMap over binary payloads inside ``mapInPandas`` (one
    16-byte frame every 64 bytes). Payloads are utf-8 text (ASCII
    corpus), so DuckDB reproduces each frame via substr and the md5 of
    the frame bytes is value-checked — the Arrow batch shape, schema,
    and offset math are all pinned, while a real deployment swaps only
    the in-Python slice for an ffmpeg call."""
    from rs_query_engine_spark.operators.multimodal import sample_frames

    d = _t(spark, sf_dir, "documents")
    payloads = d.filter(F.length("text") > 0).select(
        F.col("doc_id").alias("id"), F.encode("text", "utf-8").alias("payload")
    )
    return sample_frames(payloads, every_n_bytes=64, frame_bytes=16).select(
        "id", "frame_idx", F.md5("frame_bytes").alias("frame_md5")
    )


@register(
    "dedup_keep_canonical",
    oracle=rf"""
    WITH RECURSIVE {_MH_PAIRS_CTES},
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL
        SELECT id_b AS s, id_a AS d FROM pairs
    ),
    reach AS (
        SELECT s AS node, d AS r FROM sym
        UNION
        SELECT reach.node, sym.d AS r FROM reach JOIN sym ON reach.r = sym.s
    ),
    drop_list AS (
        SELECT node FROM (
            SELECT node, LEAST(node, MIN(r)) AS cluster_id
            FROM reach GROUP BY node
        ) WHERE node <> cluster_id
    )
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM drop_list)
    """,
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline END-TO-END: MinHash-LSH pairs → connected
    components → drop every cluster member except the canonical
    (min-id) doc — i.e. the deduplicated corpus a training run would
    actually consume. The final filter is a plain left-anti join with
    NO broadcast hint: at realistic dup rates (10–50 %, Lee et al.) the
    drop list is corpus-proportional — billions of ids at 100 TB — so
    the join strategy is left to AQE, which broadcasts only when the
    runtime-measured side actually fits (and falls back to a shuffled
    hash anti-join otherwise). A no-cartesian plan test pins the
    shape."""
    from rs_query_engine_spark.operators.dedup import minhash_lsh_pairs
    from rs_query_engine_spark.operators.graph import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    clusters = dedup_clusters(pairs)
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return d.join(drop, "doc_id", "left_anti").select("doc_id", "n_chars")


# =====================================================================
# Extensions — advanced joins, grouping, subqueries, pivot (SURVEY §2.6)
# =====================================================================


@register(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE c_mktsegment = 'BUILDING'
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (SQL EXISTS) — beyond the reference's three
    declared join types (``src/logical_plan/logical_plan.rs:106-110``).
    Catalyst plans a broadcast/shuffled semi join that short-circuits
    per key instead of materializing matches."""
    from rs_query_engine_spark.operators.joins import semi_join

    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return semi_join(c, o, ["c_custkey"]).select("c_custkey", "c_name", "c_acctbal")


@register(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (SQL NOT EXISTS): customers with no open order."""
    from rs_query_engine_spark.operators.joins import anti_join

    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(c, o, ["c_custkey"]).select("c_custkey", "c_name")


@register(
    "join_full_outer",
    oracle="""
    WITH neg AS (
        SELECT c_custkey, c_name FROM customer WHERE c_acctbal < 0
    ), tot AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_f
        FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
    )
    SELECT COALESCE(n.c_custkey, t.o_custkey) AS custkey, n.c_name, t.total_f
    FROM neg n FULL OUTER JOIN tot t ON n.c_custkey = t.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join with both-side-only rows (negative-balance
    customers × finished-order totals). The reference declares no full
    join; Spark's SMJ handles it with the same shuffle as inner."""
    neg = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey", "c_name")
    )
    tot = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(_dsum("o_totalprice", "total_f"))
    )
    return neg.join(tot, neg["c_custkey"] == tot["o_custkey"], "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"), "c_name", "total_f"
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit Cartesian product (tiny dims only — at scale a cross
    join is only ever sane against a broadcast-sized side)."""
    r = _t(spark, sf_dir, "region").select("r_name")
    n = _t(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(F.broadcast(n))


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = filter over aggregate output (absent in the reference —
    SURVEY §2.4 notes it is expressible but never demonstrated)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dsum("o_totalprice", "total_spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (detail → per-flag → grand total) with
    grouping_id disambiguating NULL-as-subtotal from NULL data. One
    shuffle: Spark expands grouping sets map-side."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum(F.col("l_quantity").cast(D_PRICE)).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value histogram (fixed-width price buckets) — one partial+final
    hash agg on the bucket expression; the bucket is one IEEE division
    + floor, identical on both engines (DuckDB has no width_bucket, so
    the portable floor spelling IS the operator)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 10000).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("l_quantity", "sum_qty"),
        )
    )


@register(
    "agg_variance_exact",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx2
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CASE WHEN n > 1.0
                THEN (n * sx2 - sx * sx) / (n * (n - 1.0)) END AS var_samp,
           CASE WHEN n > 1.0
                THEN sqrt((n * sx2 - sx * sx) / (n * (n - 1.0))) END AS stddev_samp
    FROM s
    """,
)
def agg_variance_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample variance/stddev with EXACT sufficient statistics: Σx and
    Σx² are decimal-exact (the corpus grid makes x and x·x exact
    decimals), so the only float ops are the final closed-form — the
    same 6 IEEE ops on both engines, bit-identical. Built-in
    stddev_samp uses an engine-specific streaming update order and
    cannot hash-match; the decimal-sufficient-statistics spelling is
    also the mergeable map-side form a distributed engine wants."""
    d = F.col("l_quantity").cast(D_PRICE)
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(d).cast("double").alias("sx"),
            F.sum(d * d).cast("double").alias("sx2"),
        )
    )
    # try_divide: a 1-row group has denominator 0, which under Spark 4's
    # ANSI mode would raise DIVIDE_BY_ZERO at runtime; NULL variance is
    # the SQL-standard answer (oracle spells the same with CASE n > 1)
    var = F.try_divide(
        F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"),
        F.col("n") * (F.col("n") - F.lit(1.0)),
    )
    return s.select(
        "l_returnflag", var.alias("var_samp"), F.sqrt(var).alias("stddev_samp")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — per-flag totals, per-status totals, and
    the grand total in ONE pass (rollup/cube are special cases; this is
    the general form). Spark expands the sets map-side before a single
    shuffle — same cost profile as a plain groupBy times the set
    count, never N separate scans."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.sum(F.col("l_quantity").cast(D_PRICE)).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations."""
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n"))
        .select("l_returnflag", "l_linestatus", "gid", "n")
    )


@register(
    "subquery_scalar_avg",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_above
    FROM lineitem
    WHERE l_extendedprice > 1.5 * (SELECT AVG(l_extendedprice) FROM lineitem)
    GROUP BY l_returnflag
    """,
)
def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery, expressed distribution-first: the
    1-row aggregate is broadcast-joined against the fact scan (exactly
    what Catalyst rewrites a scalar subquery into). AVG is raw double
    here: both engines sum doubles in scan order over the same single
    partition of values — and the 1.5× threshold comparison tolerates
    last-ulp drift because no row sits exactly on it."""
    li = _t(spark, sf_dir, "lineitem")
    avg1 = li.agg(F.avg("l_extendedprice").alias("_avg"))
    return (
        li.crossJoin(F.broadcast(avg1))
        .filter(F.col("l_extendedprice") > 1.5 * F.col("_avg"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_above"))
    )


@register(
    "pivot_returnflag",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS A,
           CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS N,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS DECIMAL(12,2)) END) AS DOUBLE) AS R
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide conditional aggregation). Explicit pivot values
    keep the plan single-pass — without them Spark first runs a
    distinct scan to discover columns."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum(F.col("l_quantity").cast(D_PRICE)).cast("double"))
    )


@register(
    "join_range_bands",
    oracle="""
    SELECT band,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 25.0),
                 ('high', 25.0, 40.0), ('huge', 40.0, 100.0)) b(band, lo, hi)
      ON l_quantity >= lo AND l_quantity < hi
    GROUP BY band
    """,
)
def join_range_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join via the bucketed equi-join
    operator (operators/joins.range_join_bands) — the scale path when
    the band side is too big to broadcast; a plain non-equi condition
    would plan as BroadcastNestedLoopJoin."""
    from rs_query_engine_spark.operators.joins import range_join_bands

    li = _t(spark, sf_dir, "lineitem").select("l_quantity")
    # VALUES → LocalRelation with accurate (tiny) stats, so Catalyst
    # builds the hash table on the bands side; createDataFrame would
    # go through an RDD with unknown stats and flip the build side to
    # the 600k-row fact table
    bands = spark.sql(
        "SELECT * FROM VALUES ('low', 0.0D, 10.0D), ('mid', 10.0D, 25.0D), "
        "('high', 25.0D, 40.0D), ('huge', 40.0D, 100.0D) AS b(band, lo, hi)"
    )
    joined = range_join_bands(li, bands, "l_quantity", "lo", "hi", bucket_width=10.0)
    return joined.groupBy("band").agg(
        F.count(F.lit(1)).alias("n"), _dsum("l_quantity", "sum_qty")
    )


@register(
    "join_asof_orders",
    oracle="""
    WITH o AS (
        SELECT o_custkey, o_orderdate,
               MAX(o_orderkey) AS o_orderkey,
               ARG_MAX(o_totalprice, o_orderkey) AS o_totalprice
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderdate, o.o_orderkey, o.o_totalprice
    FROM events e
    ASOF LEFT JOIN o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each event ↔ that user's most recent order at event
    time) via the union+window operator (operators/joins.asof_join) —
    one shuffle on the key, no pair explosion; DuckDB's native ASOF
    JOIN is the oracle. Right side is pre-deduped per (key, ts) with
    max_by for a deterministic tie-break."""
    from rs_query_engine_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events").select(
        "event_id", F.col("user_id").alias("custkey"), "ts"
    )
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"), "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    out = asof_join(e, o, by=["custkey"], left_ts="ts", right_ts="o_orderdate")
    return out.select(
        "event_id",
        F.col("custkey").alias("user_id"),
        "ts",
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )


@register(
    "stream_stateful_user_counts",
    oracle="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
)
def stream_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState
    per-user running counts, streaming/stateful.py) driven to a memory
    sink. The count is monotone per user, so max() over the update-mode
    emissions is the final state — batch-checkable against a plain
    GROUP BY count, closing the loop on stream/batch parity for
    user-defined state machines."""
    from rs_query_engine_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )
    from rs_query_engine_spark.streaming.stateful import running_user_counts

    ev = read_events_stream(spark, sf_dir)
    out = running_user_counts(ev)
    res = run_stream_to_memory(out, "stream_stateful_user_counts", output_mode="update")
    return res.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@register(
    "stream_dedup_events",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (``dropDuplicatesWithinWatermark``) of
    events by (user_id, event_type), driven to a memory sink. The
    watermark horizon exceeds the bounded corpus span, so the stream's
    first-per-key output projected to the key equals batch DISTINCT —
    an exact oracle for a stateful streaming operator. At scale the
    horizon bounds the state store; see streaming/events.dedup_stream.

    Plan shape: ONE micro-batch over 2 state partitions (sized to the
    ~750 distinct keys). The trailing watermark-flush batch is skipped:
    append-mode dedup emits a key the first time it sees it, so a
    batch without data emits nothing, and the 90-day horizon outlasts
    the replay, so it would evict nothing either."""
    from rs_query_engine_spark.streaming.events import (
        dedup_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    out = dedup_stream(ev, ["user_id", "event_type"])
    res = run_stream_to_memory(
        out,
        "stream_dedup_events",
        output_mode="append",
        state_partitions=2,
        watermark_flush=False,
    )
    return res.select("user_id", "event_type").distinct()


@register(
    "agg_percentiles_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           quantile_cont(l_extendedprice, 0.5) AS p50_price,
           quantile_cont(l_extendedprice, 0.9) AS p90_price,
           MIN(l_extendedprice) AS min_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles + COUNT(DISTINCT) per group —
    beyond-reference aggregates (SURVEY §2.6 lists DISTINCT aggregates
    as absent). Spark's ``percentile`` and DuckDB's ``quantile_cont``
    share the same linear-interpolation definition, and the corpus
    prices are exact 2-decimal doubles, so values hash-match. At scale
    exact percentiles shuffle per-group value lists; swap to
    ``approx_percentile`` (t-digest sketch, mergeable map-side) when
    the value-list-per-group no longer fits an executor.

    The distinct count runs as its OWN two-level hash aggregate joined
    back on the (3-row) group key rather than mixed into the
    percentile aggregate — the mixed plan expands every row for the
    distinct rewrite and drags the percentile buffers through the
    expanded shuffle (measured 1.4× slower at sf0.1; same trick as
    profile_columns)."""
    li = _t(spark, sf_dir, "lineitem")
    # ONE percentile aggregate with an array of fractions: Spark's
    # Percentile buffer is a per-group value->count map, so two scalar
    # percentile calls build and sort that map twice; the array form
    # computes both fractions from a single buffer (r18, guide §2.2 —
    # shuffle/aggregate fewer bytes for the same answer). Values are
    # bit-identical: same interpolation applied to the same sorted map.
    pct = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9))).alias(
                "_pcts"
            ),
            F.min("l_extendedprice").alias("min_price"),
        )
        .select(
            "l_returnflag",
            F.col("_pcts")[0].alias("p50_price"),
            F.col("_pcts")[1].alias("p90_price"),
            "min_price",
        )
    )
    nd = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    return pct.join(nd, "l_returnflag").select(
        "l_returnflag", "n_parts", "p50_price", "p90_price", "min_price"
    )


@register(
    "agg_salted_skew",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           COUNT(l_quantity) AS n,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.salted_aggregate)
    over a deliberately low-cardinality key — the rewrite for hot keys
    that would otherwise pin one reducer. The oracle is the PLAIN
    group-by: salting must be invisible in the result."""
    from rs_query_engine_spark.operators.skew import salted_aggregate

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_qty_dec", F.col("l_quantity").cast(D_PRICE)
    )
    out = salted_aggregate(
        li,
        keys=["l_returnflag"],
        aggs={
            "sum_qty_dec": ("sum", "_qty_dec"),
            "n": ("count", "l_quantity"),
            "min_qty": ("min", "l_quantity"),
            "max_qty": ("max", "l_quantity"),
        },
        uniquifier=["l_orderkey", "l_linenumber"],
        num_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        "n",
        "min_qty",
        "max_qty",
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 10 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join (view→purchase attribution
    within 10 minutes, streaming/events.view_purchase_attribution_
    stream) driven to completion on the bounded corpus; the oracle is
    the equivalent batch interval join — stream/batch parity for
    two-sided state."""
    from rs_query_engine_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        view_purchase_attribution_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    out = view_purchase_attribution_stream(ev)
    # state_partitions=2 (r19, guide §2.2/§5): per-batch cost is the
    # 4-stores-per-partition commit machinery, not compute — sized to
    # the bounded join state, measured over interleaved pairs (median
    # 0.84, 6/6 wins; rows identical at all three SFs —
    # plans/r19/stream_pairs.txt)
    return run_stream_to_memory(
        out, "stream_stream_join_out", output_mode="append",
        state_partitions=2,
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (30-day trailing spend per customer) —
    value-based frames complement the ROWS frames in the other window
    queries; peers (same orderdate) aggregate identically in both
    engines, so the result is deterministic despite date ties."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-30 * 86400, 0)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(D_PRICE)).over(w).cast("double").alias("spend_30d"),
    )


@register(
    "agg_array_collect",
    oracle="""
    SELECT l_returnflag,
           array_to_string(list_sort(list_distinct(list(l_linestatus))), '|')
               AS statuses,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_array_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregation (collect_set + sort for a
    deterministic result — raw collect order is partition-dependent,
    never comparable). The final projection serializes the array with
    a '|' delimiter: the verification harness hashes scalar cells
    (array cells are unhashable in its canonicalizer), and a
    delimited string is an exact, order-stable encoding of the sorted
    set. The array itself is still built distributed — only the last
    map-side expression changes."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_set("l_linestatus"))).alias(
                "statuses"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct counts — the mergeable-
    sketch aggregate that replaces exact COUNT(DISTINCT) at 100 TB
    (exact needs a full shuffle of the distinct values; the sketch is
    a fixed-size register set merged map-side). DuckDB's HLL differs
    numerically, so the hashable claim is the BOUND, not the value
    (the agg_hll_sketch_merge pattern): ``approx_ok`` pins the
    estimate within 3·rsd of the exact count riding alongside —
    consuming the sketch in the boolean keeps it in-plan, and HLL++
    is deterministic for a fixed input so the flag cannot flicker.
    The raw estimate stays gated in tests/unit/test_robustness.py."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.count_distinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(
                    F.col("approx_parts").cast("double") - F.col("exact_parts")
                )
                / F.col("exact_parts")
                <= F.lit(0.06)
            ).alias("approx_ok"),
        )
    )


@register(
    "text_token_bpe",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
           + len(regexp_extract_all(text, '[A-Za-z]{5,8}|[A-Za-z]{9,12}|[A-Za-z]{13,16}'))
               AS bpe_tokens
    FROM documents
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BPE-ish subword-count estimate
    (functions/text.token_count_bpe_estimate): regex word-piece count
    plus a long-word correction — the tokenizer-free token budget used
    by data pipelines when the real tokenizer can't ship cluster-side."""
    from rs_query_engine_spark.functions.text import token_count_bpe_estimate

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", token_count_bpe_estimate(F.col("text")).alias("bpe_tokens"))


@register(
    "tpch_q3_shape",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(14,4))) AS DOUBLE)
               AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1997-06-30'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped composite: 3-way join + predicate pushdown on
    every input + grouped revenue + top-10. The classic plan-quality
    probe — filters must reach all three scans and the top-10 runs as
    TakeOrderedAndProject (no full sort). Customer is NOT a fixed-
    cardinality dim — it is SF-proportional in TPC-H, so the filtered
    BUILDING segment grows with the corpus and a forced broadcast
    would OOM / hit the 8 GB broadcast cap at large SF (VERDICT r08
    #2). No hint: AQE sizes the join at runtime (broadcast when the
    segment is small, shuffle-hash otherwise) — same standard as
    dedup_keep_canonical. Revenue terms are exact on a 4-decimal grid
    (price×(1-disc) stays within 2+2 decimals), so the decimal sum
    hash-matches."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-06-30")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(14,4)"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register("agg_approx_percentile")  # no oracle: the KLL-style sketch's
# outputs are engine-specific; tests/unit/test_robustness.py gates the
# approximation error against exact percentiles computed separately
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch percentiles — the scale path for
    ``agg_percentiles_distinct``: ``approx_percentile`` keeps a fixed-
    size mergeable sketch per group (map-side combinable), where exact
    ``percentile`` must shuffle every group's full value list. The
    query is sketch-ONLY so it actually demonstrates that cost profile
    (carrying exact alongside would pay the full-list shuffle anyway);
    the error-bound test recomputes exact values independently."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("l_extendedprice", 0.95, 10000).alias("approx_p95"),
    )


@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_acctbal > 1000.0
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV end-to-end through the catalog — the reference's ONLY input
    format (``src/datasource/csv_table.rs:44-72``): the customer table
    is materialized as CSV once per corpus GENERATION
    (``pydatasource.ensure_customer_csv`` — the one artifact shared
    with every Python DataSource reader, mtime+size-keyed since r12 so
    an in-place corpus regen can never serve it stale), registered via
    ``Catalog.register_csv`` with an explicit schema (inference would
    downgrade bigint→int), filtered, and compared against the parquet
    original — proving the CSV round trip preserves values exactly
    (doubles survive via shortest-repr)."""
    import os

    from rs_query_engine_spark.catalog import Catalog
    from rs_query_engine_spark.sources.pydatasource import (
        ensure_customer_csv,
    )

    path = ensure_customer_csv(spark, sf_dir)
    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    cat = Catalog(spark)
    csv_df = cat.register_csv(
        f"customer_csv_{digest}",
        path,
        schema="c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    return csv_df.filter(F.col("c_acctbal") > 1000.0)


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join: customer and orders are saved as
    tables bucketed 8 ways on the join key (once per session — skipped
    when present), so the sort-merge join's distribution requirement is
    met by the SCANS and neither side gets an Exchange
    (plan-asserted in tests/unit/test_plan_properties.py). This is the
    100-TB pattern for fact tables repeatedly joined on one key; the
    ``merge`` hint keeps the demo on SMJ (the dimension side would
    otherwise broadcast at this SF)."""
    import os

    from rs_query_engine_spark.sources.sinks import write_bucketed_table

    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    tc, to = f"cust_bkt_{digest}", f"ord_bkt_{digest}"
    if not spark.catalog.tableExists(tc):
        write_bucketed_table(
            _t(spark, sf_dir, "customer"), tc, ["c_custkey"], 8,
            sort_cols=["c_custkey"],
        )
    if not spark.catalog.tableExists(to):
        write_bucketed_table(
            _t(spark, sf_dir, "orders"), to, ["o_custkey"], 8,
            sort_cols=["o_custkey"],
        )
    c, o = spark.table(tc).hint("merge"), spark.table(to)
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(D_PRICE)).cast("double").alias(
                "total_spend"
            ),
        )
    )


@register(
    "window_ntile_lead",
    oracle="""
    SELECT o_orderkey, o_custkey,
           NTILE(4) OVER w AS spend_quartile,
           LEAD(o_orderkey) OVER w AS next_order,
           FIRST_VALUE(o_orderkey) OVER w AS first_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_ntile_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE / LEAD / FIRST_VALUE windows (ranking + offset + frame
    families beyond the running-sum/lag/topk queries). Deterministic
    via the total order (price desc, orderkey)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("spend_quartile"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.first("o_orderkey").over(w).alias("first_order"),
    )


@register(
    "tpch_q5_shape",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(14,4))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table join — the join-ORDERING probe: three
    fact-sized tables (lineitem, orders, customer at 100 TB) chained on
    their keys plus three dims. The fact chain joins fact-to-fact on
    shuffle keys Catalyst reorders; region/nation are FIXED-cardinality
    (25/5 rows at every scale factor) so they are explicitly broadcast —
    supplier and customer are left to AQE, because they GROW with scale
    and force-broadcasting them is exactly the OOM a 1000-executor run
    dies on. The local-supplier condition (c_nationkey = s_nationkey)
    rides the supplier join as a second key. Revenue on the 4-decimal
    grid as in tpch_q3_shape."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(14,4)"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "tpch_q18_shape",
    oracle="""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate
    """,
)
def tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-customer query — the AGGREGATE-
    SUBQUERY probe: qualify orders by a grouped HAVING over lineitem
    (map-side partial sums; the qualifying-key set is the heavy-hitter
    tail, tiny relative to the fact), then LEFT-SEMI join orders
    against those keys — semi, not inner, so qualifying keys never
    duplicate order rows — and re-aggregate the joined fact. The
    qualifying set is left to AQE to broadcast (it is data-dependent;
    hinting it broadcast would be wrong the day the threshold drops).
    Quantities are exact on the 2-decimal grid."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = F.col("l_quantity").cast(D_PRICE)
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("_q"))
        .filter(F.col("_q") > 250)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    big_orders = o.join(qualifying, "o_orderkey", "left_semi")
    return (
        li.join(big_orders, li["l_orderkey"] == big_orders["o_orderkey"])
        .join(c, big_orders["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "o_orderkey", "o_orderdate")
        .agg(F.sum(qty).cast("double").alias("total_qty"))
    )


@register(
    "sort_global_order",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F'
    ORDER BY o_totalprice DESC, o_orderkey
    """,
)
def sort_global_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total-order sort WITHOUT a limit — the missing sibling of
    ``sort_limit_topk`` (which plans TakeOrderedAndProject and never
    sorts the full set). A full ORDER BY at 100 TB must be a RANGE
    exchange (sampled split points, every partition sorted
    independently, partitions themselves ordered) — NOT a single-
    partition window or a driver-side sort; the plan test pins
    ``rangepartitioning``. Row content is oracle-checked; the order
    itself is asserted in a unit test (the driver's hash compare is
    order-insensitive by design)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return o.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )


@register(
    "text_redact_pii",
    oracle=r"""
    WITH withpii AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@mail.example.com or +1-555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
               ' ref http://ex.com/d/' || doc_id AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]', '[EMAIL]', 'g'),
               '\+1-555-[0-9]{4}', '[PHONE]', 'g'),
             'http://[^ ]+', '[URL]', 'g') AS clean_text,
           len(regexp_extract_all(raw, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]'))
           + len(regexp_extract_all(raw, '\+1-555-[0-9]{4}'))
           + len(regexp_extract_all(raw, 'http://[^ ]+')) AS n_pii
    FROM withpii
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub step of a training-data pipeline:
    emails, phone numbers, and URLs replaced with typed placeholders,
    plus a per-document redaction count (the audit column a pipeline
    logs). The synthetic corpus has no natural PII, so the query
    INJECTS deterministic doc_id-derived PII first and then redacts it
    — both engines run the same inject→redact chain, so the oracle
    verifies the regex semantics, not a no-op. Map-only: regexes run
    JVM-side (whole-stage codegen), no shuffle, no Python."""
    from rs_query_engine_spark.functions.text import redact_pii

    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ref http://ex.com/d/"), F.col("doc_id").cast("string"),
    )
    clean, n = redact_pii(raw)
    return d.select("doc_id", clean.alias("clean_text"), n.alias("n_pii"))


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
        FROM embeddings
    )
    SELECT vec_id,
           mx / 127.0 AS scale,
           array_to_string(list_transform(v, x -> CAST(greatest(-127, least(127,
               floor(x * (127.0 / mx) + 0.5))) AS INT)), ',') AS q
    FROM e
    WHERE mx > 0
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 vector quantization — the storage/bandwidth step
    of an embedding pipeline (4× smaller than float32, 8× than the
    float64 on disk here; ANN candidate scan reads q + one scale).
    Per-vector scale = max|x|/127; q = clamp(floor(x·127/max|x| + .5)).
    ``floor(x+0.5)`` instead of round(): floor is exactly the same
    function in Spark and DuckDB, while round()'s half-case tie-break
    differs between engines. Map-only, JVM-side array transform; zero
    vectors are dropped (their scale is undefined — a pipeline logs
    them; test asserts the dequantization error bound scale/2). The
    codes are emitted comma-joined — int→string is exact and the
    verification harness can only hash scalar cells; a consumer wanting
    the array keeps the pre-serialization projection."""
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    base = e.select(F.col("vec_id"), v.alias("v"), mx.alias("mx")).filter(
        F.col("mx") > 0
    )
    scale = F.col("mx") / F.lit(127.0)
    inv = F.lit(127.0) / F.col("mx")
    q = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x * inv + F.lit(0.5)))
        ).cast("int"),
    )
    return base.select(
        "vec_id",
        scale.alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q"),
    )


def _ensure_events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """The hive-partitioned events copy + the 5-row event-type dim —
    ONE artifact shared by ``source_partition_pruning`` and
    ``join_dynamic_partition_pruning``, keyed through the standard
    mtime+size ``artifacts.ensure_artifact`` machinery (migrated r12
    from the path-only ``_SUCCESS`` convention: an in-place corpus
    regen used to serve the copies stale). Returns the base dir
    containing ``events`` and ``etype_dim``."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact
    from rs_query_engine_spark.sources.sinks import write_parquet

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")

    def write(tmp: str) -> None:
        write_parquet(
            _t(spark, sf_dir, "events"),
            os.path.join(tmp, "events"),
            partition_by=["event_type"],
            coalesce_files=4,
        )
        spark.sql(
            "SELECT * FROM VALUES ('purchase', 10.0D), ('error', 5.0D), "
            "('view', 0.0D), ('click', 0.5D), ('signup', 0.1D) "
            "AS t(etype, boost)"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "etype_dim")
        )

    return ensure_artifact(
        src,
        "evpart",
        "by=event_type|files=4|dim=5boost",
        ("events/_SUCCESS", "etype_dim/_SUCCESS"),
        write,
    )


@register(
    "source_partition_pruning",
    oracle="""
    SELECT event_id, user_id, CAST(value AS DOUBLE) AS value, event_type
    FROM events
    WHERE event_type = 'purchase' AND value > 50.0
    """,
)
def source_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition pruning — THE storage-layout
    lever at 100 TB: a filter on the partition column never opens the
    other partitions' files (directory-level skip, no footer reads),
    where the same filter on the unpartitioned original is a row-group
    skip at best. The events table is materialized once per corpus
    generation partitioned by event_type
    (``_ensure_events_partitioned``); the query filters one partition
    value plus a residual predicate, and the plan test asserts the
    value lands in PartitionFilters (pruning), not PushedFilters (row
    filtering). Partition-column values round-trip through directory
    names, so the oracle is the plain filter on the original table."""
    import os

    path = os.path.join(_ensure_events_partitioned(spark, sf_dir), "events")
    ev = spark.read.parquet(path)
    return ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 50.0)
    ).select("event_id", "user_id", "value", "event_type")


@register(
    "join_salted_skew",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           o.o_custkey, o.o_totalprice
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_quantity > 45 AND o.o_orderstatus = 'F'
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant salted equi-join (operators/skew.salted_join):
    the build side is replicated num_salts× and probe rows scatter by
    a content-derived salt, so one hot join key spreads over
    num_salts reducers instead of melting a single executor. The
    oracle is the PLAIN join — salting must be invisible in the
    result. Use when the build side is too big to broadcast and AQE's
    runtime skew split isn't available (e.g. the skew is in a
    broadcast-ineligible build side); see agg_salted_skew for the
    aggregation variant."""
    from rs_query_engine_spark.operators.skew import salted_join

    probe = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    build = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(
            F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_totalprice"
        )
    )
    return salted_join(
        probe,
        build,
        on=["l_orderkey"],
        probe_uniquifier=["l_orderkey", "l_linenumber"],
        num_salts=8,
    )


@register(
    "stream_sliding_window",
    oracle="""
    WITH wins AS (
        SELECT e.event_type, e.ts, w.ws
        FROM events e, LATERAL (VALUES
            (time_bucket(INTERVAL '30 minutes', e.ts)),
            (time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL '30 minutes')
        ) w(ws)
    )
    SELECT ws AS window_start, event_type,
           COUNT(*) AS n_events
    FROM wins
    GROUP BY ws, event_type
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SLIDING-window aggregation (1 h window, 30 min slide —
    each event lands in two overlapping windows) with a watermark,
    driven to a memory sink in update mode. Counts are monotone across
    update emissions, so max() per (window, type) is the final state —
    giving an exact batch oracle: DuckDB assigns each event its two
    epoch-aligned window starts via LATERAL VALUES (Spark's window()
    uses the same epoch alignment). Sliding windows multiply state
    (window/slide entries per key) — the watermark bounds how long
    each stays resident; state partitions sized to key cardinality."""
    from rs_query_engine_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # state_partitions=2 (r19): bounded replay, window-agg state only
    # — see the stream_late_data_drop note; paired median 0.85
    res = run_stream_to_memory(
        agg, "stream_sliding_window", output_mode="update",
        state_partitions=2,
    )
    return res.groupBy(
        F.col("w.start").alias("window_start"), "event_type"
    ).agg(F.max("n").alias("n_events"))


@register(
    "text_sequence_packing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, doc_id % 16 AS shard,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents WHERE trim(text) <> ''
    ), cum AS (
        SELECT doc_id, shard, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM toks
    )
    SELECT doc_id, shard, n_tokens,
           shard * 1000000 + CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT)
               AS pack_id,
           CAST(cum_tokens - n_tokens
               - CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) * 512
               AS BIGINT) AS pack_offset
    FROM cum
    """,
)
def text_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the step that turns a deduped corpus into
    fixed-token-budget training sequences (pack_id = which sequence a
    doc lands in, pack_offset = its token offset there; budget 512).
    Contiguous greedy packing by doc order WITHIN A SHARD: a global
    cumulative sum would be one sequential partition (the classic
    accidental SinglePartition window), so docs are sharded first and
    each shard packs independently — embarrassingly parallel, exactly
    how production packers shard by file/date. Deterministic, so the
    DuckDB oracle reproduces pack assignments bit-for-bit. Docs longer
    than the budget stay intact here (chunk first via text_chunking);
    offsets may exceed the budget boundary by design (greedy packing
    splits at sequence build time, not assignment time). The oracle
    casts pack_offset back to BIGINT: DuckDB's window SUM(BIGINT) is
    HUGEINT, which surfaces as DECIMAL(38,0) through Arrow and
    hash-mismatches Spark's bigint even when every value is equal."""
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    budget = 512
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % 16).alias("shard"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens"),
    ).filter(F.trim(F.col("text")) != "")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    pack_local = F.floor(start / F.lit(float(budget))).cast("bigint")
    return cum.select(
        "doc_id",
        "shard",
        "n_tokens",
        (F.col("shard") * 1000000 + pack_local).alias("pack_id"),
        (start - pack_local * budget).alias("pack_offset"),
    )


def _rp_terms() -> list[str]:
    """Per-output-dim DuckDB/Spark-shared dot-product SQL for the
    64 → 16 random projection — the ±1 planes come from the same
    generator as the LSH band keys, so both engines fold identical
    literals in identical order."""
    from rs_query_engine_spark.operators.dedup import hyperplane_signs

    return [
        "[" + ",".join("1.0" if x > 0 else "-1.0" for x in plane) + "]"
        for plane in hyperplane_signs(16, 64)
    ]


@register(
    "embedding_random_projection",
    oracle=f"""
    SELECT vec_id,
           {", ".join(
               f"list_sum(list_transform(list_zip(embedding::DOUBLE[], "
               f"{lits}::DOUBLE[]), x -> x[1] * x[2])) * 0.25 AS p{i}"
               for i, lits in enumerate(_rp_terms()))}
    FROM embeddings
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 → 16 dims with
    deterministic ±1 planes scaled by 1/sqrt(16) — the cheap
    dimensionality reduction an embedding pipeline runs before
    clustering or as an ANN pre-filter (pairwise distances preserved
    within (1±ε) w.h.p.). Map-only, JVM-side; each output dim is one
    JVM-parsed expression (same py4j-avoidance as the LSH band keys)
    with the same sequential fold as the DuckDB oracle, so the doubles
    hash-match exactly. The dims are emitted as 16 scalar double
    columns p0..p15 rather than one array: the verification harness
    hashes scalar cells only, and serializing doubles to strings would
    trade an unhashable cell for engine-specific float formatting. At
    100 TB this is a pure scan→project stage — no shuffle, codegen
    throughput-bound."""
    e = _t(spark, sf_dir, "embeddings")
    dims = [
        F.expr(
            "aggregate(zip_with(cast(embedding as array<double>), "
            f"array({lits[1:-1]}), (x, y) -> x * y), 0.0D, "
            "(acc, x) -> acc + x) * 0.25D"
        ).alias(f"p{i}")
        for i, lits in enumerate(_rp_terms())
    ]
    return e.select("vec_id", *dims)


@register(
    "map_functions",
    oracle="""
    SELECT o_custkey,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS n_f,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS n_o,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS n_p,
           COUNT(DISTINCT o_orderstatus) AS n_statuses
    FROM orders
    GROUP BY o_custkey
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface (the one §2.6 family without a driver
    query until now): per-customer status→count maps built with
    ``map_from_entries(collect_list(struct(...)))`` over a pre-grouped
    frame (keys are unique by construction, so the map is
    deterministic even though collect_list order is not), read back
    with ``element_at`` / ``size``. Map columns never leave the plan —
    the output is plain integers, so the DuckDB oracle is conditional
    aggregation. Maps are the natural shape for sparse per-entity
    feature bags at scale; this pins Spark's map building + lookup
    semantics (missing key → NULL → 0)."""
    o = _t(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = per.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderstatus", "cnt"))
        ).alias("m")
    )
    get = lambda k: F.coalesce(F.element_at(F.col("m"), F.lit(k)), F.lit(0))
    return m.select(
        "o_custkey",
        get("F").alias("n_f"),
        get("O").alias("n_o"),
        get("P").alias("n_p"),
        F.size(F.col("m")).cast("bigint").alias("n_statuses"),
    )


@register(
    "stream_parquet_sink",
    oracle="""
    SELECT user_id, event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY user_id, event_type
    """,
)
def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION streaming sink end-to-end: stream → stateful
    aggregation → ``foreachBatch`` parquet (exactly-once via
    batch-id-partitioned dynamic overwrite) → read the files back.
    Update mode re-emits a key on every micro-batch that touches it,
    so the files hold one row per (key, batch); counts are monotone,
    so max over a key's rows is its final state — matched against the
    batch GROUP BY oracle. This is the lambda-architecture parity
    check: files a downstream trainer would actually read, not a
    memory-sink harness."""
    import os

    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.streaming.events import (
        read_events_stream,
        run_stream_to_parquet,
    )

    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    # fresh run per invocation: the checkpoint records consumed offsets,
    # so a reused checkpoint would make the next run a no-op with stale
    # files alongside
    root = scratch_dir(spark, "streamsink", sf_dir, fresh=True)
    out, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
    # state_partitions=2 (r19, guide §2.2/§5): 7.5k agg keys — per-batch
    # state-store commit cost dominates at 8 partitions, and update-mode
    # foreachBatch writes one file per shuffle partition per batch (2
    # right-sized files beat 8 slivers on the read-back). Sizes up with
    # key cardinality at 100 TB; identity-checked at 3 SFs.
    run_stream_to_parquet(agg, out, ckpt, output_mode="update", state_partitions=2)
    files = spark.read.parquet(out)
    return files.groupBy("user_id", "event_type").agg(
        F.max("n").alias("n_events")
    )


@register(
    "text_contamination_check",
    oracle=r"""
    WITH grams AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       generate_series(1, len(regexp_split_to_array(lower(text), '\s+')) - 4),
                       i -> array_to_string(regexp_split_to_array(lower(text), '\s+')[i:i+4], ' ')
                   )
               ) AS sh
        FROM documents
    ), bench AS (
        SELECT doc_id AS bench_id, unnest(sh) AS gram, len(sh) AS n_bench
        FROM grams WHERE doc_id % 97 = 0 AND len(sh) > 0
    ), corpus AS (
        SELECT doc_id, unnest(sh) AS gram FROM grams WHERE len(sh) > 0
    )
    SELECT c.doc_id, b.bench_id,
           COUNT(*) AS n_overlap,
           CAST(COUNT(*) AS DOUBLE) / b.n_bench AS contamination
    FROM corpus c JOIN bench b ON c.gram = b.gram AND c.doc_id <> b.bench_id
    GROUP BY c.doc_id, b.bench_id, b.n_bench
    HAVING CAST(COUNT(*) AS DOUBLE) / b.n_bench >= 0.2
    """,
)
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the pre-training hygiene step: find
    corpus documents sharing a high fraction of word 5-grams with an
    evaluation set (stand-in: every 97th doc), so they can be dropped
    before training. Asymmetric by design: the BENCHMARK side is
    small, so its exploded distinct grams broadcast, and the corpus
    explode joins against it map-side — the corpus is never shuffled,
    and non-overlapping grams die at the join instead of riding a
    groupBy. Overlap fraction is measured against the benchmark doc's
    gram count (the eval set is what leaks). Same tokenize/shingle
    fold as the dedup family, so DuckDB reproduces it exactly. The
    gram projection feeds BOTH join sides, so it is staged with
    localCheckpoint (the minhash staging pattern): re-running the
    shingle fold per consumer measured 2x slower than materializing
    the small (doc_id, grams) frame once."""
    from rs_query_engine_spark.functions.text import shingles
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    # no size-filter before the checkpoint (r19, guide §4.4 analogue):
    # both consumers explode ``sh`` (empty arrays emit nothing), and
    # Catalyst pushes a filter(size(sh) > 0) BELOW the projection,
    # re-evaluating the whole shingle chain inside the Filter during
    # the checkpoint's one materialization pass — 3× the dominant
    # compute for rows the Generates drop for free
    grams = (
        spread(d)
        .select(
            "doc_id", F.array_distinct(shingles(F.col("text"), 5)).alias("sh")
        )
        .transform(truncate_lineage)
    )
    bench = (
        grams.filter(F.col("doc_id") % 97 == 0)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.explode("sh").alias("gram"),
            F.size("sh").alias("n_bench"),
        )
    )
    corpus = grams.select("doc_id", F.explode("sh").alias("gram"))
    hits = corpus.join(
        F.broadcast(bench),
        (corpus["gram"] == bench["gram"])
        & (corpus["doc_id"] != bench["bench_id"]),
    )
    return (
        hits.groupBy("doc_id", "bench_id", "n_bench")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap").cast("double") / F.col("n_bench") >= 0.2)
        .select(
            "doc_id",
            "bench_id",
            "n_overlap",
            (F.col("n_overlap").cast("double") / F.col("n_bench")).alias(
                "contamination"
            ),
        )
    )


@register(
    "text_repetition_filter",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        FROM documents
    ), grams AS (
        SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
        FROM t, LATERAL unnest(generate_series(1, len(toks) - 1)) AS g(i)
    ), per AS (
        SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY doc_id, gram
    ), stats AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               MAX(cnt) AS top_cnt,
               CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_bigram_frac,
               CAST(COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS distinct_frac
        FROM per GROUP BY doc_id
    )
    SELECT * FROM stats WHERE top_bigram_frac >= 0.08
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition gate (Rae et al. 2021 §A1.1): docs whose
    single most frequent word bigram covers >= 8% of all bigram slots
    are boilerplate/loop artifacts and get dropped before training;
    this returns the failing set with its metrics. Two hash
    aggregations — (doc, gram) counts, then per-doc max/sum/distinct —
    both with map-side partials; the shuffle carries (doc_id, gram)
    counts, never the text. The distinct-bigram ratio rides along free
    from the same aggregate. Thresholds calibrated on this corpus
    (p90 = 0.069, max = 0.167 → 0.08 flags the repetitive tail)."""
    from rs_query_engine_spark.functions.text import shingles
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    grams = spread(d).select(
        "doc_id", F.explode(shingles(F.col("text"), 2)).alias("gram")
    )
    per = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_bigrams"),
        F.max("cnt").alias("top_cnt"),
        (F.max("cnt").cast("double") / F.sum("cnt").cast("double")).alias(
            "top_bigram_frac"
        ),
        (F.count(F.lit(1)).cast("double") / F.sum("cnt").cast("double")).alias(
            "distinct_frac"
        ),
    )
    return stats.filter(F.col("top_bigram_frac") >= 0.08)


@register(
    "text_domain_mixture",
    oracle="""
    WITH counts AS (
        SELECT source, COUNT(*) AS cnt,
               CASE WHEN source IN ('src0','src1','src2','src3')
                    THEN 3.0 ELSE 1.0 END AS w
        FROM documents GROUP BY source
    ), rates AS (
        SELECT source,
               LEAST(w * (MIN(cnt / w) OVER ()) / cnt, 1.0) AS rate
        FROM counts
    )
    SELECT d.doc_id, d.source, r.rate
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
          < r.rate * 1000000.0
    """,
)
def text_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture resampling: hit a target domain mix (here
    sources src0-3 weighted 3x) by downsampling every source to the
    rate its weight allows — rate_s = w_s * min_t(cnt_t / w_t) / cnt_s,
    so the most-constrained source keeps 100% and nothing is
    upsampled. Per-source rates come from a vocabulary-sized aggregate
    (broadcast back); membership is the engine-portable md5 Bernoulli
    draw from the sampling family, so the kept set is reproducible
    across clusters and engines. The corpus itself is never shuffled:
    count-agg partials + a broadcast join + a map-side filter."""
    d = _t(spark, sf_dir, "documents")
    w = F.when(
        F.col("source").isin("src0", "src1", "src2", "src3"), F.lit(3.0)
    ).otherwise(F.lit(1.0))
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).select(
        "source", "cnt", w.alias("w"), (F.col("cnt") / w).alias("ratio")
    )
    mn = counts.agg(F.min("ratio").alias("mn"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        "source",
        F.least(
            F.col("w") * F.col("mn") / F.col("cnt"), F.lit(1.0)
        ).alias("rate"),
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    ) % 1000000
    return (
        d.join(F.broadcast(rates), "source")
        .filter(u < F.col("rate") * 1000000.0)
        .select("doc_id", "source", "rate")
    )


@register(
    "agg_zscore_outliers",
    # sx2's unscaled decimal exceeds 2^53, so decimal→double must round;
    # DuckDB's direct int128→double cast is 1 ULP off from the correctly
    # rounded value (Spark's BigDecimal path is correct) — routing the
    # cast through VARCHAR uses strtod, which is correctly rounded, and
    # makes both engines bit-identical. Harmless when the sum is exact.
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sx2
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_extendedprice,
           (CAST(l.l_extendedprice AS DOUBLE) - s.sx / s.n)
             / sqrt((s.n * s.sx2 - s.sx * s.sx) / (s.n * (s.n - 1.0))) AS z
    FROM lineitem l JOIN s USING (l_returnflag)
    WHERE abs((CAST(l.l_extendedprice AS DOUBLE) - s.sx / s.n)
              / sqrt((s.n * s.sx2 - s.sx * s.sx) / (s.n * (s.n - 1.0)))) > 1.5
    """,
)
def agg_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization + outlier flagging: group sufficient
    statistics (decimal-exact sums, as in agg_variance_exact) are
    broadcast back onto the fact table and each row's z-score is a
    map-side expression — the anomaly-detection shape where the model
    is tiny and the scoring pass must not shuffle the data. Threshold
    1.5 because the price distribution is near-uniform (max |z| is
    sqrt(3)); the same 7 IEEE ops on both engines, bit-identical. The
    Σx² decimal exceeds 2^53 so its double conversion rounds — the
    oracle casts via VARCHAR (strtod) because DuckDB's direct
    int128→double is 1 ULP off the correctly-rounded value Spark
    produces."""
    d = F.col("l_extendedprice").cast(D_PRICE)
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d).cast("double").alias("sx"),
        F.sum(d * d).cast("double").alias("sx2"),
    )
    z = (F.col("l_extendedprice").cast("double") - F.col("sx") / F.col("n")) / F.sqrt(
        (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"))
        / (F.col("n") * (F.col("n") - F.lit(1.0)))
    )
    return (
        li.join(F.broadcast(s), "l_returnflag")
        .filter(F.abs(z) > 1.5)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            z.alias("z"),
        )
    )


@register(
    "source_json_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars
    FROM documents WHERE n_chars > 200
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines end-to-end through the catalog (the third source
    format after parquet and the reference's CSV): the documents table
    is materialized as JSONL once per corpus generation (mtime+size-
    keyed atomic install since r12 — no stale serve after an in-place
    regen), registered via ``Catalog.register_json`` with an explicit
    schema (inference would cost a second scan at 100 TB), filtered,
    and compared against the parquet original — JSON string escaping
    and int64 fidelity survive the trip."""
    import os

    from rs_query_engine_spark.catalog import Catalog
    from rs_query_engine_spark.sources.artifacts import ensure_artifact
    from rs_query_engine_spark.sources.sinks import write_json

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")

    def write(tmp: str) -> None:
        write_json(
            _t(spark, sf_dir, "documents"),
            os.path.join(tmp, "documents"),
            coalesce_files=4,
        )

    root = ensure_artifact(src, "jsondocs", "files=4", ("documents/_SUCCESS",), write)
    path = os.path.join(root, "documents")
    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    cat = Catalog(spark)
    jdf = cat.register_json(
        f"documents_json_{digest}",
        path,
        schema="doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    return jdf.filter(F.col("n_chars") > 200).select(
        "doc_id", "text", "lang", "source", "n_chars"
    )


@register(
    "unpivot_metrics",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'n', n FROM wide
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — the inverse of pivot_returnflag: a wide per-
    group metrics row becomes (group, metric, value) long form, the
    shape metric stores and plotting layers want. Spark's ``unpivot``
    is an Expand node over the already-aggregated (tiny) wide table —
    the explosion happens after aggregation, so it costs nothing at
    scale; the oracle spells it as UNION ALL to pin the exact
    semantics."""
    wide = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_quantity").cast(D_PRICE)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(D_PRICE))
            .cast("double")
            .alias("sum_price"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n"], "metric", "value"
    )


@register(
    "text_span_dedup",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        FROM documents
    ), spans AS (
        SELECT doc_id, s, array_to_string(toks[s:s+19], ' ') AS chunk
        FROM t, LATERAL unnest(generate_series(1, greatest(len(toks), 1), 20)) AS g(s)
    ), keep AS (
        SELECT doc_id, s, chunk FROM (
            SELECT doc_id, s, chunk,
                   ROW_NUMBER() OVER (
                       PARTITION BY md5(chunk) ORDER BY doc_id, s
                   ) AS rn
            FROM spans
        ) WHERE rn = 1
    )
    SELECT doc_id,
           string_agg(chunk, ' ' ORDER BY s) AS clean_text,
           COUNT(*) AS n_spans
    FROM keep GROUP BY doc_id
    """,
)
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-WIDE span dedup (Raffel et al. 2020 §2.2 dedups
    three-sentence spans): every non-overlapping 20-token span is
    fingerprinted; only its first occurrence (lexicographic min
    (doc_id, start)) survives anywhere in the corpus, and documents
    are reassembled from their surviving spans. The winner per
    fingerprint is a struct-min HASH AGGREGATE — fingerprint-sized with
    map-side partials, not a window sort over all span text — and
    spans rejoin the winner set on (fp, doc_id, s), which AQE turns
    into a broadcast the moment the winner set is small relative to
    the corpus partition. Reassembly sorts each doc's surviving spans
    by offset inside a collect_list aggregate (unique offsets make the
    struct sort total). Drops 59 duplicate spans of 1594 at sf0.01."""
    from rs_query_engine_spark.functions.text import chunk_spans
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    spans = (
        spread(d)
        .select(
            "doc_id",
            F.explode(chunk_spans(F.col("text"), chunk_size=20, stride=20)).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_start").alias("s"),
            F.col("c.chunk_text").alias("chunk"),
        )
        .withColumn("fp", F.md5("chunk"))
    )
    winners = (
        spans.groupBy("fp")
        .agg(F.min(F.struct("doc_id", "s")).alias("w"))
        .select("fp", F.col("w.doc_id").alias("doc_id"), F.col("w.s").alias("s"))
    )
    kept = spans.join(winners, ["fp", "doc_id", "s"])
    return kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_spans"),
    )


@register(
    "dedup_incremental",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   regexp_split_to_array(lower(text), '\s+')[1:20], ' '
               )) AS head_fp
        FROM documents
    )
    SELECT b.doc_id, b.source, b.head_fp
    FROM t b
    WHERE b.doc_id % 5 = 0
      AND NOT EXISTS (
          SELECT 1 FROM t e WHERE e.doc_id % 5 <> 0 AND e.head_fp = b.head_fp
      )
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the daily-crawl pattern: a new batch
    (stand-in: every 5th doc) is admitted only if its head fingerprint
    (first 20 normalized tokens — the cheap URL/boilerplate-stable key)
    is absent from the already-ingested corpus, via LEFT ANTI join.
    The existing side projects ONLY its fingerprint column before the
    join (column pruning reaches the scan), so at 100 TB the anti-join
    shuffles two narrow fingerprint streams — and Spark's runtime
    bloom-filter/AQE machinery can pre-filter the batch side. Drops 12
    of 100 batch docs at sf0.01."""
    from rs_query_engine_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    head_fp = F.md5(F.array_join(F.slice(tokens(F.col("text")), 1, 20), " "))
    withfp = d.select("doc_id", "source", head_fp.alias("head_fp"))
    batch = withfp.filter(F.col("doc_id") % 5 == 0)
    existing = withfp.filter(F.col("doc_id") % 5 != 0).select("head_fp")
    return batch.join(existing, "head_fp", "left_anti").select(
        "doc_id", "source", "head_fp"
    )


@register(
    "tpch_q7_shape",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(14,4))) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS INTEGER)
    """,
)
def tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped volume shipping — the DISJUNCTIVE-join-filter
    probe: revenue between two specific nation pairs by ship year.
    The OR-of-conjunctions over the two nation hops cannot be pushed
    into either dimension scan alone, but both nation joins are
    broadcast (25 rows at every SF), so the filter runs map-side right
    after the hops and the fact chain sheds non-qualifying rows before
    the group-by shuffle. Revenue on the 4-decimal grid as in
    tpch_q3/q5; year() cast pinned to INTEGER on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(14,4)"
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        s.join(li, s["s_suppkey"] == li["l_suppkey"])
        .join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@register(
    "sql_entry_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(14,4)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def sql_entry_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 through the SQL ENTRY POINT: tables registered as temp
    views (``sources.corpus.register_corpus``) and the query issued as
    a SQL string via ``spark.sql`` — proving the engine's second entry
    surface compiles to the same pushed-down scan + single partial/
    final aggregate as the DataFrame builder (the reference only has
    the builder, ``src/catalog.rs``; SQL is free on Spark). All three
    predicates reach the parquet reader."""
    from rs_query_engine_spark.sources.corpus import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(14,4)))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@register(
    "multimodal_pair_align",
    oracle=f"""
    SELECT d.doc_id,
           len(regexp_split_to_array(lower(d.text), '\\s+')) AS n_tokens,
           e.label,
           sqrt(list_sum(list_transform(e.embedding::DOUBLE[], x -> x*x)))
               AS emb_norm
    FROM documents d
    JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.n_chars >= 100
    """,
)
def multimodal_pair_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal pair construction — the contrastive-training-data
    join: align the text corpus with its embedding table on id, keep
    quality-gated docs, and emit per-pair features (token count,
    label, embedding norm — the same sequential fold as the cosine
    family). At 100 TB both sides are fact-sized, so this is the
    co-partitioned join case: bucket both tables on the id (see
    join_bucketed_colocated) and the join needs no exchange; here the
    quality filter is pushed to the documents scan before the join."""
    from rs_query_engine_spark.functions.text import token_count
    from rs_query_engine_spark.operators.similarity import norm_sq

    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 100)
    e = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id",
            token_count("text").alias("n_tokens"),
            "label",
            F.sqrt(norm_sq(v)).alias("emb_norm"),
        )
    )


@register(
    "stream_append_finalized",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ), agg AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events
        FROM e GROUP BY 1, 2
    ), m AS (SELECT max(ts) AS mx FROM e)
    SELECT a.window_start, a.event_type, a.n_events
    FROM agg a, m
    WHERE a.window_start + INTERVAL 1 HOUR <= m.mx - INTERVAL 90 MINUTE
    """,
)
def stream_append_finalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode watermark finalization — the semantics that make
    streaming aggregates exactly-once consumable downstream: a window
    is emitted ONLY once the watermark (max event time minus the
    90-minute lateness bound) passes its end, so every emitted row is
    final and late events older than the watermark can no longer
    mutate it. The bounded corpus arrives as one micro-batch; the
    closing no-data batch advances the watermark and flushes every
    finalized window, leaving the last ~2.5 hours of windows
    unemitted in state — which the batch oracle reproduces with a
    max(ts)-anchored cutoff. Contrast with update-mode twins
    (stream_sliding_window) where emissions are revisable and the
    oracle must take max-per-window. Watermark state: one row per
    (window, type) within the lateness horizon — O(hours x types),
    independent of corpus size."""
    from rs_query_engine_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "90 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    # state_partitions=2 (r19) — see the stream_late_data_drop note;
    # paired median 0.76
    return run_stream_to_memory(
        agg, "stream_append_finalized", output_mode="append",
        state_partitions=2,
    )


@register(
    "agg_freq_items",
    oracle="""
    SELECT event_type AS item, COUNT(*) AS exact_cnt
    FROM events
    GROUP BY event_type
    HAVING COUNT(*) > 0.1 * (SELECT CAST(COUNT(*) AS DOUBLE) FROM events)
    """,
)
def agg_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate heavy hitters via ``DataFrame.freqItems`` (Karp/
    Shenker/Papadimitriou one-pass frequent-items summary), HARDENED to
    a hash-verifiable exact answer: every item with frequency strictly
    above the support threshold is guaranteed in the candidate set (the
    sketch's no-false-negative side), so joining candidates back to
    their exact counts and filtering ``exact_cnt > support·n`` yields
    EXACTLY the true heavy-hitter set — SQL-expressible, while the
    driver run still exercises the sketch as the candidate pruner.
    This is the 100-TB shape: the sketch runs in fixed memory with
    map-side merge and no value shuffle; the exact pass then touches
    only rows matching the few broadcast candidates instead of
    shuffling the full key space (the exact twin, text_token_freq,
    pays the full-vocabulary shuffle)."""
    d = _t(spark, sf_dir, "events").select("event_type")
    hot = d.freqItems(["event_type"], support=0.1).select(
        F.explode("event_type_freqItems").alias("item")
    )
    tot = d.agg(F.count(F.lit(1)).alias("_n"))
    return (
        d.join(F.broadcast(hot), d["event_type"] == hot["item"], "left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("exact_cnt") > F.lit(0.1) * F.col("_n").cast("double"))
        .select(F.col("event_type").alias("item"), "exact_cnt")
    )


@register(
    "window_rank_family",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           PERCENT_RANK() OVER w AS prnk,
           CUME_DIST() OVER w AS cdist,
           FIRST_VALUE(c_custkey) OVER w AS poorest_key,
           LAST_VALUE(c_custkey) OVER (PARTITION BY c_mktsegment
               ORDER BY c_acctbal, c_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS richest_key
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ranking-function family over one window spec: rank /
    dense_rank / percent_rank / cume_dist / first_value, plus
    last_value with an explicit unbounded-following frame (the default
    frame ends at CURRENT ROW, where last_value degenerates to the row
    itself — a classic SQL footgun pinned here on both engines). The
    ordering is de-tied with the key so every rank is deterministic;
    one sort per partition computes all six functions. At scale the
    partition key (segment) bounds the sort; a global rank would be
    the range-exchange sort_global_order plans."""
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.first("c_custkey").over(w).alias("poorest_key"),
        F.last("c_custkey").over(wfull).alias("richest_key"),
    )


@register(
    "text_quality_pipeline",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang, length(text) AS n_chars_m,
               regexp_split_to_array(lower(text), '\s+') AS t
        FROM documents
    ), feats AS (
        SELECT doc_id, lang, n_chars_m,
               len(t) AS n_tokens,
               CAST(len(list_filter(t, x -> x IN
                   ('the','a','of','and','to','in','is','it','for','on')))
                   AS DOUBLE) / len(t) AS stop_ratio,
               CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS distinct_ratio
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, n_tokens, stop_ratio, distinct_ratio,
           CASE WHEN n_tokens < 30 THEN 'short;' ELSE '' END
           || CASE WHEN lang <> 'en' THEN 'lang;' ELSE '' END
           || CASE WHEN stop_ratio < 0.05 THEN 'lowstop;' ELSE '' END
           || CASE WHEN distinct_ratio < 0.12 THEN 'repetitive;' ELSE '' END
               AS drop_reasons
    FROM feats
    """,
)
def text_quality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite C4/Gopher-style quality gate as ONE map-side
    pass: length, language, stopword-density, and token-diversity
    checks each contribute a reason code, concatenated into
    ``drop_reasons`` (empty = keep) — pipelines keep the reasons, not
    a boolean, so gate hit-rates can be audited per source before the
    drop is applied. Every feature comes from one tokenize pass; no
    shuffle anywhere — at 100 TB this runs at scan speed alongside
    the scan-bound stats family."""
    from rs_query_engine_spark.functions.text import STOPWORDS, tokens

    d = _t(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    feats = d.select(
        "doc_id",
        "lang",
        t.alias("t"),
    ).filter(F.size("t") > 0)
    n_tokens = F.size("t")
    stop = F.array(*[F.lit(wd) for wd in STOPWORDS])
    stop_ratio = (
        F.size(F.filter("t", lambda x: F.array_contains(stop, x))).cast("double")
        / n_tokens
    )
    distinct_ratio = F.size(F.array_distinct("t")).cast("double") / n_tokens
    reasons = F.concat(
        F.when(n_tokens < 30, F.lit("short;")).otherwise(F.lit("")),
        F.when(F.col("lang") != "en", F.lit("lang;")).otherwise(F.lit("")),
        F.when(stop_ratio < 0.05, F.lit("lowstop;")).otherwise(F.lit("")),
        F.when(distinct_ratio < 0.12, F.lit("repetitive;")).otherwise(F.lit("")),
    )
    return feats.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        reasons.alias("drop_reasons"),
    )


@register(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
        SELECT nullif(l_returnflag, 'N') AS k,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem GROUP BY 1
    ), lab AS (
        SELECT * FROM (VALUES ('A', 'acked'), ('R', 'returned'),
                              (NULL, 'in_flight')) t(k, label)
    )
    SELECT a.k, lab.label, a.sum_qty, a.n
    FROM a JOIN lab ON a.k IS NOT DISTINCT FROM lab.k
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (``<=>`` / IS NOT DISTINCT FROM): the
    dimension-decode join where NULL is a real key ('not yet
    returned'), which a plain equi-join silently drops — the classic
    silent-data-loss bug in CDC/SCD pipelines. The NULL-keyed group
    survives the join on both engines. The label table is an inline
    VALUES LocalRelation (known tiny stats → broadcast; a
    createDataFrame would have unknown stats and can flip the
    broadcast side)."""
    a = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.nullif(F.col("l_returnflag"), F.lit("N")).alias("k"))
        .agg(
            F.sum(F.col("l_quantity").cast(D_PRICE)).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    lab = spark.sql(
        "SELECT * FROM VALUES ('A', 'acked'), ('R', 'returned'), "
        "(CAST(NULL AS STRING), 'in_flight') AS t(k, label)"
    )
    return (
        a.join(F.broadcast(lab), a["k"].eqNullSafe(lab["k"]))
        .select(a["k"].alias("k"), "label", "sum_qty", "n")
    )


@register(
    "date_functions",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS INTEGER)
               AS ship_delay_days,
           o.o_orderdate + INTERVAL 30 DAY AS due_ts,
           CAST(date_trunc('quarter', o.o_orderdate) AS TIMESTAMP)
               AS quarter_start,
           CAST(isodow(o.o_orderdate) - 1 AS INTEGER) AS iso_wd,
           last_day(CAST(o.o_orderdate AS DATE)) AS eom
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_linenumber = 1
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic family over the order→ship timeline:
    day difference, interval add, quarter truncation, ISO weekday
    (Spark ``weekday`` = Monday 0, pinned against DuckDB ``isodow-1``
    — the raw ``dayofweek`` builtins DISAGREE across engines on the
    week start, a real migration bug), and end-of-month. All scalar,
    map-side, inside the join projection."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    o = _t(spark, sf_dir, "orders")
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("int")
        .alias("ship_delay_days"),
        F.expr("o_orderdate + INTERVAL 30 DAYS").alias("due_ts"),
        F.date_trunc("quarter", F.col("o_orderdate")).alias("quarter_start"),
        F.weekday(F.col("o_orderdate")).cast("int").alias("iso_wd"),
        F.last_day(F.col("o_orderdate")).alias("eom"),
    )


@register(
    "tpch_q10_shape",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(14,4))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item ranking — the TOP-K-OVER-JOIN
    probe: a three-fact join filtered on the fact side (returnflag
    pushed to the lineitem scan, the date range to orders), grouped
    per customer, then top-20 — which must plan TakeOrderedAndProject
    (per-partition heaps + single merge of 20-row heads), never a
    global sort of the aggregate. De-tied by custkey so the edge of
    the top-k is deterministic on both engines."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(14,4)"
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .join(li, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q14_shape",
    oracle="""
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(14,4))
                 ELSE CAST(0 AS DECIMAL(14,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(14,4))) AS DOUBLE) AS promo_pct,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-02-01'
    """,
)
def tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped promo revenue share — the CONDITIONAL-
    AGGREGATE-RATIO probe: one pass computes both the gated and the
    total sum (no second scan, no self-join), the share is a single
    double division over decimal-exact sums. The part side carries
    only (partkey, type) into the join — pruned before the shuffle;
    at 100 TB part grows with scale so it is left to AQE rather than
    force-broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(14,4)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(14,4)")
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "tpch_q19_shape",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(14,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive mixed-table predicate — the
    FILTER-FACTORING probe: each OR arm mixes part attributes with
    lineitem attributes, so no arm can be fully pushed to either scan;
    Catalyst factors the single-table residuals (brand IN, quantity
    range envelope) below the join and evaluates the cross-table
    disjunction as the join's post-condition — the plan shape that
    keeps the join input minimal at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    arm1 = (b == "Brand#12") & sz.between(1, 15) & (q >= 1) & (q <= 11)
    arm2 = (b == "Brand#23") & sz.between(1, 25) & (q >= 10) & (q <= 20)
    arm3 = (b == "Brand#34") & sz.between(1, 35) & (q >= 20) & (q <= 30)
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(arm1 | arm2 | arm3)
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(14,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "agg_mode_argmax",
    oracle="""
    WITH counts AS (
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2
    ), m AS (
        SELECT *, MAX(cnt) OVER (PARTITION BY l_returnflag) AS mx FROM counts
    )
    SELECT l_returnflag,
           MIN(l_linestatus) FILTER (WHERE cnt = mx) AS mode_status,
           mx AS mode_count
    FROM m GROUP BY l_returnflag, mx
    """,
)
def agg_mode_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact MODE per group with an explicit tie-break — built-in
    ``mode()`` is non-deterministic on ties in BOTH engines (hash
    order), so it can never hash-match; the portable spelling is
    count-then-argmax with (count DESC, value ASC) ordering. Two hash
    aggregates, both with map-side partials; the second aggregates the
    (group, value) count table, which is cardinality-bounded — the
    same rollup shape a 100-TB mode needs (never a sort)."""
    counts = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.groupBy("l_returnflag").agg(
        F.min_by(
            "l_linestatus", F.struct((-F.col("cnt")).alias("nc"), "l_linestatus")
        ).alias("mode_status"),
        F.max("cnt").alias("mode_count"),
    )


@register(
    "agg_corr_exact",
    # syy/sxy unscaled decimals exceed 2^53; cast via VARCHAR so DuckDB's
    # decimal→double is correctly rounded (see agg_zscore_outliers).
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_quantity AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                        * CAST(l_extendedprice AS DECIMAL(12,2)))
                        AS VARCHAR) AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           (n * sxy - sx * sy) / (n * (n - 1.0)) AS covar_samp,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
    FROM s
    """,
)
def agg_corr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance and Pearson correlation from EXACT sufficient
    statistics (the agg_variance_exact pattern extended to two
    columns): all five sums are decimal-exact on the corpus grid, so
    the only float ops are the closed forms — the same IEEE sequence
    on both engines. Built-in corr/covar_samp stream engine-specific
    update orders and cannot hash-match. One aggregation pass carries
    all five partials map-side — the mergeable form a distributed
    engine wants anyway. Second-moment decimals exceed 2^53, so the
    oracle casts them to double via VARCHAR (see agg_zscore_outliers)."""
    x = F.col("l_quantity").cast(D_PRICE)
    y = F.col("l_extendedprice").cast(D_PRICE)
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(y * y).cast("double").alias("syy"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "l_returnflag",
        (num / (F.col("n") * (F.col("n") - F.lit(1.0)))).alias("covar_samp"),
        (
            num
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("corr"),
    )


@register(
    "udf_pandas_scalar",
    oracle="""
    SELECT doc_id,
           ('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0
               AS py_score
    FROM documents
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALAR Pandas-UDF surface (the one Python API tier not yet
    covered: UDAF=agg_pandas_udaf_range, cogrouped=as-of join,
    mapInPandas=multimodal, withState=streaming): an Arrow-vectorized
    per-row score computed in Python (hashlib md5 → uniform [0,1)),
    exactly reproducible in SQL so it hash-verifies — standing in for
    the real cluster-side scorer (tokenizer, small model) whose
    pattern is identical. Arrow moves columnar batches; the Python
    loop is per-batch, not per-row via py4j. At 100 TB this is the
    slow path by design — everything around it stays JVM-side."""
    from pyspark.sql.functions import pandas_udf

    def _score_batch(texts):
        import hashlib

        return texts.map(
            lambda t: int(hashlib.md5(t.encode()).hexdigest()[:8], 16) / 2**32
        )

    # no type hints: `from __future__ import annotations` stringifies
    # them, which pandas_udf's hint inference rejects — the explicit
    # returnType form is the hint-free spelling (SCALAR by default)
    py_score = pandas_udf(_score_batch, "double")

    d = _t(spark, sf_dir, "documents")
    from rs_query_engine_spark.sources.corpus import spread

    return spread(d, min_partitions=8).select(
        "doc_id", py_score(F.col("text")).alias("py_score")
    )


@register(
    "udf_grouped_apply",
    oracle="""
    WITH b AS (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               MIN(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mn,
               MAX(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mx
        FROM lineitem
    )
    SELECT l_returnflag, l_orderkey, l_linenumber,
           (l_extendedprice - mn) / (mx - mn) AS scaled
    FROM b
    """,
)
def udf_grouped_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInPandas`` — the per-group Python transform tier
    (the last Python API surface: each group arrives as ONE pandas
    DataFrame): min-max normalization within each return-flag group,
    the feature-scaling step that genuinely needs whole-group state in
    hand. The float ops (two scalar reductions, one affine map) are
    order-independent min/max + per-row arithmetic, so DuckDB's window
    spelling is bit-identical. Scale caveat baked into the design: a
    group must fit one worker's memory — keys here are 3-valued, so at
    100 TB this exact shape wants the JVM window instead; the operator
    exists for group-sized models (per-tenant fit/transform), and the
    oracle pins that both spellings agree."""
    import pandas as pd

    def scale(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = pdf["l_extendedprice"].min(), pdf["l_extendedprice"].max()
        out = pdf[["l_returnflag", "l_orderkey", "l_linenumber"]].copy()
        out["scaled"] = (pdf["l_extendedprice"] - mn) / (mx - mn)
        return out

    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .groupBy("l_returnflag")
        .applyInPandas(
            scale,
            schema="l_returnflag string, l_orderkey bigint, "
            "l_linenumber bigint, scaled double",
        )
    )


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
               AS wavg_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_w
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted average (quantity-weighted unit price) from two
    decimal-exact sums and one double division — the aggregation every
    mixing/recipe pipeline needs (built-in avg can't weight; the
    two-sum spelling is also the mergeable map-side form). Exact on
    the corpus grid, so it hash-matches."""
    w = F.col("l_quantity").cast(D_PRICE)
    x = F.col("l_extendedprice").cast(D_PRICE)
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            (F.sum(w * x).cast("double") / F.sum(w).cast("double")).alias(
                "wavg_price"
            ),
            F.sum(w).cast("double").alias("total_w"),
        )
    )


@register(
    "array_explode_semantics",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN NULL
                    WHEN doc_id % 10 = 1 THEN []
                    ELSE regexp_split_to_array(lower(text), '\s+')[1:3]
               END AS arr
        FROM documents
    )
    SELECT 'inner' AS variant, COUNT(*) AS n_rows,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM t, LATERAL unnest(arr) AS u(tok)
    UNION ALL
    SELECT 'outer', COUNT(*),
           COUNT(DISTINCT doc_id)
    FROM (
        SELECT doc_id, unnest(
            CASE WHEN arr IS NULL OR len(arr) = 0
                 THEN [NULL]::VARCHAR[] ELSE arr END) AS tok
        FROM t
    )
    """,
)
def array_explode_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode vs explode_outer — the row-loss footgun pinned: plain
    explode silently DROPS rows whose array is NULL or empty (10% and
    10% of docs here by construction), explode_outer keeps them as one
    NULL row each. Pipelines that explode features then re-aggregate
    lose those documents without a trace unless they use the outer
    form; the count delta is the audit. Map-side Generate either way
    — no shuffle until the count."""
    d = _t(spark, sf_dir, "documents")
    from rs_query_engine_spark.functions.text import tokens

    arr = (
        F.when(F.col("doc_id") % 10 == 0, F.lit(None).cast("array<string>"))
        .when(F.col("doc_id") % 10 == 1, F.array().cast("array<string>"))
        .otherwise(F.slice(tokens(F.col("text")), 1, 3))
    )
    t = d.select("doc_id", arr.alias("arr"))
    inner = (
        t.select("doc_id", F.explode("arr").alias("tok"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .select(F.lit("inner").alias("variant"), "n_rows", "n_docs")
    )
    outer = (
        t.select("doc_id", F.explode_outer("arr").alias("tok"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .select(F.lit("outer").alias("variant"), "n_rows", "n_docs")
    )
    return inner.unionAll(outer)


@register("text_unigram_logprob")  # no oracle: ln() and the per-doc
# mean are float-order/libm dependent; the driver records rows-only
# and tests/unit/test_properties.py gates values vs DuckDB at 1e-9
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy scoring — the perplexity-proxy quality
    filter (KenLM-style scoring without shipping a model): p(tok) =
    corpus frequency / total tokens, doc score = mean(-ln p) over its
    tokens; low-probability word salad scores high and gets dropped.
    Plan: one vocabulary-sized count aggregate (map-side partials),
    the scalar total rides a broadcast cross join, the (token, logp)
    decode table broadcasts back onto the exploded corpus, and the
    per-doc mean is the only corpus-keyed shuffle. No oracle hash by
    design: ln/mean are float-order dependent; value parity is gated
    at 1e-9 in a unit test instead."""
    from rs_query_engine_spark.functions.text import tokens
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    toks = spread(d).select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    logp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        (-F.log(F.col("cnt").cast("double") / F.col("total"))).alias("neg_logp"),
    )
    return (
        toks.join(F.broadcast(logp), "tok")
        .groupBy("doc_id")
        .agg(
            F.avg("neg_logp").alias("cross_entropy"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


@register(
    "join_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
        -- CAST: DuckDB types the 10.0 literal DECIMAL(3,1), which
        -- hash-mismatches Spark's double even at equal values
        SELECT etype, CAST(boost AS DOUBLE) AS boost
        FROM (VALUES ('purchase', 10.0), ('error', 5.0)) t(etype, boost)
    )
    SELECT e.event_id, e.user_id, e.event_type, d.boost
    FROM events e JOIN dim d ON e.event_type = d.etype
    WHERE e.value > 80.0
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — the runtime companion to the static
    pruning in source_partition_pruning: the fact table is partitioned
    by event_type and the qualifying keys arrive via a JOIN against a
    FILTERED dim (boost > 1.0 keeps 2 of 5 types), so Spark builds the
    key set at runtime and skips the fact partitions the dim never
    mentions — zero partition literals in the query. At 100 TB this is
    the date-dim ⋈ fact pattern: without DPP the fact scan reads every
    partition. The dim must be a FILE-backed relation with a real
    Filter node (a VALUES LocalRelation constant-folds and defeats the
    selective-predicate check — found the hard way); both the
    partitioned events copy and the 5-row dim parquet live in ONE
    mtime+size-keyed artifact shared with ``source_partition_pruning``
    (``_ensure_events_partitioned``). Plan test asserts
    ``dynamicpruning`` on the fact scan."""
    import os

    base = _ensure_events_partitioned(spark, sf_dir)
    path = os.path.join(base, "events")
    dimp = os.path.join(base, "etype_dim")
    ev = spark.read.parquet(path)
    dim = spark.read.parquet(dimp).filter(F.col("boost") > 1.0)
    return (
        ev.filter(F.col("value") > 80.0)
        .join(dim, ev["event_type"] == dim["etype"])
        .select("event_id", "user_id", "event_type", "boost")
    )


@register(
    "sample_fixed_per_group",
    oracle="""
    SELECT event_id, event_type, value
    FROM (
        SELECT event_id, event_type, value,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
               ) AS rn
        FROM events
    ) WHERE rn <= 100
    """,
)
def sample_fixed_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size PER-GROUP sample (exactly 100 events per type) via
    content-hash ordering — the per-stratum eval-set builder that
    complements the rate-based sample_stratified_hash: hash order is a
    reproducible shuffle (same rows on any cluster, any partitioning,
    any engine), de-tied by id. One window sort per group; at scale
    with heavy groups the two-phase TakeOrdered-per-group variant
    (operators/sorts.topk_per_group partial=True) cuts the sort to
    per-partition heaps."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .select("event_id", "event_type", "value")
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS nd_parts,
           COUNT(DISTINCT l_suppkey) AS nd_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregates — the third tier
    of the distinct family (exact rewrite = count_distinct, sketch =
    agg_approx_distinct, and this: exact AND mergeable): dense int
    keys are folded into per-(group, 32k-bucket) bitmaps map-side,
    bitmaps OR-merge in the shuffle, and the count is a popcount sum.
    Unlike the Expand-based distinct rewrite (which multiplies input
    rows per distinct column), two distinct columns cost two bitmap
    columns in ONE pass; shuffle volume is bounded by key range / 8
    bits, independent of row count — the 100-TB exact-distinct
    pattern for id-typed keys.

    Each distinct column is aggregated INDEPENDENTLY (its own
    groupBy(flag, bucket) pass): bucketing two key columns jointly
    would set the same partkey bit in one bitmap per co-occurring
    suppkey bucket and double-count on the popcount sum. Two scans
    of a narrow projection beat one wrong scan; at 100 TB both are
    map-side-partial + key-range-bounded shuffles."""
    li = _t(spark, sf_dir, "lineitem")

    def _nd(key: str, out: str) -> DataFrame:
        return (
            li.groupBy(
                "l_returnflag",
                F.expr(f"bitmap_bucket_number({key})").alias("bkt"),
            )
            .agg(
                F.expr(
                    f"bitmap_construct_agg(bitmap_bit_position({key}))"
                ).alias("bm")
            )
            .groupBy("l_returnflag")
            .agg(F.expr("sum(bitmap_count(bm))").alias(out))
        )

    # null-safe join on the group key: both sides carry identical group
    # sets (same source), but a plain inner join would silently drop a
    # NULL group if this pattern is reused on a nullable key
    a = _nd("l_partkey", "nd_parts")
    b = _nd("l_suppkey", "nd_supps").withColumnRenamed("l_returnflag", "rf2")
    return a.join(
        F.broadcast(b), F.col("l_returnflag").eqNullSafe(F.col("rf2"))
    ).select("l_returnflag", "nd_parts", "nd_supps")


@register(
    "sample_weighted_bernoulli",
    oracle="""
    SELECT doc_id, source, n_chars,
           least(1.0, n_chars / 2000.0) AS keep_p
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000
          < least(1.0, n_chars / 2000.0) * 1000000.0
    """,
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document importance sampling: each doc keeps with its OWN
    probability (here length-proportional, capped at 1 — the mixture
    knob that up-samples long documents), via
    ``operators.sorts.sample_weighted_hash``. Completes the sampling
    family: fixed-rate (bernoulli), per-stratum (stratified), fixed-
    size, fixed-per-group, and now per-row-weighted. Map-only and
    content-hash deterministic like its siblings; the oracle mirrors
    the Spark threshold expression verbatim
    (least(1.0, n_chars/2000.0) * 1e6) so the compare is float-exact
    by construction, not by coincidence."""
    from rs_query_engine_spark.operators.sorts import sample_weighted_hash

    d = _t(spark, sf_dir, "documents")
    w = F.least(F.lit(1.0), F.col("n_chars") / F.lit(2000.0))
    return sample_weighted_hash(
        d, F.col("doc_id").cast("string"), w
    ).select("doc_id", "source", "n_chars", w.alias("keep_p"))


@register(
    "embedding_dim_stats",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), x AS (
        -- parallel unnest + generate_subscripts zip positionally
        -- (DuckDB's range() cannot take lateral column bounds)
        SELECT generate_subscripts(v, 1) - 1 AS dim, unnest(v) AS x FROM e
    )
    SELECT CAST(dim AS INT) AS dim, COUNT(*) AS n,
           MIN(x) AS min_v, MAX(x) AS max_v,
           COUNT(CASE WHEN x > 0 THEN 1 END) AS n_pos,
           greatest(abs(MIN(x)), abs(MAX(x))) AS absmax
    FROM x GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION corpus statistics over the embedding column — the
    calibration pass quantization needs (per-dim absmax drives the
    int8 scale in embedding_quantize_int8's per-tensor variant) and
    the range audit that catches dead or exploding dimensions after a
    model change. posexplode fans each vector into (dim, value) rows
    and a hash aggregation reduces per dim: the fan-out is map-side
    and the partial aggregate collapses it to |dims| rows per task
    BEFORE the shuffle, so shuffle volume is dims × partitions —
    independent of corpus size, the right shape at 100 TB. Only exact
    ops (count/min/max + abs/greatest on the extremes), so the oracle
    hash-matches without float-sum order concerns."""
    e = _t(spark, sf_dir, "embeddings")
    x = e.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x")
    )
    return x.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_v"),
        F.max("x").alias("max_v"),
        F.count(F.when(F.col("x") > 0, 1)).alias("n_pos"),
        F.greatest(F.abs(F.min("x")), F.abs(F.max("x"))).alias("absmax"),
    )


@register(
    "join_bloom_filter_runtime",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT' AND o.o_totalprice > 150000.0
    """,
)
def join_bloom_filter_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim fact join written to benefit from Spark's RUNTIME
    bloom-filter injection (SPARK-32268): the optimizer builds a bloom
    filter over the filtered orders side's join keys and pushes a
    ``bloom_filter_might_contain`` predicate into the lineitem scan,
    discarding non-joining fact rows BEFORE the shuffle — the runtime
    companion to dynamic partition pruning when the fact table is not
    partitioned by the join key. At 100 TB this turns a full-fact
    shuffle into a shuffle of ~matching rows only. Injection is gated
    by size thresholds (creation side < 10 MB, application side >
    10 GB by default) so it engages exactly when the fact side is
    big — the local plan test lowers the application threshold to
    assert the rewrite; semantics are identical either way."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 150000.0)
    )
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )


@register(
    "agg_mad_outliers",
    oracle="""
    WITH v AS (
        SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
        WHERE value IS NOT NULL
    ), med AS (
        SELECT event_type, x AS med FROM (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM v
        ) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    ), d AS (
        SELECT v.event_type, abs(v.x - m.med) AS dev, m.med
        FROM v JOIN med m USING (event_type)
    ), mad AS (
        SELECT event_type, dev AS mad FROM (
            SELECT event_type, dev,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM d
        ) WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
    )
    SELECT d.event_type, d.med, a.mad, COUNT(*) AS n,
           COUNT(CASE WHEN d.dev > 1.5 * a.mad THEN 1 END) AS n_outliers
    FROM d JOIN mad a USING (event_type)
    GROUP BY d.event_type, d.med, a.mad
    """,
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier statistics: median and MAD (median
    absolute deviation) per event type, plus the count of values
    beyond 1.5·MAD — the outlier gate that, unlike the z-score
    (agg_zscore_outliers), a few extreme values cannot drag. Medians
    are RANK-EXACT (the lower median: the value at row ceil(n/2) in
    value order) rather than interpolated, so both engines select the
    identical stored double and the whole report hash-matches —
    tie-order under duplicates is irrelevant because the selected
    VALUE at that rank is unique.

    r19 pass structure (guide §2.4 — windows over one partitioning
    share one exchange): med and mad are WINDOW EXPRESSIONS over the
    same event_type partitioning instead of filtered sub-aggregates
    joined back — ONE events scan and ONE hash exchange where the
    join spelling paid three scans, two window shuffles and two
    broadcast joins (paired first-run median 0.70, 4/4 wins; rows
    bit-identical at all three SFs). The per-group window sort
    distributes across groups (partitionBy event_type); at 100 TB a
    skewed group's exact median upgrades to approx_percentile or a
    two-pass count-bucket median — the 1.5·MAD gate logic is
    unchanged."""
    from pyspark.sql import Window

    v = (
        _t(spark, sf_dir, "events")
        # NULL values are excluded on BOTH sides before the rank-exact
        # median: Spark's default sort is NULLS FIRST vs DuckDB's NULLS
        # LAST, so a null would shift the ceil(n/2) row cross-engine
        .filter(F.col("value").isNotNull())
        .select("event_type", F.col("value").cast("double").alias("x"))
    )
    wc = Window.partitionBy("event_type")

    def with_lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        # the lower-median VALUE broadcast to every partition row via
        # an unordered window over the same key — no join, no second
        # scan; max(single non-null) selects the rank-ceil(n/2) value
        w = Window.partitionBy("event_type").orderBy(col)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wc))
            .withColumn(
                out,
                F.max(
                    F.when(
                        F.col("_rn")
                        == F.ceil(F.col("_n") / 2.0).cast("bigint"),
                        F.col(col),
                    )
                ).over(wc),
            )
            .drop("_rn", "_n")
        )

    d = with_lower_median(v, "x", "med").select(
        "event_type", F.abs(F.col("x") - F.col("med")).alias("dev"), "med"
    )
    return (
        with_lower_median(d, "dev", "mad")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("dev") > 1.5 * F.col("mad"), 1)).alias(
                "n_outliers"
            ),
        )
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT *, SUM(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING
        ) AS sess_id
        FROM o
    ), sess AS (
        SELECT user_id,
               CAST(MIN(ts) AS TIMESTAMP) AS s_lo,
               CAST(MAX(ts) + INTERVAL 5 MINUTE AS TIMESTAMP) AS s_hi
        FROM s GROUP BY user_id, sess_id
    ), inc AS (
        SELECT event_type,
               CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
                   AS w_lo,
               CAST(date_trunc('hour', CAST(ts AS TIMESTAMP))
                    + INTERVAL 1 HOUR AS TIMESTAMP) AS w_hi
        FROM events GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3
    )
    SELECT se.user_id, se.s_lo AS session_start, i.event_type,
           i.w_lo AS window_start
    FROM sess se JOIN inc i ON se.s_lo < i.w_hi AND i.w_lo < se.s_hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL × INTERVAL overlap join via grid-cell decomposition
    (``operators.joins.interval_overlap_join``): which user sessions
    overlapped a high-activity incident window (an hour where one
    event type fired ≥ 3 times). The theta predicate (s_lo < w_hi AND
    w_lo < s_hi) would plan a nested-loop cross product; exploding
    both interval sets into hour-grid cells turns it into a cell-equi
    join + residual filter — time-local shuffles that scale, the
    temporal twin of the range-band join. Sessions come from the same
    session_window whose semantics the sessionization oracle pins;
    incident windows from the epoch-aligned hourly tumble."""
    from rs_query_engine_spark.operators.joins import interval_overlap_join

    e = _t(spark, sf_dir, "events")
    sess = (
        e.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("_s_hi"),
        )
        # unix_micros, not unix_timestamp: seconds truncation would
        # flip overlap comparisons at window boundaries (a session
        # ending at 11:00:00.5 must still overlap the 11:00 window)
        .withColumn("_lo_s", F.unix_micros("session_start"))
        .withColumn("_hi_s", F.unix_micros("_s_hi"))
    )
    inc = (
        e.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 3)
        .select(
            "event_type",
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("_w_hi"),
        )
        .withColumn("_lo_w", F.unix_micros("window_start"))
        .withColumn("_hi_w", F.unix_micros("_w_hi"))
    )
    out = interval_overlap_join(
        sess, inc, "_lo_s", "_hi_s", "_lo_w", "_hi_w", 3600 * 1_000_000
    )
    return out.select("user_id", "session_start", "event_type", "window_start")


@register(
    "quality_constraint_audit",
    oracle="""
    SELECT 'quantity_range' AS rule,
           COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 END)
               AS violations,
           COUNT(*) AS checked
    FROM lineitem
    UNION ALL
    SELECT 'price_positive',
           COUNT(CASE WHEN l_extendedprice <= 0 THEN 1 END), COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'discount_bounds',
           COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 END),
           COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_not_null',
           COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END), COUNT(*)
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_fk',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)),
           COUNT(*)
    FROM lineitem
    """,
)
def quality_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit — the pre-training gate a corpus
    pipeline runs before a table is promoted: range rules, null rules,
    and referential integrity evaluated into one (rule, violations,
    checked) report. The four row-local rules share ONE scan (a single
    aggregate of conditional counts, exploded into report rows — the
    profile_columns stacking pattern); the FK rule is a LEFT ANTI join
    against the parent keys (count of orphans), the scale-correct
    spelling of NOT EXISTS. At 100 TB the audit costs one pass over
    the fact table plus one key-projected join — not one scan per
    rule."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    one = li.agg(
        F.count(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
        ).alias("quantity_range"),
        F.count(F.when(F.col("l_extendedprice") <= 0, 1)).alias("price_positive"),
        F.count(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)
        ).alias("discount_bounds"),
        F.count(F.when(F.col("l_orderkey").isNull(), 1)).alias("orderkey_not_null"),
        F.count(F.lit(1)).alias("checked"),
    )
    rules = ["quantity_range", "price_positive", "discount_bounds", "orderkey_not_null"]
    report = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"),
                        F.col(r).alias("violations"),
                        F.col("checked").alias("checked"),
                    )
                    for r in rules
                ]
            )
        ).alias("p")
    ).select("p.*")
    orphans = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).alias("violations"))
    )
    fk = one.select(F.col("checked")).crossJoin(orphans).select(
        F.lit("orderkey_fk").alias("rule"), "violations", "checked"
    )
    return report.unionByName(fk)


@register(
    "agg_hll_sketch_merge",
    oracle="""
    WITH per AS (
        SELECT source, lang, COUNT(DISTINCT md5(text)) AS part_exact
        FROM documents GROUP BY source, lang
    ), m AS (
        SELECT source, COUNT(*) AS n_parts,
               CAST(SUM(part_exact) AS BIGINT) AS sum_part_exact
        FROM per GROUP BY source
    ), ex AS (
        SELECT source, COUNT(DISTINCT md5(text)) AS exact_docs
        FROM documents GROUP BY source
    )
    SELECT m.source, m.n_parts, m.sum_part_exact, ex.exact_docs,
           TRUE AS est_ok
    FROM m JOIN ex USING (source)
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch rollup — the pattern that makes distinct counts
    tractable at 100 TB: per-(source, lang) HyperLogLog sketches of the
    document fingerprints are built in one pass (map-side partial, a
    few KB each), then UNIONED per source without touching the data
    again (``hll_union_agg``) — re-aggregating along a different
    hierarchy costs sketch-merge, not a second corpus scan, which is
    how daily partial sketches roll up to monthly uniques.

    Hash-verified via the MERGE STRUCTURE plus a bounded-error claim:
    the output carries the exact SQL-expressible rollup facts
    (partials merged per source, the sum of per-part distincts — which
    exceeds the true union when fingerprints repeat across langs — and
    the exact union count) plus ``est_ok``, the sketch estimate's 5%
    error bound as a boolean (oracle side: literal TRUE; HLL lgK=12
    typical error ~1.6%, and the estimate stays in-plan because
    ``est_ok`` consumes it — Catalyst cannot prune the sketch away).
    The raw estimate value itself stays gated at 5% in
    tests/unit/test_robustness.py (sketch registers are
    engine-specific, so the VALUE is not cross-engine hashable)."""
    d = _t(spark, sf_dir, "documents")
    fp = F.md5(F.col("text"))
    per = d.groupBy("source", "lang").agg(
        F.expr("hll_sketch_agg(md5(text))").alias("sk"),
        F.count_distinct(fp).alias("part_exact"),
    )
    merged = per.groupBy("source").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("part_exact").alias("sum_part_exact"),
    )
    ex = d.groupBy("source").agg(F.count_distinct(fp).alias("exact_docs"))
    # inner join on the group key: both engines drop a NULL source
    # identically (NULL never equi-joins), so the compare stays fair
    return merged.join(ex, "source").select(
        "source",
        "n_parts",
        "sum_part_exact",
        "exact_docs",
        (
            F.abs(F.col("est").cast("double") - F.col("exact_docs"))
            / F.col("exact_docs")
            <= F.lit(0.05)
        ).alias("est_ok"),
    )


@register(
    "sql_entry_exists",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'F'
                        AND o2.o_totalprice > 300000.0)
    """,
)
def sql_entry_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL entry point
    (§3 depth beyond sql_entry_q6's scan-agg): Catalyst decorrelates
    the subqueries into a LEFT SEMI and a LEFT ANTI join — the
    scale-correct rewrite (no per-row subquery execution, both joins
    broadcast the filtered orders side here) — plan-asserted in
    tests/unit/test_plan_properties.py. Identical SQL runs on DuckDB
    as the oracle."""
    from rs_query_engine_spark.sources.corpus import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey
                            AND o2.o_orderstatus = 'F'
                            AND o2.o_totalprice > 300000.0)
        """
    )


def _pq_cte_block() -> str:
    """The shared WITH-body of the IVF-PQ oracles: coarse assignment,
    PQ ``codes``, and query distance tables ``qt`` — extracted so the
    staged persisted-PQ-index oracles (codes read-back, probe) compose
    from the SAME generated CTEs as the live end-to-end oracle and can
    never drift from it. Geometry and probe width are the Spark
    operator's own ``similarity.PQ_*`` / ``IVF_PQ_NPROBE`` constants."""
    from rs_query_engine_spark.operators.similarity import (
        IVF_PQ_NPROBE as nprobe,
        PQ_NUM_CENTROIDS as num_centroids,
        PQ_NUM_SUB as num_sub,
        PQ_SUB_DIM as sub_dim,
        pq_codebook,
    )

    book = pq_codebook()

    def dist(col: str, b: int, k: int) -> str:
        lits = "[" + ",".join(str(x) for x in book[b][k]) + "]"
        return (
            f"list_sum(list_transform(list_zip("
            f"{col}[{b * sub_dim + 1}:{b * sub_dim + sub_dim}], "
            f"{lits}::DOUBLE[]), "
            "x -> (x[1] - x[2]) * (x[1] - x[2])))"
        )

    def d_cols(col: str) -> str:
        return ", ".join(
            "[" + ",".join(dist(col, b, k) for k in range(num_centroids))
            + f"] AS d{b}"
            for b in range(num_sub)
        )

    codes = ", ".join(
        f"list_position(d{b}, list_min(d{b})) - 1 AS c{b}" for b in range(num_sub)
    )
    cos = _COS_SQL.format(a="corpus.v", b="cent.cv")
    return f"""corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8
    ), ranked AS (
        SELECT corpus.vec_id, corpus.v, cent.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY corpus.vec_id
                   ORDER BY {cos} DESC, cent.centroid_id
               ) AS rn
        FROM corpus, cent
    ), cd AS (
        SELECT vec_id, centroid_id, {d_cols("v")}
        FROM ranked WHERE rn = 1
    ), codes AS (
        SELECT vec_id, centroid_id, {codes} FROM cd
    ), qt AS (
        SELECT vec_id AS query_id, centroid_id, {d_cols("v")}
        FROM ranked WHERE rn <= {nprobe} AND vec_id % 100 = 0
    )"""


def _pq_adc_oracle_sql() -> str:
    """Generated DuckDB oracle for the FULL IVF-PQ pipeline: coarse
    assignment (same cosine/tiebreak SQL as similarity_ivf_probed), PQ
    codes and query distance tables from the same codebook literals as
    the Spark operator (same fold arithmetic the embedding_pq_codes
    hash pins), ADC as position lookups summed in subspace order, and
    the same (adc, vec_id) top-k tiebreak — so the composition is
    hash-verifiable end-to-end, not just its standalone pieces."""
    from rs_query_engine_spark.operators.similarity import PQ_NUM_SUB

    adc = " + ".join(f"qt.d{b}[c.c{b} + 1]" for b in range(PQ_NUM_SUB))
    return f"""
    WITH {_pq_cte_block()}, scored AS (
        SELECT qt.query_id, c.vec_id, {adc} AS adc
        FROM codes c JOIN qt ON c.centroid_id = qt.centroid_id
    )
    SELECT * FROM (
        SELECT query_id, vec_id, adc,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY adc, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """


@register("similarity_ivf_pq_topk", oracle=_pq_adc_oracle_sql())
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN end-to-end (``operators.similarity.ivf_pq_topk``):
    coarse inverted lists prune the corpus (nprobe=2 of 8 lists), PQ
    codes compress candidates 64×, and ranking is asymmetric distance
    — per query a table of subspace-centroid distances is built once
    and every candidate costs 8 lookups + adds, never raw-vector math.
    This is the layout billion-vector search actually ships; the whole
    composition is hash-verified against a GENERATED DuckDB oracle
    (``_pq_adc_oracle_sql`` — same codebook literals, fold order, and
    tiebreaks), and additionally NumPy-pinned in
    tests/unit/test_similarity_recall.py.

    PAIRING: this query deliberately re-encodes the corpus from
    scratch each run — it is the self-contained algorithmic
    cross-check. The PRODUCTION form is its persisted twin
    ``similarity_pq_index_probe`` (queries_staged_r10.py), which ADC-
    probes the one-time ``pqidx`` artifact (operators/ivf_index.py:
    ensure_pq_index) at ~2× lower latency and O(query) cost; both are
    oracle-verified to the same ranking semantics, so agreement
    between them is itself a lifecycle check (build ≡ live encode)."""
    from rs_query_engine_spark.operators.similarity import ivf_pq_topk

    e = _t(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_pq_topk(e, cent, q, 10)


_SEMDEDUP_COS_X = _COS_SQL.format(a="x.v", b="y.v")
_SEMDEDUP_COS_ASSIGN = _COS_SQL.format(a="corpus.v", b="cent.cv")


@register(
    "dedup_semantic",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8
    ), ranked AS (
        SELECT corpus.vec_id, corpus.v, cent.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY corpus.vec_id
                   ORDER BY {_SEMDEDUP_COS_ASSIGN} DESC, cent.centroid_id
               ) AS rn
        FROM corpus, cent
    ), a AS (
        SELECT vec_id, v, centroid_id FROM ranked WHERE rn = 1
    ), dropped AS (
        SELECT DISTINCT x.vec_id
        FROM a x JOIN a y
          ON x.centroid_id = y.centroid_id AND y.vec_id < x.vec_id
        WHERE {_SEMDEDUP_COS_X} >= 0.3
    )
    SELECT a.vec_id, a.centroid_id, d.vec_id IS NULL AS kept
    FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (``operators.dedup.semantic_dedup``)
    — the family member that catches paraphrases, which every lexical
    dedup (exact/MinHash/SimHash/containment) structurally misses:
    cluster the embedding space, then drop within-cluster near-
    duplicates by pairwise cosine against the keep-smallest-id policy.
    The pair space is an equi-join on the cluster id — never all-pairs
    (plan-asserted); centroids broadcast for assignment. Deterministic
    fixed centroids (corpus rows vec_id<8, the similarity_ivf_topk
    pattern) keep the whole decision oracle-expressible; production
    swaps in kmeans_centroids unchanged. The 0.3 threshold is
    corpus-specific (synthetic embeddings are near-orthogonal — max
    pairwise cosine ~0.5; real paraphrase dedup uses ~0.95+)."""
    from rs_query_engine_spark.operators.dedup import semantic_dedup

    e = _t(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    return semantic_dedup(e, cent, "vec_id", "embedding", threshold=0.3)


def _pq_oracle_sql() -> str:
    """DuckDB oracle for PQ encoding — same codebook literals and
    ``PQ_*`` geometry as the Spark operator
    (operators/similarity.pq_codebook), same per-subspace distance
    folds, same argmin-by-position tie-break."""
    from rs_query_engine_spark.operators.similarity import (
        PQ_NUM_CENTROIDS as num_centroids,
        PQ_NUM_SUB as num_sub,
        PQ_SUB_DIM as sub_dim,
        pq_codebook,
    )

    book = pq_codebook()

    def dist(b: int, k: int) -> str:
        lits = "[" + ",".join(str(x) for x in book[b][k]) + "]"
        return (
            f"list_sum(list_transform(list_zip("
            f"v[{b * sub_dim + 1}:{b * sub_dim + sub_dim}], {lits}::DOUBLE[]), "
            "x -> (x[1] - x[2]) * (x[1] - x[2])))"
        )

    d_cols = ", ".join(
        "[" + ",".join(dist(b, k) for k in range(num_centroids)) + f"] AS d{b}"
        for b in range(num_sub)
    )
    codes = ", ".join(
        f"list_position(d{b}, list_min(d{b})) - 1" for b in range(num_sub)
    )
    err = " + ".join(f"list_min(d{b})" for b in range(num_sub))
    return f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), d AS (
        SELECT vec_id, {d_cols} FROM e
    )
    SELECT vec_id, concat_ws(',', {codes}) AS codes, {err} AS recon_err
    FROM d
    """


@register("embedding_pq_codes", oracle=_pq_oracle_sql())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (``operators.similarity.pq_codes``)
    — completes the ANN storage story begun by int8 quantization and
    IVF: 8 subspaces × 16 deterministic centroids code each 64-dim
    vector into 8 bytes (64× smaller than the on-disk doubles), plus
    the summed squared reconstruction error that drives codebook
    retraining. Map-only scan→project, no shuffle; codes are emitted
    comma-joined (scalar cell for the verification hash), and the
    distance/argmin arithmetic is the same literal-fold sequence in
    both engines."""
    from rs_query_engine_spark.operators.similarity import pq_codes

    e = _t(spark, sf_dir, "embeddings")
    return pq_codes(e, "vec_id", "embedding").select(
        F.col("_id").alias("vec_id"), "codes", "recon_err"
    )


@register(
    "stream_session_window",
    oracle="""
    WITH o AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT *, SUM(new_sess) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING
        ) AS sess_id
        FROM o
    )
    SELECT CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           user_id,
           COUNT(event_id) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
    FROM s
    GROUP BY user_id, sess_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gap-based sessionization — the stateful twin of
    ``events_sessionization`` (same oracle, same 5-minute gap):
    ``session_window`` state per user merges adjacent sessions as
    events arrive and closes gap after the last event; the watermark
    bounds how long open sessions stay resident, which is what makes
    per-user session state viable on an unbounded 100-TB/day stream.
    Driven to a memory sink in complete mode (Spark rejects update for
    session-window aggregations — merged sessions can't re-emit under
    a changed key); on an unbounded production stream the sink is
    append, emitting each session once the watermark passes its close
    (the stream_append_finalized pattern) so sink and state stay
    bounded."""
    from rs_query_engine_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        sessionize_stream,
    )

    ev = read_events_stream(spark, sf_dir)
    sess = sessionize_stream(ev, gap="5 minutes", watermark="2 hours")
    return run_stream_to_memory(
        sess, "stream_session_window", output_mode="complete"
    )


@register(
    "dedup_containment_pairs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS tk
        FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(tk) - 2),
                   i -> array_to_string(tk[i:i+2], ' '))) AS s
        FROM toks WHERE len(tk) >= 3
    ), inv AS (
        SELECT doc_id AS id_b, unnest(s) AS shingle FROM sh
    ), dfreq AS (
        SELECT shingle, COUNT(*) AS df FROM inv GROUP BY shingle
    ), ranked AS (
        SELECT i.id_b AS id_a,
               list_sort(list(struct_pack(df := d.df, shingle := i.shingle)))
                   AS r
        FROM inv i JOIN dfreq d USING (shingle) GROUP BY i.id_b
    ), probes AS (
        SELECT id_a,
               unnest(list_transform(
                   r[1 : CAST(floor(CAST(0.2 AS DOUBLE) * len(r)) AS INT) + 1],
                   y -> y.shingle)) AS shingle
        FROM ranked
    ), inv_ok AS (
        SELECT i.id_b, i.shingle FROM inv i JOIN dfreq d USING (shingle)
        WHERE d.df <= 1000
    ), cand AS (
        SELECT DISTINCT p.id_a, i.id_b
        FROM probes p JOIN inv_ok i USING (shingle)
        WHERE p.id_a <> i.id_b
    )
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
               AS containment
    FROM cand c JOIN sh a ON c.id_a = a.doc_id JOIN sh b ON c.id_b = b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s) >= 0.8
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection (A ⊆≈ B): shingle-set
    containment ≥ 0.8 via prefix-filtering candidate generation
    (``operators.dedup.containment_pairs``) — the quote/subset/
    boilerplate detector symmetric Jaccard misses (a paragraph quoted
    in a 100× longer doc has Jaccard ≈ 0.01 but containment ≈ 1).
    Candidates come from probing each doc's ⌊0.2·|sh|⌋+1
    rarest-first (ascending document-frequency, ties by shingle)
    shingles against a df-capped inverted index — an equi-join, never
    all-pairs; the pigeonhole guarantee makes the probe set exact for
    the threshold, not a recall gamble like LSH."""
    from rs_query_engine_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents")
    return containment_pairs(d, "doc_id", "text")


@register(
    "sample_temperature_mix",
    oracle="""
    WITH c AS (
        SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
    ), m AS (
        SELECT MIN(n_s) AS n_min FROM c
    ), r AS (
        SELECT c.source,
               sqrt(CAST(m.n_min AS DOUBLE) / CAST(c.n_s AS DOUBLE))
                   AS keep_rate
        FROM c, m
    )
    SELECT d.doc_id, d.source, r.keep_rate
    FROM documents d JOIN r ON d.source = r.source
    WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 1000000
          < r.keep_rate * 1000000.0
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled SOURCE MIXING (α = 0.5) — the standard
    multi-source LLM training mix (multilingual/multi-domain
    rebalancing a la GPT-3 / XLM-R): per-source keep rate
    ∝ n_s^(α−1), normalized so the smallest source keeps 100%, which
    flattens the size distribution toward n_s^α. Unlike the fixed
    per-stratum rates of sample_stratified_hash, the rates here are
    DATA-DERIVED inside the query (count → broadcast → map-only
    hash filter — no second scan, no driver round-trip). α = 0.5
    keeps the arithmetic on sqrt/division only (both IEEE
    correctly-rounded, so the threshold compare is float-exact
    cross-engine; arbitrary α would need libm pow — the
    float-determinism discipline forbids it in a hash-verified
    path)."""
    from rs_query_engine_spark.operators.sorts import sample_weighted_hash

    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    m = c.agg(F.min("n_s").alias("n_min"))
    r = c.crossJoin(F.broadcast(m)).select(
        "source",
        F.sqrt(
            F.col("n_min").cast("double") / F.col("n_s").cast("double")
        ).alias("keep_rate"),
    )
    return sample_weighted_hash(
        d.join(F.broadcast(r), "source"),
        F.col("doc_id").cast("string"),
        F.col("keep_rate"),
    ).select("doc_id", "source", "keep_rate")


@register(
    "text_winnowing_fingerprints",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS toks
        FROM documents
    ), s AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, len(toks) - 2),
                   i -> array_to_string(toks[i:i+2], ' ')
               ) AS grams
        FROM t WHERE len(toks) >= 3
    ), g AS (
        -- parallel unnest zips positionally (embedding_dim_stats trick)
        SELECT doc_id, len(grams) AS n_grams,
               unnest(generate_series(1, len(grams))) AS i,
               unnest(list_transform(
                   grams, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS h
        FROM s
    ), w AS (
        SELECT doc_id, i, n_grams,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM g
    )
    SELECT doc_id, COUNT(DISTINCT fp) AS n_fps,
           MIN(fp) AS fp_min, MAX(fp) AS fp_max
    FROM w WHERE i <= n_grams - 3
    GROUP BY doc_id
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word 3-gram, slide a
    window of 4 consecutive hashes, record each window's minimum. The
    guarantee the rolling-hash fingerprint (text_fingerprint) lacks:
    any shared substring of ≥ w+k−1 tokens between two documents
    yields at least one SHARED fingerprint, with a ~2/(w+1) density
    bound — the principled plagiarism/near-copy detector. Summarized
    per doc (count + min/max of selected prints) so the result stays
    compact; the (doc, fp) pairs feed an inverted index at scale.
    Plan shape: ``spread`` (round-robin) and ONE map-side projection —
    no lineage cut, no Window, no aggregate, no hash shuffle. The
    fingerprint array (``functions/text.winnow``) is bound once as a
    lambda variable and summarised by array built-ins; the row comes
    from an explode of a one-element struct array that is empty for
    docs with fewer than 4 grams. Exploding an expression rather than
    a column keeps Catalyst from inferring a size filter below the
    projection, which would evaluate the shingle chain again."""
    from rs_query_engine_spark.functions.text import winnow
    from rs_query_engine_spark.sources.corpus import spread

    d = spread(_t(spark, sf_dir, "documents"))
    stats = F.transform(
        F.array(winnow(F.col("text"), 3, 4)),
        lambda fps: F.struct(
            F.size(F.array_distinct(fps)).cast("bigint").alias("n_fps"),
            F.array_min(fps).alias("fp_min"),
            F.array_max(fps).alias("fp_max"),
        ),
    )
    return d.select(
        "doc_id", F.inline(F.filter(stats, lambda s: s["n_fps"] > 0))
    )


_KNN_COS_ASSIGN = _COS_SQL.format(a="corpus.v", b="cent.cv")
_KNN_COS_SCORE = _COS_SQL.format(a="a.v", b="q.qv")


@register(
    "similarity_knn_label_vote",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
    ), cent AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8
    ), ranked AS (
        SELECT corpus.vec_id, corpus.v, cent.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY corpus.vec_id
                   ORDER BY {_KNN_COS_ASSIGN} DESC, cent.centroid_id
               ) AS rn
        FROM corpus, cent
    ), assigned AS (
        SELECT vec_id, v, centroid_id FROM ranked WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, centroid_id
        FROM ranked WHERE rn <= 2 AND vec_id % 100 = 0
    ), scored AS (
        SELECT q.query_id, a.vec_id,
               {_KNN_COS_SCORE} AS cos
        FROM assigned a JOIN q ON a.centroid_id = q.centroid_id
    ), topk AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
            FROM scored
        ) WHERE rnk <= 10 AND vec_id <> query_id
    ), votes AS (
        SELECT t.query_id, c.label, COUNT(*) AS n_votes
        FROM topk t JOIN corpus c ON t.vec_id = c.vec_id
        GROUP BY t.query_id, c.label
    )
    SELECT query_id, label AS pred_label, n_votes FROM (
        SELECT query_id, label, n_votes,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY n_votes DESC, label) AS vr
        FROM votes
    ) WHERE vr = 1
    """,
)
def similarity_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label vote — weak labeling / label propagation over the ANN
    index (the embeddings table's ``label`` column): each query takes
    its 10 nearest IVF neighbors (nprobe=2, self excluded post-rank so
    both engines rank the identical candidate set) and predicts the
    majority label, ties to the smallest label. This is the
    classifier-free auto-labeling pass of a curation pipeline
    (label known docs, propagate to neighbors) — and it rides the SAME
    bucketed IVF plan as similarity_ivf_probed (broadcast centroids,
    list equi-join, never all-pairs), plus one label join and a
    per-query vote window. Broadcast ORIENTATION (VERDICT r08 #1): the
    small side is ``nn`` (queries × k rows); the (vec_id, label)
    projection is corpus-proportional — billions of rows at 100 TB —
    so ``nn`` carries the hint and the label side STREAMS (pinned by
    the registry-wide broadcast lint in test_plan_properties.py)."""
    from pyspark.sql import Window

    from rs_query_engine_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    nn = ivf_topk(e, cent, q, 10, nprobe=2).filter(
        F.col("vec_id") != F.col("query_id")
    )
    votes = (
        F.broadcast(nn).join(e.select("vec_id", "label"), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "n_votes")
    )


@register(
    "quality_k_anonymity",
    oracle="""
    WITH g AS (
        SELECT lang, source, COUNT(*) AS n
        FROM documents GROUP BY lang, source
    )
    SELECT lang, source, n FROM g WHERE n >= 5
    UNION ALL
    SELECT '*' AS lang, '*' AS source, CAST(SUM(n) AS BIGINT) AS n
    FROM g WHERE n < 5 HAVING COUNT(*) > 0
    """,
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity suppression (k=5) over the (lang, source) quasi-
    identifier — the privacy gate a training-data release pipeline
    runs before publishing per-slice statistics: groups meeting the
    threshold pass through, every below-k group collapses into one
    '*'-bucket row so no small-population slice is disclosed (the
    suppressed row still reports its total, which is k-anonymity's
    aggregate-only disclosure). One shared aggregation feeds both
    branches (Catalyst reuses the exchange under AQE); map-side
    partials make the groupBy shuffle group-cardinality-sized, and
    the union is append-only — the shape survives any scale."""
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    ok = g.filter(F.col("n") >= 5).select("lang", "source", "n")
    small = (
        g.filter(F.col("n") < 5)
        .agg(F.sum("n").alias("n"), F.count(F.lit(1)).alias("_g"))
        .filter(F.col("_g") > 0)
        .select(
            F.lit("*").alias("lang"),
            F.lit("*").alias("source"),
            F.col("n").cast("bigint").alias("n"),
        )
    )
    return ok.unionAll(small)


@register(
    "source_schema_evolution",
    oracle="""
    SELECT doc_id, n_chars,
           CASE WHEN doc_id % 2 = 1 THEN lang ELSE NULL END AS lang
    FROM documents
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet generations — the source
    feature a long-lived 100-TB corpus needs: generation v1 wrote
    (doc_id, n_chars), generation v2 added a ``lang`` column; reading
    both with ``mergeSchema`` unions the schemas by name and
    null-fills the column where it predates the writer. Both
    generations live in ONE mtime+size-keyed artifact (migrated r12
    from the path-only ``_SUCCESS`` convention — no stale serve after
    an in-place corpus regen), and the oracle derives the identical
    frame from the ORIGINAL table — proving the evolved read
    loses/invents nothing. At scale mergeSchema's footer sampling is
    the cheap path (schema from a handful of files), versus a
    metastore-declared schema which this read does not require."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")

    def write(tmp: str) -> None:
        d = _t(spark, sf_dir, "documents")
        d.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "n_chars"
        ).write.parquet(os.path.join(tmp, "v1"))
        d.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "n_chars", "lang"
        ).write.parquet(os.path.join(tmp, "v2"))

    root = ensure_artifact(
        src,
        "evodocs",
        "split=doc_id%2|v2adds=lang",
        ("v1/_SUCCESS", "v2/_SUCCESS"),
        write,
    )
    v1, v2 = os.path.join(root, "v1"), os.path.join(root, "v2")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(v1, v2)
        .select("doc_id", "n_chars", "lang")
    )


@register(
    "events_scd2_intervals",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), ch AS (
        SELECT user_id, event_type, ts, event_id FROM o
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, event_type,
           CAST(ts AS TIMESTAMP) AS valid_from,
           CAST(LEAD(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS TIMESTAMP) AS valid_to
    FROM ch
    """,
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 reconstruction from an append-
    only event log: collapse each user's consecutive same-type runs to
    state-transition rows, then derive half-open validity intervals
    [valid_from, valid_to) via LEAD (NULL = current state) — the
    standard warehouse pattern for 'what was each entity's state at
    time T', joinable with an as-of or interval join downstream. Two
    window passes over the same (user_id; ts, event_id) ordering —
    Catalyst reuses one sort+exchange for both (same partitioning and
    ordering), so the whole reconstruction costs a single shuffle; at
    100 TB that shuffle is the unavoidable per-entity ordering and
    nothing more."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = _t(spark, sf_dir, "events")
    ch = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("event_type") != F.col("prev_type"))
        )
    )
    return ch.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


@register(
    "text_ngram_novelty",
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               list_distinct(
                   list_transform(
                       generate_series(1,
                           len(regexp_split_to_array(lower(text), '\s+')) - 2),
                       i -> array_to_string(
                           regexp_split_to_array(lower(text), '\s+')[i:i+2],
                           ' ')
                   )
               ) AS sh
        FROM documents
    ), x AS (
        SELECT doc_id, unnest(sh) AS g FROM t
    ), dfc AS (
        SELECT g, COUNT(*) AS df FROM x GROUP BY g
    )
    SELECT x.doc_id,
           COUNT(*) AS n_shingles,
           CAST(COUNT(CASE WHEN dfc.df = 1 THEN 1 END) AS DOUBLE)
               / COUNT(*) AS novelty
    FROM x JOIN dfc USING (g)
    GROUP BY x.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    word-3-grams that occur in NO other document — the corpus-level
    quality signal that separates original text from boilerplate/
    template families (novelty ~1) vs near-copies (novelty ~0), and
    the cheap pre-filter that decides which docs even enter near-dup
    candidate generation. Same inverted-index machinery as containment
    dedup, but the document frequency rides a
    ``count() OVER (PARTITION BY g)`` window in the single pass that
    already shuffles the exploded shingles (the r18
    window-instead-of-join-back rewrite proven on
    ``text_exact_substr_spans``): the exploded volume crosses the
    network ONCE, where the groupBy+join-back spelling shipped it
    once for the join side plus the distinct-shingle volume for the
    frequency side and paid a join. The window's sort is spillable,
    so hot shingles bound memory by sort, not an aggregation
    buffer."""
    from pyspark.sql import Window

    from rs_query_engine_spark.functions.text import shingles
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    x = (
        spread(d)
        .select(
            "doc_id",
            F.explode(F.array_distinct(shingles(F.col("text"), 3))).alias("g"),
        )
    )
    return (
        x.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("g")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            (
                F.count(F.when(F.col("df") == 1, 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty"),
        )
    )
