"""Queries added in round 7 (live since round 9), all with exact
oracles: TPC-H Q20/Q21 shapes, ``EXCEPT ALL``, percentile bounds,
compaction bin packing, k-means and unigram invariant companions for
the rows-only queries, a LATERAL top-k SQL entry, a Python UDTF
(language runs) and ``IGNORE NULLS`` windows.

Float-determinism discipline matches ``queries.py`` (see its module
docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from rs_query_engine_spark.session import register_once, truncate_lineage

from rs_query_engine_spark.queries import _t, register

# =====================================================================
# TPC-H Q20/Q21-shaped nested correlated semi/anti joins (VERDICT r07
# next-round #1 — extends sql_entry_q17_corr's correlation family)
# =====================================================================


@register(
    "tpch_q20_shape",
    oracle="""
    WITH per_sp AS (
        SELECT l.l_suppkey, l.l_partkey,
               SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type = 'PROMO'
        GROUP BY l.l_suppkey, l.l_partkey
    ), per_p AS (
        SELECT l_partkey, SUM(qty) AS total FROM per_sp GROUP BY l_partkey
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS n_dominant_parts
    FROM per_sp j
    JOIN per_p t ON j.l_partkey = t.l_partkey
    JOIN supplier s ON s.s_suppkey = j.l_suppkey
    WHERE 2 * j.qty > t.total
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 SHAPE (``dbgen`` Q20 probes partsupp availqty against
    half the shipped quantity; this corpus has no partsupp table, so
    the same nested-aggregate + semi-join topology runs on lineitem
    alone): suppliers that DOMINATE a PROMO part — their shipped
    quantity of that part exceeds half the part's total shipped
    quantity — with the count of dominated parts per supplier.

    Scale shape: the inner correlated aggregate ("total per part")
    decorrelates into a SECOND aggregate over the already-reduced
    per-(supplier, part) rollup — never a re-scan of lineitem — and
    the two aggregates join co-partitioned on l_partkey (the per-part
    shuffle reuses the rollup's key prefix). The PROMO part filter
    carries NO broadcast hint (part is SF-proportional — bigger than
    customer in TPC-H — so a forced hint is the r08 q3 bug class;
    AQE broadcasts the filtered set while it fits, r9 fix); supplier
    is a broadcast dim per sources/corpus.py BROADCAST_DIMS.
    Quantities sum through DECIMAL(12,2) and the dominance test is the
    all-integer-decimal ``2*qty > total`` — no float rounding anywhere
    (float-determinism discipline, queries.py module docstring)."""
    from rs_query_engine_spark.queries import D_PRICE

    li = _t(spark, sf_dir, "lineitem")
    promo = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    j = li.join(promo, li["l_partkey"] == promo["p_partkey"]).select(
        "l_suppkey", "l_partkey", F.col("l_quantity").cast(D_PRICE).alias("q")
    )
    per_sp = j.groupBy("l_suppkey", "l_partkey").agg(F.sum("q").alias("qty"))
    per_p = per_sp.groupBy("l_partkey").agg(F.sum("qty").alias("total"))
    qual = per_sp.join(per_p, "l_partkey").filter(
        F.lit(2) * F.col("qty") > F.col("total")
    )
    return (
        qual.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominant_parts"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "n_dominant_parts")
    )


@register(
    "tpch_q21_shape",
    oracle="""
    WITH l1 AS (
        SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    )
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM l1 l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM l1 l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l1.l_shipdate
    )
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s_suppkey
    LIMIT 20
    """,
)
def tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 SHAPE (suppliers-who-kept-waiting; this corpus's
    lineitem has no receipt/commit dates, so "late" becomes "shipped
    last"): over finished orders, count lineitems where another
    supplier ALSO shipped on the order (EXISTS → left-semi join) but
    NO other supplier shipped later (NOT EXISTS with an inequality →
    left-anti join) — the full Q21 correlation topology: one fact
    stream correlated against itself twice with opposite quantifiers.

    Scale shape: the finished-order lineitem projection is computed
    once and `localCheckpoint`ed (consumed three times: probe + both
    correlated sides — see operators/dedup.py's module docstring for
    the executor-loss caveat); the semi and anti joins shuffle on
    l_orderkey only, carrying three narrow columns; supplier
    broadcasts; final top-20 is TakeOrderedAndProject (numwait DESC,
    s_suppkey — deterministic limit), never a global sort."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    l1 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .transform(truncate_lineage)
    )
    l2 = l1.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = l1.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("s3"),
        F.col("l_shipdate").alias("d3"),
    )
    waited = l1.join(
        l2,
        (l1["l_orderkey"] == l2["k2"]) & (l1["l_suppkey"] != l2["s2"]),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == l3["k3"])
        & (F.col("l_suppkey") != l3["s3"])
        & (l3["d3"] > F.col("l_shipdate")),
        "left_anti",
    )
    return (
        waited.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(20)
    )


# =====================================================================
# SQL entry — correlated LATERAL top-k join
# =====================================================================


@register(
    "sql_entry_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
        SELECT c_name, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name LIMIT 3
    ) t
    """,
)
def sql_entry_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT through the
    SQL entry point — per-nation top-3 customers by balance. The SQL
    spells per-row iteration ("for each nation, run this subquery");
    Catalyst decorrelates it into a window rank over a single customer
    shuffle + a nation join — never nested-loop re-execution, the same
    physical plan the window_topk_per_group DataFrame query gets. The
    surface matters: LATERAL is how analysts express top-k-per-key,
    and the engine must plan it distributively."""
    from rs_query_engine_spark.sources.corpus import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation n, LATERAL (
            SELECT c_name, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_name LIMIT 3
        ) t
        """
    )


# =====================================================================
# Window — IGNORE NULLS forward/backward fill (imputation pair)
# =====================================================================


@register(
    "window_ignore_nulls",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               CASE WHEN o_totalprice > 400000.0 THEN o_totalprice END
                   AS big_price
        FROM orders
    )
    SELECT o_orderkey, o_custkey, big_price,
           LAST_VALUE(big_price IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ffill_price,
           FIRST_VALUE(big_price IGNORE NULLS) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS bfill_price
    FROM base
    """,
)
def window_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS window fills — the imputation pair every feature
    pipeline needs: forward-fill (last non-null big-order price seen
    so far per customer) and backward-fill (next non-null ahead),
    both over one o_custkey shuffle with opposite frames. Values are
    raw double passthroughs (exact selections, no arithmetic), so the
    whole result hash-verifies. Completes the window family next to
    ntile/lead/rank/range-frame with the null-skipping frame
    semantics none of those exercise."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.when(F.col("o_totalprice") > 400000.0, F.col("o_totalprice")).alias(
            "big_price"
        ),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wb = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    return base.select(
        "o_orderkey",
        "o_custkey",
        "big_price",
        F.last("big_price", ignorenulls=True).over(wf).alias("ffill_price"),
        F.first("big_price", ignorenulls=True).over(wb).alias("bfill_price"),
    )


# =====================================================================
# Set ops — multiset EXCEPT ALL / INTERSECT ALL
# =====================================================================


@register(
    "setop_except_all",
    oracle="""
    SELECT 'except_all' AS op, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT ALL
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'intersect_all' AS op, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT ALL
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTISET set operations — EXCEPT ALL / INTERSECT ALL keep
    per-key multiplicity (a customer with 5 open and 2 finished orders
    survives EXCEPT ALL 3 times), the semantics ``setop_intersect_
    except``'s DISTINCT variants deliberately erase. Spark plans both
    as a single count-compare aggregate per key (replicate rows
    min/diff of the two counts) — one shuffle each, no join. The
    driver's order-insensitive multiset hash verifies multiplicities
    exactly."""
    o = _t(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.exceptAll(fin).select(
        F.lit("except_all").alias("op"), "o_custkey"
    ).unionByName(
        open_.intersectAll(fin).select(
            F.lit("intersect_all").alias("op"), "o_custkey"
        )
    )


# =====================================================================
# Layout — small-file compaction planner (cumulative-size binning)
# =====================================================================

_COMPACT_TARGET_CHARS = 2000


@register(
    "layout_compaction_bins",
    oracle=f"""
    WITH sized AS (
        SELECT source, doc_id, n_chars,
               -- CAST: DuckDB SUM(BIGINT) is HUGEINT and would type
               -- the division DECIMAL (driver hash is type-sensitive)
               COALESCE(CAST(SUM(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS BIGINT), 0) AS cum_before
        FROM documents
    )
    SELECT source, doc_id, n_chars,
           cum_before // {_COMPACT_TARGET_CHARS} AS bin
    FROM sized
    """,
)
def layout_compaction_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION PLANNER — the metadata half of the
    small-files problem (sinks.compact_files is the rewrite half):
    per source, documents are packed greedily in doc_id order into
    target-char bins (_COMPACT_TARGET_CHARS) via an exclusive running
    sum, so each bin maps to one output file of roughly target size.
    All-bigint arithmetic (cumsum + floor division) — hash-exact.

    Scale shape: ONE hash shuffle on the partition key (source) and a
    per-source window sort — never a global sort (at 100 TB the
    real input is the file-listing table, millions of rows, and each
    source's listing sorts independently). The greedy-cumsum bin
    assignment is the standard compaction heuristic (bins can
    overshoot by one file — by design, it keeps assignment a pure
    window function instead of an iterative packer)."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_chars").over(w), F.lit(0).cast("bigint"))
    return d.select(
        "source",
        "doc_id",
        "n_chars",
        cum.alias("cum_before"),
    ).select(
        "source",
        "doc_id",
        "n_chars",
        F.expr(f"cum_before div {_COMPACT_TARGET_CHARS}").alias("bin"),
    )


# =====================================================================
# UDTF — Python table function with TABLE argument (the one Python
# API tier not yet exercised; VERDICT r07 next-round #1)
# =====================================================================


@register(
    "udtf_lang_runs",
    oracle=r"""
    WITH g AS (
        SELECT source, lang, doc_id,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
             - ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY doc_id)
               AS grp
        FROM documents
    )
    SELECT source, lang, MIN(doc_id) AS run_start, COUNT(*) AS run_len
    FROM g GROUP BY source, lang, grp
    """,
)
def udtf_lang_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF with a TABLE argument — the last Python execution
    tier the engine exposes (after pandas_udf / mapInPandas /
    applyInPandas / transformWithStateInPandas): a table function that
    consumes a whole ``PARTITION BY source ORDER BY doc_id`` group as
    a stateful row stream and emits run-length-encoded language runs
    (one row per maximal same-lang doc_id run) — the imperative
    state-machine shape UDTFs exist for. The oracle proves the same
    result is SQL-expressible via gaps-and-islands (two window
    row_numbers + group), which is also the honest scale note: prefer
    the window form at 100 TB (whole-stage codegen, no Python); the
    UDTF tier is for state machines SQL can't express — this query
    pins the plumbing (partitioned exchange → per-group instance →
    terminate() flush) with an exact oracle while it can.

    Scale shape: one hash exchange on the partition key, per-partition
    sort, then a single forward pass per group — no driver collect, no
    all-pairs anything."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="source string, lang string, run_start bigint, run_len bigint")
    class LangRuns:
        def __init__(self):
            self.src = None
            self.lang = None
            self.start = None
            self.n = 0

        def eval(self, row):
            # source changes only across PARTITION BY groups (fresh
            # instance per group); the guard keeps the state machine
            # correct even if a future caller drops the PARTITION BY
            if self.lang is not None and (
                row["source"] != self.src or row["lang"] != self.lang
            ):
                yield self.src, self.lang, self.start, self.n
                self.lang = None
            if self.lang is None:
                self.src = row["source"]
                self.lang = row["lang"]
                self.start = row["doc_id"]
                self.n = 0
            self.n += 1

        def terminate(self):
            if self.lang is not None:
                yield self.src, self.lang, self.start, self.n

    register_once(
        spark,
        "rsqes_lang_runs",
        lambda: spark.udtf.register("rsqes_lang_runs", LangRuns),
    )
    _t(spark, sf_dir, "documents").createOrReplaceTempView("rsqes_udtf_docs")
    return spark.sql(
        """
        SELECT * FROM rsqes_lang_runs(
            TABLE(SELECT source, lang, doc_id FROM rsqes_udtf_docs)
            PARTITION BY source ORDER BY doc_id
        )
        """
    )


# =====================================================================
# Invariant-style oracles closing the rows-only class (VERDICT r07
# "What's missing" #2): the Spark side COMPUTES each invariant over
# the engine-specific output (sketch / trained model / libm floats);
# the oracle pins the exact-arithmetic columns (counts from the same
# relations) plus the invariant verdicts. A Spark-side violation
# surfaces as a value mismatch on the boolean column.
# =====================================================================


@register(
    "agg_percentile_bounds",
    oracle="""
    SELECT CAST(t.p AS DOUBLE) AS p,
           (SELECT COUNT(*) FROM lineitem) AS n,
           true AS rank_ok
    FROM (VALUES (0.5), (0.95)) t(p)
    """,
)
def agg_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-error bound audit for ``approx_percentile`` — the
    invariant oracle for the rows-only ``agg_approx_percentile``
    (sketch outputs are engine-specific; the sketch's CONTRACT is
    not): with accuracy=10000 the returned value's rank must sit
    within ~1e-4·n of the target rank; this query recomputes the
    actual ranks of the sketch outputs exactly (COUNT of values
    <=/< the approx value) and emits the verdict per percentile at a
    50x-slack eps=0.005. The oracle pins n exactly and expects every
    verdict true — a sketch regression hash-mismatches the boolean.

    Scale shape: one pass for the sketch (mergeable, map-side
    partials), one pass for the rank recount with the two approx
    values broadcast — the audit costs two scans, no sort, where the
    exact percentile would shuffle the full value list."""
    li = _t(spark, sf_dir, "lineitem")
    eps = 0.005
    ps = [0.5, 0.95]
    appx = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx(
            "l_extendedprice", F.array(*[F.lit(p) for p in ps]), F.lit(10000)
        ).alias("ap"),
    )
    per_p = appx.select(
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(p) for p in ps]).alias("p"),
                F.col("ap").alias("approx"),
            )
        ).alias("z"),
    ).select("n", F.col("z.p").alias("p"), F.col("z.approx").alias("approx"))
    ranks = (
        li.crossJoin(F.broadcast(per_p))
        .groupBy("p", "n")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("approx"), 1).otherwise(0)
            ).alias("n_le"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("approx"), 1).otherwise(0)
            ).alias("n_lt"),
        )
    )
    nd = F.col("n").cast("double")
    rank_ok = (F.col("n_le") / nd >= F.col("p") - F.lit(eps)) & (
        F.col("n_lt") / nd <= F.col("p") + F.lit(eps)
    )
    return ranks.select("p", "n", rank_ok.alias("rank_ok"))


@register(
    "similarity_kmeans_invariants",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS k,
           COUNT(*) AS n_assigned,
           true AS trained_cost_le_seed
    FROM embeddings
    """,
)
def similarity_kmeans_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-quality invariants for the rows-only
    ``similarity_ivf_kmeans`` (trained centers are iteration-order
    floats; the TRAINING CONTRACT is checkable): (1) the trainer
    returns exactly k centroids, (2) every corpus vector gets an
    assignment, (3) the trained centers' total squared-euclidean
    assignment cost is <= the cost of the fixed seed centroids
    (vec_id<8 — the deterministic stand-in the oracled IVF queries
    use): k-means exists to beat arbitrary seeds, and a trainer
    regression (bad seed plumbing, wrong distance, early stop) flips
    the boolean and hash-mismatches. The comparison carries a 1e-9
    RELATIVE slack (ADVICE r08): Spark-ML k-means|| initializes from
    its own seed, not the vec_id<8 seeds, so '<=' is a strong
    empirical property rather than a monotonicity theorem, and both
    costs are order-dependent distributed double sums — the slack
    absorbs a summation-order near-tie without weakening the check
    (a real trainer regression misses by orders of magnitude more).

    Scale shape: both cost passes broadcast the (k x dim) centers and
    fold min-distance per vector map-side — two corpus scans, one
    1-row aggregate each, no corpus shuffle."""
    from rs_query_engine_spark.operators.similarity import (
        _as_double,
        kmeans_centroids,
    )

    e = _t(spark, sf_dir, "embeddings").transform(truncate_lineage)
    trained = kmeans_centroids(e, k=8, max_iter=10)
    seeds = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        _as_double(F.col("embedding")).alias("centroid_vec"),
    )

    def total_cost(cents: DataFrame) -> DataFrame:
        dist2 = F.aggregate(
            F.zip_with(
                _as_double(F.col("embedding")),
                F.col("centroid_vec"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            e.crossJoin(F.broadcast(cents))
            .groupBy("vec_id")
            .agg(F.min(dist2).alias("d2"))
            .agg(
                F.count(F.lit(1)).alias("n_assigned"),
                F.sum("d2").alias("cost"),
            )
        )

    tc = total_cost(trained).select(
        F.col("n_assigned"), F.col("cost").alias("trained_cost")
    )
    sc = total_cost(seeds).select(F.col("cost").alias("seed_cost"))
    kc = trained.agg(F.count(F.lit(1)).alias("k"))
    return (
        kc.crossJoin(tc)
        .crossJoin(sc)
        .select(
            "k",
            "n_assigned",
            (
                F.col("trained_cost") <= F.col("seed_cost") * (1.0 + 1e-9)
            ).alias("trained_cost_le_seed"),
        )
    )


@register(
    "text_unigram_invariants",
    oracle=r"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents
    ), vocab AS (
        SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok
    )
    SELECT COUNT(*) AS vocab_size,
           CAST(SUM(cnt) AS BIGINT) AS total_tokens,
           true AS prob_mass_ok,
           true AS ce_positive_ok
    FROM vocab
    """,
)
def text_unigram_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-sanity invariants for the rows-only
    ``text_unigram_logprob`` (per-token ln / per-doc mean are libm
    floats; the LM's CONTRACT is exact): vocab_size and total_tokens
    are exact bigints the oracle recomputes from the same whitespace
    tokenization; the unigram probability mass must sum to 1 (float
    tolerance 1e-6, ADVICE r08 — the cnt/total summands accumulate
    ~sqrt(vocab)·ulp of rounding, so a corpus-growth-proof bound must
    sit far above that while a wrong denominator or a dropped token
    class still misses by whole probability mass); every document's
    cross-entropy must be
    positive (-ln p > 0 whenever the vocabulary has >1 token). The
    booleans ride the oracle hash: an LM regression flips them.

    Scale shape: one vocabulary aggregate (map-side partials), the
    1-row total broadcast back over the vocab for the mass sum, and
    the production logprob pipeline itself for the per-doc check —
    the audit adds one vocab-sized pass to the model build."""
    from rs_query_engine_spark.functions.text import tokens
    from rs_query_engine_spark.queries import text_unigram_logprob
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    toks = spread(d).select(F.explode(tokens(F.col("text"))).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    stats = vocab.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("cnt").alias("total_tokens"),
    )
    mass = (
        vocab.crossJoin(F.broadcast(stats.select("total_tokens")))
        .agg(
            F.sum(
                F.col("cnt").cast("double") / F.col("total_tokens")
            ).alias("mass")
        )
    )
    ce_min = text_unigram_logprob(spark, sf_dir).agg(
        F.min("cross_entropy").alias("ce_min")
    )
    return (
        stats.crossJoin(mass)
        .crossJoin(ce_min)
        .select(
            "vocab_size",
            "total_tokens",
            (F.abs(F.col("mass") - 1.0) < 1e-6).alias("prob_mass_ok"),
            (F.col("ce_min") > 0.0).alias("ce_positive_ok"),
        )
    )
