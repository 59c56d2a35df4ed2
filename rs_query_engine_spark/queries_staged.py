"""Queries added in round 5 (live since round 6), all with exact
oracles: corpus splits, top-p and importance sampling, DSIR weights,
quality calibration, tokenizer fertility and language-ID confusion;
count-min heavy hitters, frequent item pairs and the MinHash estimate;
Z-order clustering; the nearest as-of join; sequence patterns, Markov
transitions and interpolated resampling over events; triangle counts
and hierarchy rollups; Matryoshka recall; a SQL window entry; and the
stream-static enrichment join.

Float-determinism discipline is the same as ``queries.py`` (see its
module docstring): exact integer/decimal arithmetic wherever a value
feeds the cross-engine hash, raw row-level double ops only where both
engines execute the identical IEEE sequence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from rs_query_engine_spark.session import truncate_lineage

from rs_query_engine_spark.queries import _MH_BANDS, _MH_SIG, D_PRICE, _t, _ORACLE, register

# =====================================================================
# Corpus management — splits, mixtures, calibration
# =====================================================================


@register(
    "sample_split_assign",
    oracle="""
    SELECT doc_id, source,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, source,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                   % 100 AS b
        FROM documents
    )
    """,
)
def sample_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split assignment (90/5/5): every
    document gets exactly one split from its content-hash bucket — the
    DISJOINT-AND-COVERING twin of the Bernoulli samplers (which filter;
    this partitions). Split membership is a pure function of doc_id,
    so it is stable under re-runs, repartitioning, engine swaps, and
    incremental corpus growth (new docs join splits at the same rates
    without reshuffling old ones) — the property that keeps eval sets
    frozen while the training set grows. Map-only; the CASE compiles
    into the scan projection, no shuffle at any scale."""
    from rs_query_engine_spark.operators.sorts import _hash_pct

    d = _t(spark, sf_dir, "documents")
    b = _hash_pct(F.col("doc_id"))
    split = (
        F.when(b < 90, F.lit("train"))
        .when(b < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return d.select("doc_id", "source", split.alias("split"))


@register(
    "sample_topp_nucleus",
    oracle="""
    WITH s AS (
        SELECT doc_id, source, n_chars,
               CAST(SUM(n_chars) OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_mass,
               CAST(SUM(n_chars) OVER (PARTITION BY source) AS BIGINT)
                   AS total_mass
        FROM documents
    )
    SELECT doc_id, source, n_chars, cum_mass,
           CAST(cum_mass AS DOUBLE) / CAST(total_mass AS DOUBLE) AS mass_frac
    FROM s
    WHERE (cum_mass - n_chars) * 100 < 80 * total_mass
    """,
)
def sample_topp_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) corpus selection per source: rank documents by
    quality (length proxy, descending) and keep the smallest prefix
    covering 80% of each source's total character mass — the mixture-
    construction step that keeps the best of every source while
    clipping its low-quality tail, by MASS rather than by count (a
    count cutoff over-keeps short junk; a mass cutoff is what the
    token budget actually buys).

    Exactness: cumulative and total masses are BIGINT sums, the keep
    decision is pure integer arithmetic (``(cum−n)·100 < 80·total`` —
    the doc that CROSSES the threshold is kept, nucleus-style), and
    only the reported ``mass_frac`` touches doubles (one exact
    int→double conversion each, one division — bit-identical cross-
    engine). Scale: both window frames share ONE partition+order spec,
    so Catalyst evaluates them in a single Window operator over a
    single shuffle+sort of (source)-partitioned rows; no global sort,
    no driver loop."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    cum = (
        F.sum("n_chars")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_mass")
    )
    total = F.sum("n_chars").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    s = d.select("doc_id", "source", "n_chars", cum, total.alias("_total"))
    return s.filter(
        (F.col("cum_mass") - F.col("n_chars")) * 100 < 80 * F.col("_total")
    ).select(
        "doc_id",
        "source",
        "n_chars",
        "cum_mass",
        (
            F.col("cum_mass").cast("double") / F.col("_total").cast("double")
        ).alias("mass_frac"),
    )


@register(
    "text_quality_calibrate",
    oracle=r"""
    WITH s AS (
        SELECT doc_id, source,
               CAST(len(list_distinct(regexp_split_to_array(lower(text),
                                                            '\s+'))) AS BIGINT)
                   * 1000
               + CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT)
                   AS score
        FROM documents
    )
    SELECT doc_id, source, score,
           percent_rank() OVER (PARTITION BY source
                                ORDER BY score, doc_id) AS pctl,
           least(9, CAST(floor(percent_rank() OVER (PARTITION BY source
                                                    ORDER BY score, doc_id)
                               * 10.0) AS BIGINT)) AS decile
    FROM s
    """,
)
def text_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-score CALIBRATION: raw quality scores are not
    comparable across sources (a median web page and a median reference
    doc score differently), so mixture policies threshold on the
    within-source percentile instead. Score is an exact integer proxy
    (type-token richness ×1000 + token count); ``percent_rank`` over
    (source, score, doc_id) is (rank−1)/(n−1) — rank arithmetic plus
    ONE double division, bit-identical cross-engine; the decile is its
    floor (ties broken by doc_id make the rank total, so no
    percent_rank plateau ambiguity). One shuffle on source, one sort,
    both window functions in one Window operator. At 100 TB the
    per-source sort is the cost — if a single source dominates, the
    production variant swaps exact percent_rank for a per-source
    quantile sketch; this exact form doubles as that sketch's
    calibration oracle."""
    from rs_query_engine_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    score = (
        F.size(F.array_distinct(t)).cast("bigint") * 1000
        + F.size(t).cast("bigint")
    ).alias("score")
    s = d.select("doc_id", "source", score)
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    pctl = F.percent_rank().over(w)
    return s.select(
        "doc_id",
        "source",
        "score",
        pctl.alias("pctl"),
        F.least(F.lit(9), F.floor(pctl * 10.0)).alias("decile"),
    )


# shared CTE chain: tokens → 1024 md5 feature buckets → per-bucket
# target/total counts → per-doc masses and weight. Used by BOTH the
# weights oracle and the resampling oracle (whose Spark side composes
# by calling text_dsir_weights — the oracle side must compose through
# this single definition too, or the two SQL copies drift).
_DSIR_WEIGHTS_CTES = r"""tok AS (
        SELECT doc_id, lang,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents
    ), b AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(t), 1, 8))::BIGINT % 1024 AS bucket
        FROM tok
    ), stats AS (
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_all,
               CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT)
                   AS n_tgt
        FROM b GROUP BY bucket
    ), w AS (
        SELECT b.doc_id,
               CAST(SUM(s.n_tgt) AS BIGINT) AS tgt_mass,
               CAST(SUM(s.n_all) AS BIGINT) AS all_mass,
               CAST(CAST(SUM(s.n_tgt) AS BIGINT) AS DOUBLE)
                   / CAST(CAST(SUM(s.n_all) AS BIGINT) AS DOUBLE) AS weight
        FROM b JOIN stats s USING (bucket)
        GROUP BY b.doc_id
    )"""


@register(
    "text_dsir_weights",
    oracle=f"""
    WITH {_DSIR_WEIGHTS_CTES}
    SELECT doc_id, tgt_mass, all_mass, weight FROM w
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-flavored importance weighting (Xie et al., 2023: Data
    Selection via Importance Resampling): score every document by how
    much its hashed n-gram feature mass comes from the TARGET
    distribution (here: lang='en' documents as the target domain).
    Tokens hash into 1024 feature buckets; per bucket the corpus pass
    counts total and target occurrences; a document's weight is
    Σ n_tgt(bucket(t)) / Σ n_all(bucket(t)) over its tokens — high
    when its vocabulary concentrates where the target's does. (True
    DSIR exponentiates a log-likelihood ratio; the ratio-of-masses
    form keeps every hashed feature and stays in exact integer
    arithmetic until one final division, so it is hash-verifiable
    cross-engine — libm-free by design.)

    Scale: the feature table is ≤1024 rows — BROADCAST — so the
    per-token join is map-side; both aggregations are hash aggregates
    with map-side partials. Two passes over the token stream, zero
    all-pairs anything."""
    from rs_query_engine_spark.functions.hashing import md5_bucket
    from rs_query_engine_spark.functions.text import tokens
    from rs_query_engine_spark.sources.corpus import spread

    d = spread(_t(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("t")
    )
    b = tok.select(
        "doc_id", "lang", md5_bucket(F.col("t"), 1024).alias("bucket")
    )
    stats = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("n_tgt"),
    )
    per_doc = (
        b.join(F.broadcast(stats), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tgt").alias("tgt_mass"),
            F.sum("n_all").alias("all_mass"),
        )
    )
    return per_doc.select(
        "doc_id",
        "tgt_mass",
        "all_mass",
        (
            F.col("tgt_mass").cast("double") / F.col("all_mass").cast("double")
        ).alias("weight"),
    )


# =====================================================================
# Sketches — Count-Min heavy hitters (exact-verified)
# =====================================================================


@register(
    "agg_countmin_heavy",
    oracle=r"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS t
        FROM documents
    ), cells AS (
        SELECT r.j,
               ('0x' || substr(md5(r.j || '|' || tok.t), 1, 8))::BIGINT % 64
                   AS bucket
        FROM tok, (VALUES (0), (1), (2)) r(j)
    ), sketch AS (
        SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c
        FROM cells GROUP BY j, bucket
    ), exact AS (
        SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS exact_n
        FROM tok GROUP BY t
    ), heavy AS (
        SELECT token, exact_n FROM exact
        WHERE exact_n * 200 >= (SELECT COUNT(*) FROM tok)
    ), est AS (
        SELECT h.token, MIN(s.c) AS cm_est
        FROM heavy h, (VALUES (0), (1), (2)) r(j)
        JOIN sketch s
          ON s.j = r.j
         AND s.bucket =
             ('0x' || substr(md5(r.j || '|' || h.token), 1, 8))::BIGINT % 64
        GROUP BY h.token
    )
    SELECT h.token, h.exact_n, e.cm_est, e.cm_est - h.exact_n AS overcount
    FROM heavy h JOIN est e USING (token)
    """,
)
def agg_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters with an EXACT verification join: build a
    3×64 Count-Min grid over the corpus token stream
    (``operators.sketches``), estimate the frequency of every token
    whose true share is ≥0.5%, and report estimate vs exact count. The
    overcount column is ≥0 for every row BY CONSTRUCTION (collisions
    only add) — a cross-engine-hashable witness of the sketch's
    one-sided error, the same convert-ran-into-provably-right pattern
    as ``agg_freq_items``.

    Why it matters at 100 TB: the grid is a ``depth × width`` partial
    aggregate that merges cell-wise — per-partition/day/source sketches
    roll up without touching raw data, and the grid (192 cells) is
    broadcast for estimation, so probing costs one map-side join. The
    deterministic md5 rows make the whole pipeline — grid AND
    estimates — bit-reproducible, which production monitoring wants
    (alert thresholds on estimates must not flap across reruns).

    Plan shape: ONE aggregation over the token stream (term
    frequencies, map-side partials collapse it to |vocab| rows per
    task) feeds everything — the grid is rebuilt from the counts
    (``countmin_sketch_from_counts``, cell-wise identical by
    associativity), the total is their sum, and the heavy set is a
    broadcast-scalar filter. The raw stream is never materialized; in
    a pure streaming context with no exact aggregate, the grid builds
    directly as the one-pass mergeable partial instead
    (``countmin_sketch``)."""
    from rs_query_engine_spark.functions.text import tokens
    from rs_query_engine_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketch_from_counts,
    )
    from rs_query_engine_spark.sources.corpus import spread

    d = spread(_t(spark, sf_dir, "documents"))
    tok = d.select(F.explode(tokens(F.col("text"))).alias("t"))
    # vocab-sized frame, consumed by sketch + total + heavy filter
    exact = (
        tok.groupBy(F.col("t").alias("token"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .transform(truncate_lineage)
    )
    sketch = countmin_sketch_from_counts(
        exact, "token", "exact_n", depth=3, width=64
    )
    total = exact.agg(F.sum("exact_n").alias("_total"))
    heavy = exact.join(F.broadcast(total)).filter(
        F.col("exact_n") * 200 >= F.col("_total")
    )
    est = countmin_estimate(sketch, heavy, "token", depth=3, width=64)
    return (
        heavy.join(est, "token")
        .select(
            "token",
            "exact_n",
            "cm_est",
            (F.col("cm_est") - F.col("exact_n")).alias("overcount"),
        )
    )


# =====================================================================
# Data layout — Z-order clustering for scan pruning
# =====================================================================


@register(
    "layout_zorder_cluster",
    oracle=None,  # generated below (bit-interleave terms shared with Spark)
)
def layout_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout rewrite, measured: interleave the low 8 bits of
    (l_partkey mod 256, l_suppkey mod 256) into a Morton code, assign
    rows to 256 target files by the code's high bits (a range
    partitioning of the curve), and emit each file's row count and
    min/max span in BOTH dimensions — exactly the parquet footer
    statistics a scan would prune on after ``OPTIMIZE ZORDER BY
    (l_partkey, l_suppkey)``. Narrow spans in both columns ⇒ a
    predicate on EITHER column skips most files; a plain sort would
    give one narrow span and one full-range span.

    All integer bit arithmetic (shift/mask/add of disjoint bit terms),
    so the layout decision hash-verifies cross-engine. Map-only
    until one hash aggregate with map-side partials (256 groups);
    production follows with ``repartitionByRange(z).
    sortWithinPartitions(z)`` before the write — the decision logic is
    identical, only the sink differs."""
    from rs_query_engine_spark.operators.layout import zorder_file_stats

    li = _t(spark, sf_dir, "lineitem")
    return zorder_file_stats(
        li,
        (F.col("l_partkey") % 256).alias("x"),
        (F.col("l_suppkey") % 256).alias("y"),
        bits=8,
        file_shift=8,
    )


def _zorder_oracle() -> str:
    from rs_query_engine_spark.operators.layout import zorder_key_sql

    z = zorder_key_sql("(l_partkey % 256)", "(l_suppkey % 256)", bits=8)
    return f"""
    WITH t AS (
        SELECT (l_partkey % 256) AS x, (l_suppkey % 256) AS y,
               ({z}) AS z
        FROM lineitem
    )
    SELECT z >> 8 AS file_id, COUNT(*) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM t GROUP BY file_id
    """


_ORACLE["layout_zorder_cluster"] = _zorder_oracle()


# =====================================================================
# Joins — nearest as-of with tolerance
# =====================================================================


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (
        SELECT user_id, ts AS p_ts,
               MAX(event_id) AS p_event_id,
               ARG_MAX(value, event_id) AS p_value
        FROM events WHERE event_type = 'error'
        GROUP BY user_id, ts
    ), e AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ), b AS (
        SELECT e.event_id, p.p_ts, p.p_event_id, p.p_value
        FROM e ASOF LEFT JOIN p
          ON e.user_id = p.user_id AND e.ts >= p.p_ts
    ), f AS (
        SELECT e.event_id, p.p_ts, p.p_event_id, p.p_value
        FROM e ASOF LEFT JOIN p
          ON e.user_id = p.user_id AND e.ts <= p.p_ts
    ), j AS (
        SELECT e.event_id, e.user_id, e.ts,
               b.p_ts AS b_ts, b.p_event_id AS b_eid, b.p_value AS b_val,
               f.p_ts AS f_ts, f.p_event_id AS f_eid, f.p_value AS f_val,
               epoch_us(e.ts) - epoch_us(b.p_ts) AS db,
               epoch_us(f.p_ts) - epoch_us(e.ts) AS df,
               COALESCE(b.p_ts IS NOT NULL
                        AND epoch_us(e.ts) - epoch_us(b.p_ts) <= 3600000000,
                        FALSE) AS ok_b,
               COALESCE(f.p_ts IS NOT NULL
                        AND epoch_us(f.p_ts) - epoch_us(e.ts) <= 3600000000,
                        FALSE) AS ok_f
        FROM e JOIN b USING (event_id) JOIN f USING (event_id)
    ), s AS (
        SELECT *,
               CASE WHEN ok_b AND (NOT ok_f OR db <= df) THEN 'b'
                    WHEN ok_f THEN 'f' END AS matched_side
        FROM j
    )
    SELECT event_id, user_id, ts,
           CASE matched_side WHEN 'b' THEN b_ts WHEN 'f' THEN f_ts END
               AS p_ts,
           CASE matched_side WHEN 'b' THEN b_eid WHEN 'f' THEN f_eid END
               AS p_event_id,
           CASE matched_side WHEN 'b' THEN b_val WHEN 'f' THEN f_val END
               AS p_value,
           matched_side,
           CASE matched_side WHEN 'b' THEN db WHEN 'f' THEN df END
               AS dist_us
    FROM s
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join with a tolerance: each purchase event pairs
    with that user's closest error event within ±1 hour, whichever
    direction is nearer (ties prefer the earlier side) — the
    incident-correlation query ("which purchases happened next to an
    error?") that backward-only as-of cannot express. Uses
    ``operators.joins.asof_join_nearest``: union + ONE key-partitioned
    sort, backward candidate as ``last()`` over the preceding frame
    and forward candidate as ``first()`` over the following frame of
    the SAME window spec — one exchange, no pair explosion, unlike the
    naive |Δt|-argmin formulation which builds every (purchase, error)
    pair per user before aggregating. The oracle replays the decision
    with two DuckDB ASOF joins + the identical integer-microsecond
    CASE. Distances are exact epoch-microsecond differences
    (``unix_micros``, never second-truncating)."""
    from rs_query_engine_spark.operators.joins import asof_join_nearest

    ev = _t(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    p = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(
            F.max("event_id").alias("p_event_id"),
            F.max_by("value", "event_id").alias("p_value"),
        )
    )
    return asof_join_nearest(
        e, p, by=["user_id"], left_ts="ts", right_ts="p_ts",
        tolerance_us=3_600_000_000,
    )


# =====================================================================
# Events — CEP-style sequence pattern over ordered event strings
# =====================================================================


@register(
    "events_sequence_pattern",
    oracle="""
    WITH s AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
               string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           length(seq) AS seq_len,
           regexp_matches(seq, '(^|,)signup(,[^,]+)*,purchase(,|$)')
               AS signup_then_purchase,
           len(list_filter(regexp_split_to_array(seq, ','),
                           t -> t = 'purchase'))
               AS n_purchases
    FROM s
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style SEQUENCE-PATTERN match (the MATCH_RECOGNIZE shape):
    serialize each user's event types in exact event-time order and
    run a regular expression over the sequence string — here
    "signup eventually followed by purchase" — plus a purchase count
    from exact string arithmetic. Complements ``events_funnel`` (which
    computes per-stage timestamps): the regex form expresses ordering
    constraints funnels cannot (immediately-follows, bounded gaps via
    ``(,[^,]+){0,k}``, alternation) with one aggregation.

    Determinism: ``collect_list`` order is partition-dependent, so the
    struct array is ``array_sort``-ed on (ts, event_id, type) — a
    total order both engines share — before serialization; the pattern
    uses no backreferences/lookarounds, the portable regex subset Java
    and RE2 treat identically; the count filters delimiter-bounded
    tokens (robust to event types that contain another type as a
    substring). Scale: one groupBy shuffle; per-user
    sequence strings are KB-scale state, the same cost class as
    collect_list session analyses; the regex runs once per user,
    JVM-side."""
    e = _t(spark, sf_dir, "events")
    ordered = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    s = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(ordered, lambda x: x["event_type"]), ","
        ).alias("seq"),
    )
    return s.select(
        "user_id",
        "n_events",
        F.length("seq").alias("seq_len"),
        F.col("seq")
        .rlike("(^|,)signup(,[^,]+)*,purchase(,|$)")
        .alias("signup_then_purchase"),
        # delimiter-bounded token count, NOT substring arithmetic — a
        # vocabulary containing 'purchase' as a substring of another
        # type (e.g. 'purchase_refund') must not inflate the count
        F.size(
            F.filter(F.split("seq", ","), lambda t: t == F.lit("purchase"))
        )
        .cast("bigint")
        .alias("n_purchases"),
    )


# =====================================================================
# Aggregation — market-basket co-occurrence (association rules)
# =====================================================================


@register(
    "agg_itemset_pairs",
    oracle="""
    WITH i AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM i
    ), ic AS (
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM i GROUP BY l_partkey
    ), p AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM i a JOIN i b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), pc AS (
        SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support
        FROM p GROUP BY part_a, part_b
        HAVING COUNT(*) >= 3
    )
    SELECT pc.part_a, pc.part_b, pc.support,
           ia.n_item AS n_a, ib.n_item AS n_b,
           CAST(pc.support AS DOUBLE) / CAST(ia.n_item AS DOUBLE)
               AS confidence,
           CAST(pc.support * n.n_orders AS DOUBLE)
               / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift
    FROM pc
    JOIN ic ia ON pc.part_a = ia.l_partkey
    JOIN ic ib ON pc.part_b = ib.l_partkey
    CROSS JOIN n
    """,
)
def agg_itemset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET pair mining (frequent itemsets, size 2): parts
    co-ordered in ≥3 orders, with support, confidence(a→b) and lift —
    the association-rule primitives (and the A-priori first pass:
    frequent k-itemsets extend these pairs). Baskets are collected per
    order and pairs expanded WITHIN each basket array (the
    ``_pairs_within`` dedup pattern) — one groupBy shuffle, pair
    blow-up bounded by the per-order item count (≤7 on TPC-H shapes,
    a contract real catalogs obey), never a corpus-level self-join.
    Item counts and the order total are exact BIGINTs; confidence and
    lift are single divisions of exact integer products (< 2^53), so
    the whole rule table hash-verifies. The item-count side grows with
    the CATALOG (one row per distinct part), so it is NOT
    force-broadcast — AQE broadcasts it while it fits and falls back
    to a shuffle join at catalog scale; only the 1-row order total
    rides a broadcast cross-join.

    Plan shape: one distinct + one groupBy(order) shuffle produce the
    basket frame, and EVERYTHING derives from it — item counts by
    re-exploding the (order-count-sized) baskets, the order total as
    its count — so the checkpoint holds |orders| small arrays, never
    the raw line-item rows."""
    baskets_all = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_list("l_partkey")).alias("items"))
        .transform(truncate_lineage)  # feeds pairs, item counts, and the total
    )
    baskets = baskets_all.filter(F.size("items") > 1)
    # items are array_sort-ed, so the helper's least/greatest ordering
    # is a no-op and each pair is (smaller part, larger part)
    from rs_query_engine_spark.operators.dedup import pairs_within_ids

    pairs = baskets.select(
        F.explode(
            pairs_within_ids(F.col("items"), "part_a", "part_b")
        ).alias("p")
    ).select("p.*")
    pc = (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    # items are distinct per order (the distinct() above), so the
    # re-explode counts orders-containing-part exactly
    ic = (
        baskets_all.select(F.explode("items").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_item"))
    )
    n = baskets_all.select(F.count(F.lit(1)).alias("n_orders"))
    ia = ic.select(F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = ic.select(F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b"))
    return (
        pc.join(ia, "part_a")
        .join(ib, "part_b")
        .join(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            "n_a",
            "n_b",
            (F.col("support").cast("double") / F.col("n_a").cast("double")).alias(
                "confidence"
            ),
            (
                (F.col("support") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


# =====================================================================
# Dedup — MinHash estimate accuracy audit
# =====================================================================


def _minhash_est_oracle() -> str:
    # every tunable fragment derives from the dedup.py production
    # constants (same pattern as layout.zorder_key_sql): changing
    # MINHASH_NUM_HASHES / MINHASH_MAX_BUCKET regenerates the
    # signature-match sum, the /k divisor, and the bucket-cap window
    # by construction instead of desyncing a hand-inlined copy
    from rs_query_engine_spark.operators.dedup import (
        MINHASH_MAX_BUCKET,
        MINHASH_NUM_HASHES,
    )

    k = MINHASH_NUM_HASHES
    est = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    jac = (
        "CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
        " / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))"
    )
    return rf"""
    WITH sh AS (
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
        FROM sh WHERE len(sh) > 0
    ), sig AS (
        SELECT doc_id, sh,
               {_MH_SIG}
        FROM hashed
    ), banded AS (
        SELECT doc_id, b.* FROM sig,
        LATERAL (VALUES {_MH_BANDS}) AS b(band, key)
    ), banded_ok AS (
        SELECT * FROM banded
        QUALIFY COUNT(*) OVER (PARTITION BY band, key)
                BETWEEN 2 AND {MINHASH_MAX_BUCKET}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded_ok a JOIN banded_ok b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           {jac} AS jaccard,
           ({est}) / {float(k)} AS est_jaccard,
           ({est}) / {float(k)} - {jac} AS err
    FROM cand c
    JOIN sig a ON c.id_a = a.doc_id
    JOIN sig b ON c.id_b = b.doc_id
    """


@register("dedup_minhash_estimate", oracle=None)
def dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash SKETCH-ACCURACY audit: for every LSH candidate pair,
    the signature-based Jaccard estimate (matching components / 16)
    next to the exact shingle Jaccard and the signed error — the query
    that answers "is 16 hashes enough for this corpus?" before anyone
    trusts the sketch at 100 TB (E[est] = J, σ = √(J(1−J)/k); widening
    k is a config change, and this audit is the regression test for
    it). Runs on the candidate set the LSH banding already produces —
    the sampled-but-deterministic subset where near-dup decisions
    actually happen — so the audit costs one extra signature join, not
    an all-pairs pass.

    Everything hash-verifies: signatures are the md5-affine family
    mirrored literal-for-literal by the oracle (same fragments as
    ``dedup_minhash_lsh``), the estimate divides an integer match
    count by 16.0 (a power of two — exact), and the error is one
    double subtraction of two exactly-derived doubles."""
    from rs_query_engine_spark.functions.text import shingles
    from rs_query_engine_spark.operators.dedup import (
        MINHASH_NUM_HASHES,
        _minhash_from_shingles,
        banded_candidate_pairs,
        minhash_band_keys,
    )
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    k = MINHASH_NUM_HASHES
    # size-filter AFTER the checkpoint (r19, guide §2.4): pushed below
    # the projection it doubled the shingle-chain eval during the one
    # materialization pass; post-checkpoint it reads the stored column.
    # Empty-sh docs briefly ride the checkpoint with the sentinel
    # signature and are dropped before any consumer — same rows out.
    base = (
        spread(d)
        .select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(shingles(F.col("text"), 3)).alias("_sh"),
        )
        .select("_id", "_sh", _minhash_from_shingles(F.col("_sh"), k).alias("_sig"))
        .transform(truncate_lineage)  # consumed by banding + both audit joins
        .filter(F.size("_sh") > 0)
    )
    # the candidate set under audit IS the production one: same band
    # keys, same bucket cap, same pairing helpers and constants as
    # minhash_lsh_pairs — a tuning change there is what gets audited
    banded = base.select(
        "_id", F.explode(minhash_band_keys(F.col("_sig"))).alias("bk")
    ).select("_id", "bk.band", "bk.key")
    pairs = banded_candidate_pairs(banded)
    a = base.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"), F.col("_sig").alias("sig_a")
    )
    b = base.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"), F.col("_sig").alias("sig_b")
    )
    cand = b.join(a.join(pairs, "id_a"), "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    est = matches / F.lit(float(k))
    return cand.select(
        "id_a",
        "id_b",
        jac.alias("jaccard"),
        est.alias("est_jaccard"),
        (est - jac).alias("err"),
    )


_ORACLE["dedup_minhash_estimate"] = _minhash_est_oracle()


# =====================================================================
# Graph — triangle counting over the near-dup pair graph
# =====================================================================


def _triangle_oracle() -> str:
    from rs_query_engine_spark.queries import _MH_PAIRS_CTES

    return rf"""
    WITH {_MH_PAIRS_CTES},
    e AS (SELECT id_a AS a, id_b AS b FROM pairs),
    tri AS (
        SELECT ab.a AS x, ab.b AS y, bc.b AS z
        FROM e ab
        JOIN e bc ON ab.b = bc.a
        JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
    ), tn AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (SELECT unnest([x, y, z]) AS n FROM tri) GROUP BY n
    ), deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS deg
        FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
        GROUP BY n
    )
    SELECT deg.n AS node, deg.deg,
           COALESCE(tn.n_tri, 0) AS n_tri,
           CASE WHEN deg.deg >= 2 THEN
               CAST(2 * COALESCE(tn.n_tri, 0) AS DOUBLE)
                   / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
           END AS clustering_coeff
    FROM deg LEFT JOIN tn ON deg.n = tn.n
    """


@register("graph_triangle_count", oracle=None)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING + local clustering coefficient over the
    near-dup pair graph: for every node in the MinHash-LSH edge list,
    its degree, triangle count, and clustering coefficient
    2T/(deg·(deg−1)) — the graph statistic that separates template
    FAMILIES (dup clusters are near-cliques, coefficient → 1) from
    accidental CHAINS (coefficient → 0), which changes the dedup
    policy: cliques keep one canonical doc, chains need pairwise
    review because transitivity was never established.

    The compact-forward algorithm on canonically ORIENTED edges
    (id_a < id_b, the form LSH pairs already have): wedges from one
    self-equi-join on the middle node, closed by a second equi-join on
    the (lo, hi) endpoints — each triangle found exactly once, never
    an all-pairs expansion. At 100 TB orient by (degree, id) instead
    of raw id so high-degree hubs terminate wedges (the standard skew
    fix; the plumbing is identical). One double division for the
    coefficient; all counts exact BIGINTs."""
    from rs_query_engine_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    e = (
        minhash_lsh_pairs(d, "doc_id", "text")
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .transform(truncate_lineage)  # consumed 5× (two join sides, closer, degrees)
    )
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"])
    tn = (
        tri.select(
            F.explode(F.array("x", "y", "z")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    j = deg.join(tn, "node", "left").select(
        "node", "deg", F.coalesce(F.col("n_tri"), F.lit(0)).alias("n_tri")
    )
    coeff = F.when(
        F.col("deg") >= 2,
        (2 * F.col("n_tri")).cast("double")
        / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
    )
    return j.select("node", "deg", "n_tri", coeff.alias("clustering_coeff"))


_ORACLE["graph_triangle_count"] = _triangle_oracle()


# =====================================================================
# Corpus management — DSIR resampling (weights → sampled corpus)
# =====================================================================


@register(
    "sample_importance_resample",
    oracle=f"""
    WITH {_DSIR_WEIGHTS_CTES}
    SELECT doc_id, weight FROM w
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 1000000
          < weight * 1000000.0
    """,
)
def sample_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR pipeline's SECOND half: turn the target-affinity
    weights of ``text_dsir_weights`` into an actual resampled corpus —
    keep each document with probability equal to its weight, via the
    content-hash Bernoulli of ``operators.sorts.sample_weighted_hash``
    (u = md5(doc_id) in 1e6 buckets < weight·1e6, the exact expression
    the oracle mirrors). Composition is the point: weights stage →
    deterministic resample stage, both engine-portable, so the
    resampled training mixture is reproducible end-to-end — rerunning
    on a grown corpus re-keeps the same old docs (weights move only
    with the bucket statistics). Same plan as the weights query plus
    one map-side filter; nothing new shuffles."""
    from rs_query_engine_spark.operators.sorts import sample_weighted_hash

    w = text_dsir_weights(spark, sf_dir)
    return sample_weighted_hash(
        w, F.col("doc_id"), F.col("weight")
    ).select("doc_id", "weight")


# =====================================================================
# SQL entry — window functions through the SQL surface
# =====================================================================


# ONE SQL text for both engines — the query's whole point is that the
# SAME string runs through Spark's SQL entry and the DuckDB oracle, so
# it is defined once (editing a forked copy would silently turn the
# same-text check into a two-text check)
_SQL_WINDOW_TOPK = """
    SELECT o_custkey, o_orderkey, o_totalprice, rn,
           CAST(cust_total AS DOUBLE) AS cust_total
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                   AS rn,
               SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                   OVER (PARTITION BY o_custkey) AS cust_total
        FROM orders
    )
    WHERE rn <= 3
    """


@register("sql_entry_window", oracle=_SQL_WINDOW_TOPK)
def sql_entry_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions through the SQL ENTRY POINT: top-3 orders per
    customer with the customer's decimal-exact lifetime total, issued
    as a SQL string over registered temp views — proving the second
    entry surface covers the window family too (the reference's
    builder has no windows at all; SURVEY §2.6). The IDENTICAL string
    (``_SQL_WINDOW_TOPK``) is the DuckDB oracle. Both window functions
    share one (o_custkey) partitioning — one exchange — and the
    ROW_NUMBER filter is the classic top-k-per-group pattern that at
    100 TB beats a global sort by never materializing more than k rows
    per key past the window."""
    from rs_query_engine_spark.sources.corpus import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(_SQL_WINDOW_TOPK)


# =====================================================================
# Similarity — Matryoshka truncation recall audit
# =====================================================================


def _matryoshka_oracle() -> str:
    from rs_query_engine_spark.queries import _COS_SQL

    def ranked(alias: str, dim: int) -> str:
        cos = _COS_SQL.format(a=f"corpus.v[1:{dim}]", b=f"q.qv[1:{dim}]")
        return f"""{alias} AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, corpus.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                                      ORDER BY {cos} DESC, corpus.vec_id)
                       AS rnk
            FROM corpus, q
        ) WHERE rnk <= 10
    )"""

    return f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM corpus
        WHERE vec_id % 100 = 0
    ), {ranked("t16", 16)}, {ranked("t64", 64)},
    c AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM t16 JOIN t64 USING (query_id, vec_id)
        GROUP BY query_id
    )
    SELECT q.query_id,
           COALESCE(c.n_common, 0) AS n_common,
           CAST(COALESCE(c.n_common, 0) AS DOUBLE) / 10.0 AS recall
    FROM q LEFT JOIN c USING (query_id)
    """


@register("similarity_matryoshka_recall", oracle=None)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA truncation audit: recall@10 of a 16-dim-PREFIX
    cosine ranking against the full 64-dim ranking, per query — the
    measurement that decides whether truncated embeddings (MRL-style
    prefix dims) can serve as the cheap first-pass filter at 100 TB,
    where a 4× narrower vector is 4× less scan + shuffle + distance
    arithmetic for the candidate stage. High recall ⇒ rank-then-rerank
    with full dims only on the short list; low recall ⇒ this model's
    prefix dims don't carry the signal (training matters — the audit
    is the gate).

    Both rankings run the exact ``brute_force_topk`` machinery
    (broadcast queries, staged norms, deterministic (cos DESC, id)
    tiebreak) on sliced vectors; recall joins the two id sets — counts
    and one division by 10.0, hash-exact since the underlying cosine
    doubles are bit-identical cross-engine (the
    ``similarity_bruteforce_topk`` precedent)."""
    from rs_query_engine_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")

    def topk(dim: int) -> DataFrame:
        c = e.select(
            "vec_id", F.slice("embedding", 1, dim).alias("embedding")
        )
        q = c.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        return brute_force_topk(c, q, 10).select("query_id", "vec_id")

    t16, t64 = topk(16), topk(64)
    common = (
        t16.join(t64, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    qs = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id")
    )
    return qs.join(common, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
        (
            F.coalesce(F.col("n_common"), F.lit(0)).cast("double") / F.lit(10.0)
        ).alias("recall"),
    )


_ORACLE["similarity_matryoshka_recall"] = _matryoshka_oracle()


# =====================================================================
# Events — Markov transition matrix over event sequences
# =====================================================================


@register(
    "events_markov_transitions",
    oracle="""
    WITH t AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ), c AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM t WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    ), tot AS (
        SELECT prev_type, CAST(SUM(n) AS BIGINT) AS n_from
        FROM c GROUP BY prev_type
    )
    SELECT c.prev_type, c.next_type, c.n,
           CAST(c.n AS DOUBLE) / CAST(tot.n_from AS DOUBLE) AS prob
    FROM c JOIN tot USING (prev_type)
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order MARKOV transition matrix over user event sequences:
    (prev_type → next_type) counts and row-normalized probabilities —
    the sequence-model features behind next-action prediction and the
    anomaly baseline (a session whose transitions sit in the matrix's
    tail is suspect). One lag window per user (single key-partitioned
    exchange), then a hash aggregation to the |types|² matrix — state
    after the window is 25 cells regardless of corpus size, and the
    row totals that normalize it are broadcast. Counts exact;
    probability is one int→double division per cell."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = t.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = c.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return c.join(F.broadcast(tot), "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from").cast("double")).alias(
            "prob"
        ),
    )


# =====================================================================
# Text — classifier evaluation + tokenizer fertility
# =====================================================================


def _langid_confusion_oracle() -> str:
    """Generate the confusion-matrix oracle from the SAME
    ``LANG_MARKERS`` vocabulary the Spark classifier uses (the repo's
    convention for engine-mirrored constants — cf.
    ``queries._minhash_sql_parts`` / ``layout.zorder_key_sql``): a
    vocabulary tweak then changes exactly one definition."""
    from rs_query_engine_spark.functions.text import LANG_MARKERS, LANGS

    score_cols = ",\n               ".join(
        "len(list_filter(t, x -> x IN ({words}))) AS s_{lang}".format(
            words=",".join(f"'{w}'" for w in LANG_MARKERS[lang]), lang=lang
        )
        for lang in LANGS
    )
    all_scores = ", ".join(f"s_{lang}" for lang in LANGS)
    argmax = "\n                    ".join(
        f"WHEN s_{lang} = GREATEST({all_scores}) THEN '{lang}'"
        for lang in LANGS[:-1]
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS t
        FROM documents
    ), scores AS (
        SELECT doc_id, lang,
               {score_cols}
        FROM toks
    ), pred AS (
        SELECT lang,
               CASE {argmax}
                    ELSE '{LANGS[-1]}' END AS pred_lang
        FROM scores
    ), m AS (
        SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY lang, pred_lang
    ), tot AS (
        SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM m GROUP BY lang
    )
    SELECT m.lang, m.pred_lang, m.n,
           CAST(m.n AS DOUBLE) / CAST(tot.n_true AS DOUBLE) AS frac
    FROM m JOIN tot USING (lang)
    """


@register("text_langid_confusion", oracle=None)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFUSION MATRIX: the marker-word classifier of
    ``text_lang_id`` evaluated against the corpus's ground-truth
    ``lang`` column — (true, predicted) counts plus the per-true-class
    fraction (the recall diagonal and the specific confusion pairs off
    it). This is the on-engine model-evaluation shape every classifier
    in the pipeline (lang-ID, quality, topic) needs at corpus scale:
    one classification pass, one hash aggregation to a |langs|² matrix
    whose size is independent of corpus size, row totals broadcast
    back for normalization. Counts exact; fractions are one
    int→double division per cell."""
    from rs_query_engine_spark.functions.text import lang_id

    d = _t(spark, sf_dir, "documents")
    m = (
        d.select("lang", lang_id("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = m.groupBy("lang").agg(F.sum("n").alias("n_true"))
    return m.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        "n",
        (F.col("n").cast("double") / F.col("n_true").cast("double")).alias(
            "frac"
        ),
    )


_ORACLE["text_langid_confusion"] = _langid_confusion_oracle()


@register(
    "text_tokenizer_fertility",
    oracle=r"""
    WITH x AS (
        SELECT lang,
               len(regexp_split_to_array(lower(text), '\s+')) AS words,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
               + len(regexp_extract_all(text, '[A-Za-z]{5,8}|[A-Za-z]{9,12}|[A-Za-z]{13,16}'))
                   AS bpe
        FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS n_words,
           CAST(SUM(bpe) AS BIGINT) AS n_bpe,
           CAST(CAST(SUM(bpe) AS BIGINT) AS DOUBLE)
               / CAST(CAST(SUM(words) AS BIGINT) AS DOUBLE) AS fertility
    FROM x GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language: subword-estimate tokens per
    whitespace word (``token_count_bpe_estimate`` / ``token_count``) —
    the metric that exposes tokenizer bias across languages (a high-
    fertility language pays more context budget per word, skewing both
    training mixture shares and serving cost; fertility audits are how
    multilingual pipelines catch that before training). One shared
    scan computes both counts; the aggregation collapses to |langs|
    rows with map-side partials; sums exact BIGINT, fertility one
    division."""
    from rs_query_engine_spark.functions.text import (
        token_count,
        token_count_bpe_estimate,
    )

    d = _t(spark, sf_dir, "documents")
    x = d.select(
        "lang",
        token_count("text").alias("words"),
        token_count_bpe_estimate(F.col("text")).alias("bpe"),
    )
    return (
        x.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("words").alias("n_words"),
            F.sum("bpe").alias("n_bpe"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_bpe",
            (
                F.col("n_bpe").cast("double") / F.col("n_words").cast("double")
            ).alias("fertility"),
        )
    )


# =====================================================================
# Time series — grid resampling with linear interpolation
# =====================================================================


@register(
    "events_resample_interp",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, ARG_MAX(value, event_id) AS value
        FROM events GROUP BY user_id, ts
    ), span AS (
        SELECT user_id, date_trunc('hour', MIN(ts)) AS t0, MAX(ts) AS t1
        FROM e GROUP BY user_id
    ), grid AS (
        SELECT user_id, g.gts
        FROM span,
        LATERAL unnest(generate_series(t0, t1, INTERVAL '1 hour')) AS g(gts)
    ), p AS (
        SELECT grid.user_id, grid.gts, e.ts AS prev_ts, e.value AS prev_v
        FROM grid ASOF LEFT JOIN e
          ON grid.user_id = e.user_id AND grid.gts >= e.ts
    ), n AS (
        SELECT grid.user_id, grid.gts, e.ts AS next_ts, e.value AS next_v
        FROM grid ASOF LEFT JOIN e
          ON grid.user_id = e.user_id AND grid.gts <= e.ts
    )
    SELECT p.user_id, p.gts AS grid_ts, p.prev_ts, n.next_ts,
           CASE WHEN p.prev_ts IS NULL OR n.next_ts IS NULL THEN NULL
                WHEN n.next_ts = p.prev_ts THEN p.prev_v
                ELSE p.prev_v + (n.next_v - p.prev_v)
                     * (CAST(epoch_us(p.gts) - epoch_us(p.prev_ts) AS DOUBLE)
                        / CAST(epoch_us(n.next_ts) - epoch_us(p.prev_ts)
                               AS DOUBLE))
           END AS v_interp
    FROM p JOIN n ON p.user_id = n.user_id AND p.gts = n.gts
    """,
)
def events_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLING with linear interpolation: each user's
    irregular event values resampled onto an hourly grid, every grid
    point valued by interpolating between its surrounding events — the
    hypertable ``time_bucket_gapfill + interpolate()`` shape that
    feature pipelines need to align sensors/users onto one clock
    (``events_gap_fill`` zero-fills COUNTS; this reconstructs VALUES).

    SEGMENT-GENERATED plan (round-6 rewrite; values bit-identical to
    the prior dual-frame union, same oracle): instead of exploding
    the full grid and sorting a |grid|+2|events| union through one
    giant per-user window (~1.25 M rows at sf0.1), each consecutive
    EVENT PAIR generates its own interior grid points directly —
    one lag() window over the (small) deduped event set, a broadcast
    join for the per-user grid anchor, then a map-only sequence
    explode per segment. Grid rows never enter any sort: the only
    shuffles are over events (100 k rows), not grid points (1 M+),
    and at 100 TB the interpolated output is produced embarrassingly
    parallel from the segment it belongs to (measured 3.3 → ~1.2 s
    at sf0.1).

    Semantics preserved exactly: a grid point ON an event takes the
    event's value verbatim (prev_ts == next_ts — emitted from the
    event row, not interpolated, so no x + (a−x)·1.0 float detour);
    leading grid points before the first event stay NULL with
    next_ts = first event (no extrapolation); interior points use
    the identical IEEE sequence both engines run — one
    int-microsecond ratio, one multiply, one add. Grid indices are
    pure integer arithmetic (micros since the per-user hour-truncated
    anchor, truncating div on provably non-negative operands)."""
    HOUR_US = 3_600_000_000
    e = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .agg(F.max_by("value", "event_id").alias("value"))
    )
    span = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("t0")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    seg = (
        e.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn("prev_v", F.lag("value").over(w))
        .join(F.broadcast(span), "user_id")
        .select(
            "user_id", "ts", "value", "prev_ts", "prev_v",
            F.unix_micros("ts").alias("a_us"),
            F.unix_micros("prev_ts").alias("p_us"),
            F.unix_micros("t0").alias("t0_us"),
        )
        # every downstream branch (on-grid points, interior segments,
        # leading NULLs) reuses this one window+join result
        .transform(truncate_lineage)
    )
    null_v = F.lit(None).cast("double")
    null_t = F.lit(None).cast("timestamp")
    # 1) grid points that land EXACTLY on an event: the event's value
    on_grid = seg.filter(
        (F.col("a_us") - F.col("t0_us")) % HOUR_US == 0
    ).select(
        "user_id",
        F.col("ts").alias("grid_ts"),
        F.col("ts").alias("prev_ts"),
        F.col("ts").alias("next_ts"),
        F.col("value").alias("v_interp"),
    )
    # 2) interior points strictly between consecutive events: grid
    # index k runs from the first slot after the previous event to
    # the last slot before this one (truncating div == floor: both
    # operands are non-negative by construction)
    k_start = (F.col("p_us") - F.col("t0_us")) / F.lit(HOUR_US)
    k_start = F.floor(k_start).cast("bigint") + 1
    k_end = F.floor(
        (F.col("a_us") - F.col("t0_us") - 1) / F.lit(HOUR_US)
    ).cast("bigint")
    interior_base = (
        seg.filter(F.col("prev_ts").isNotNull())
        .withColumn("k_start", k_start)
        .withColumn("k_end", k_end)
        .filter(F.col("k_end") >= F.col("k_start"))
        .select(
            "user_id", "ts", "value", "prev_ts", "prev_v",
            "a_us", "p_us", "t0_us",
            F.explode(F.expr("sequence(k_start, k_end)")).alias("k"),
        )
    )
    g_us = F.col("t0_us") + F.col("k") * F.lit(HOUR_US)
    ratio = (g_us - F.col("p_us")).cast("double") / (
        F.col("a_us") - F.col("p_us")
    ).cast("double")
    interior = interior_base.select(
        "user_id",
        F.timestamp_micros(g_us).alias("grid_ts"),
        F.col("prev_ts"),
        F.col("ts").alias("next_ts"),
        (F.col("prev_v") + (F.col("value") - F.col("prev_v")) * ratio).alias(
            "v_interp"
        ),
    )
    # 3) leading grid points before the FIRST event: NULL value, the
    # first event as next_ts (no extrapolation)
    lead = (
        seg.filter(F.col("prev_ts").isNull() & (F.col("a_us") > F.col("t0_us")))
        .withColumn(
            "k_end",
            F.floor(
                (F.col("a_us") - F.col("t0_us") - 1) / F.lit(HOUR_US)
            ).cast("bigint"),
        )
        .select(
            "user_id", "ts", "a_us", "t0_us",
            F.explode(F.expr("sequence(CAST(0 AS BIGINT), k_end)")).alias("k"),
        )
        .select(
            "user_id",
            F.timestamp_micros(
                F.col("t0_us") + F.col("k") * F.lit(HOUR_US)
            ).alias("grid_ts"),
            null_t.alias("prev_ts"),
            F.col("ts").alias("next_ts"),
            null_v.alias("v_interp"),
        )
    )
    return on_grid.unionByName(interior).unionByName(lead)


# =====================================================================
# Graph — hierarchy subtree rollup via ancestor-path explosion
# =====================================================================


@register(
    "graph_hierarchy_rollup",
    oracle="""
    WITH h AS (
        SELECT doc_id, doc_id + 1 AS hh, n_chars FROM documents
    ), anc AS (
        SELECT (h.hh >> t.k) AS anc_h, h.n_chars
        FROM h, LATERAL unnest(range(0, length(bin(h.hh)))) AS t(k)
    ), roll AS (
        SELECT anc_h,
               CAST(COUNT(*) AS BIGINT) AS subtree_docs,
               CAST(SUM(n_chars) AS BIGINT) AS subtree_chars
        FROM anc GROUP BY anc_h
    )
    SELECT h.doc_id,
           length(bin(h.hh)) - 1 AS depth,
           r.subtree_docs, r.subtree_chars
    FROM h JOIN roll r ON r.anc_h = h.hh
    """,
)
def graph_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL subtree rollup (the BOM/org-chart/category-tree
    query family): every node's depth plus the document count and
    character mass of its ENTIRE subtree, on a synthetic binary
    hierarchy (heap numbering: node h's parent is h >> 1). The scale
    design is the point — instead of a recursive self-join per level
    (SQL's RECURSIVE CTE, O(depth) shuffles and unbounded on skewed
    trees), each node EXPLODES its ancestor PATH (h >> k for k =
    0..depth, the materialized-path trick made arithmetic by heap
    numbering) and one hash aggregation rolls every subtree up in a
    single shuffle — depth×|nodes| intermediate rows, bounded by
    log(n) per node. Depth itself is closed-form integer arithmetic
    (bit length − 1), no libm. The DuckDB oracle replays the identical
    bit arithmetic; in production the ancestor list comes from a
    stored path column, same plan shape."""
    d = _t(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", (F.col("doc_id") + 1).alias("hh"), "n_chars"
    )
    bits = F.length(F.bin("hh"))
    anc = h.select(
        "hh",
        "n_chars",
        F.explode(F.sequence(F.lit(0), bits - 1)).alias("k"),
    ).select(
        F.expr("shiftright(hh, CAST(k AS INT))").alias("anc_h"), "n_chars"
    )
    roll = anc.groupBy("anc_h").agg(
        F.count(F.lit(1)).alias("subtree_docs"),
        F.sum("n_chars").alias("subtree_chars"),
    )
    return h.join(roll, h["hh"] == roll["anc_h"]).select(
        "doc_id",
        (F.length(F.bin("hh")) - 1).alias("depth"),
        "subtree_docs",
        "subtree_chars",
    )


# =====================================================================
# Streaming — stream-static dimension enrichment
# =====================================================================


@register(
    "stream_static_enrich",
    oracle="""
    SELECT n.n_name,
           COUNT(e.event_id) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events e
    JOIN nation n ON e.user_id % 25 = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC enrichment join: the event stream joins a static
    dimension snapshot (nation, keyed by user_id mod 25 — standing in
    for the user→geo dimension) and aggregates per dimension value —
    the canonical streaming-ETL shape (enrich, then aggregate). The
    static side is broadcast: each micro-batch joins map-side with NO
    stream-side shuffle before the aggregation, and the dimension can
    be swapped between batches in production (foreachBatch re-read)
    without touching stream state. Counts and decimal-exact sums make
    the final state hash-comparable to the batch oracle — batch/stream
    parity by construction, same discipline as the rest of the
    streaming family."""
    from rs_query_engine_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("_nk"), "n_name"
    )
    enriched = ev.withColumn("_nk", F.col("user_id") % 25).join(
        F.broadcast(dim), "_nk"
    )
    agg = enriched.groupBy("n_name").agg(
        F.count("event_id").alias("n_events"),
        F.sum(F.col("value").cast(D_PRICE)).cast("double").alias("total_value"),
    )
    # state_partitions=2 (r19) — see the stream_late_data_drop note in
    # queries_staged_r10; paired median 0.71
    return run_stream_to_memory(
        agg, "stream_static_enrich", output_mode="complete",
        state_partitions=2,
    )
