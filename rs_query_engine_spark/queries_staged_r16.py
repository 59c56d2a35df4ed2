"""Queries added in round 14 (live since round 17).

14 queries, all with exact oracles: civil-time bucketing into an IANA
zone with the DST hour-count invariant, the positional-regexp builtin
family (count/substr/instr vs independent DuckDB emulations), the
bitemporal as-of read (versions × transaction-time cutoff — the
training-snapshot reproducibility primitive), multi-column
COUNT(DISTINCT) through the Expand rewrite, interval-union dwell-time
coverage (gaps-and-islands with a running-max end, exact int64
microseconds), largest-remainder sample-budget apportionment (pure
int64 Hamilton quotas summing to exactly K), time-weighted average
over event gaps, exact integer Gini concentration, Pareto-frontier
skyline via an agg-then-tiny-window plan, inverted-index boolean AND
search, user-path trigrams, order-independent md5 table checksums,
the ``_metadata`` hidden-column file audit, and sweep-line peak
concurrency.

Float-determinism discipline matches ``queries.py`` (see its module
docstring): row-level doubles raw, no round(), SUM/AVG through exact
decimals, every aggregate/computed column aliased identically in the
Spark code and the DuckDB oracle.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_query_engine_spark.queries import D_PRICE, _t, register

# ---------------------------------------------------------------------------
# Round-14 seeds (r13 precedent: the pen is created empty, then seeded
# the same round with a few verified queries under the ≤15 cap)
# ---------------------------------------------------------------------------


@register(
    "events_timezone_bucketing",
    oracle="""
    WITH loc AS (
        SELECT event_type,
               timezone('America/New_York',
                        timezone('UTC', CAST(ts AS TIMESTAMP)))
                   AS local_ts,
               event_id, value
        FROM events
    )
    SELECT event_type,
           CAST(local_ts AS DATE) AS local_day,
           CAST(COUNT(event_id) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT EXTRACT(hour FROM local_ts)) AS BIGINT)
               AS n_local_hours,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
               AS total_value
    FROM loc GROUP BY event_type, CAST(local_ts AS DATE)
    """,
)
def events_timezone_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Civil-time bucketing — UTC event times rolled up into LOCAL
    days of an IANA zone (America/New_York): the reporting grain every
    product dashboard actually wants, and a cross-engine minefield
    because both engines must agree on the zone database and the DST
    transition rules (Spark ``from_utc_timestamp`` vs DuckDB's
    two-step ``timezone()`` — probed on the 2024 spring-forward and
    fall-back boundaries before this query existed). n_local_hours
    pins the giveaway invariant: a DST-transition local day has 23 or
    25 distinct hours, not 24.

    Scale shape: the zone conversion is a map-side scalar; the rollup
    is one partial+final hash aggregate on (type, local_day) — civil
    time costs nothing at 100 TB IF it stays an expression (the
    anti-pattern is a per-row Python tz lookup)."""
    loc = _t(spark, sf_dir, "events").select(
        "event_type",
        F.from_utc_timestamp(
            F.col("ts").cast("timestamp"), "America/New_York"
        ).alias("local_ts"),
        "event_id",
        "value",
    )
    return loc.groupBy(
        "event_type", F.to_date("local_ts").alias("local_day")
    ).agg(
        F.count("event_id").alias("n_events"),
        F.count_distinct(F.hour("local_ts")).alias("n_local_hours"),
        F.sum(F.col("value").cast(D_PRICE))
        .cast("double")
        .alias("total_value"),
    )


_REGEXP_RUN = "[aeiou]{2,}"  # shared pattern: runs of 2+ vowels


@register(
    "string_regexp_family",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_REGEXP_RUN}'))
                AS BIGINT) AS n_runs,
           NULLIF(regexp_extract(text, '{_REGEXP_RUN}'), '')
               AS first_run,
           CAST(CASE WHEN regexp_matches(text, '{_REGEXP_RUN}')
                THEN length(string_split_regex(
                         text, '{_REGEXP_RUN}')[1]) + 1
                ELSE 0 END AS BIGINT) AS first_pos
    FROM documents
    """,
)
def string_regexp_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The positional-regexp builtin family — ``regexp_count`` /
    ``regexp_substr`` / ``regexp_instr`` (the Oracle/Snowflake trio
    Spark added in 3.5, the bread and butter of crawl-cleanup rules) —
    pinned against DuckDB emulations built from different primitives
    (extract_all length, NULLIF'd extract, prefix-split length), so
    agreement means both engines place the same leftmost match with
    the same greediness on the same non-trivial pattern. The no-match
    conventions are part of the pin: substr → NULL (DuckDB's '' is
    NULLIF'd to match), instr → 0.

    Scale shape: map-side scalar projection over a (doc_id, text)
    scan — regex cost is per-row CPU inside codegen, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_REGEXP_RUN))
        .cast("bigint")
        .alias("n_runs"),
        F.regexp_substr(F.col("text"), F.lit(_REGEXP_RUN)).alias(
            "first_run"
        ),
        F.regexp_instr(F.col("text"), F.lit(_REGEXP_RUN))
        .cast("bigint")
        .alias("first_pos"),
    )


# Bitemporal constants — every 17th event receives a correction
# (+1000.0 to value) whose TRANSACTION time lags its event time by one
# day; the as-of cutoff is two days before the corpus's newest event.
_BT_CORR_MOD = 17
_BT_LAG_US = 86_400_000_000
_BT_CUT_US = 2 * 86_400_000_000


@register(
    "events_bitemporal_asof",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, value
        FROM events WHERE event_id % {_BT_CORR_MOD} = 0
    ),
    vers AS (
        SELECT event_id, us AS txn_us, value FROM ev
        UNION ALL
        SELECT event_id, us + {_BT_LAG_US} AS txn_us,
               value + 1000.0 AS value
        FROM ev
    ),
    cut AS (
        SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP))) - {_BT_CUT_US}
            AS t_cut
        FROM events
    ),
    vis AS (
        SELECT event_id, txn_us, value FROM vers, cut
        WHERE txn_us <= t_cut
    ),
    latest AS (
        SELECT event_id,
               CAST(COUNT(*) AS BIGINT) AS n_versions_visible,
               CAST(MAX(txn_us) AS BIGINT) AS visible_txn_us
        FROM vis GROUP BY event_id
    )
    SELECT l.event_id, l.n_versions_visible, l.visible_txn_us,
           v.value AS visible_value
    FROM latest l JOIN vis v
      ON l.event_id = v.event_id AND l.visible_txn_us = v.txn_us
    """,
)
def events_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of reads — "the data as we KNEW it at time T",
    the reproducibility primitive for training snapshots and audited
    reports: each corrected event carries two versions (original at
    txn=event time, correction landing one day later), and the as-of
    query sees, per event, exactly the versions whose TRANSACTION time
    had passed by the cutoff — recent events are invisible entirely,
    recently-corrected ones surface their ORIGINAL value (the
    correction hasn't landed yet), older ones the corrected value.
    Version choice is a join back on (event_id, max txn time) — the
    txn time is unique per event, and the join-back form is chosen
    over max_by/arg_max deliberately: the engines DISAGREE on
    NULL-argument argmax (DuckDB's arg_max skips NULL args, Spark's
    max_by returns them), so an equality join is the NULL-proof
    spelling for any corpus. The +1000.0 correction is a single IEEE
    add, hash-stable raw.

    Scale shape: versions build from one pruned scan + union; the
    cutoff is a 1-row broadcast; the as-of collapse is one key-grain
    partial+final aggregate plus one self-equi-join on the unique
    (event, txn) key — the same plan a Delta/Iceberg time-travel
    read would execute, spelled out on plain columns."""
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") % _BT_CORR_MOD == 0)
        .select(
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "value",
        )
    )
    base = ev.select(
        "event_id", F.col("us").alias("txn_us"), "value"
    )
    corr = ev.select(
        "event_id",
        (F.col("us") + F.lit(_BT_LAG_US)).alias("txn_us"),
        (F.col("value") + F.lit(1000.0)).alias("value"),
    )
    vers = base.unionByName(corr)
    cut = _t(spark, sf_dir, "events").agg(
        (
            F.max(F.unix_micros(F.col("ts").cast("timestamp")))
            - F.lit(_BT_CUT_US)
        ).alias("t_cut")
    )
    vis = vers.crossJoin(F.broadcast(cut)).filter(
        F.col("txn_us") <= F.col("t_cut")
    )
    latest = vis.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_versions_visible"),
        F.max("txn_us").alias("visible_txn_us"),
    )
    return latest.join(
        vis.select(
            F.col("event_id").alias("v_event_id"),
            "txn_us",
            F.col("value").alias("visible_value"),
        ),
        (F.col("event_id") == F.col("v_event_id"))
        & (F.col("visible_txn_us") == F.col("txn_us")),
    ).select(
        "event_id", "n_versions_visible", "visible_txn_us",
        "visible_value",
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT EXTRACT(year FROM o_orderdate))
                AS BIGINT) AS n_years,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE distinct aggregates over different columns in one
    GROUP BY — the shape Catalyst must rewrite through an Expand node
    (each input row fans out once per distinct column, null-padded,
    then two aggregate passes dedupe and combine), because a hash agg
    can track at most one distinct set per key. Pinned because the
    rewrite is where multi-distinct queries silently go quadratic on
    engines without it, and because mixing distinct and plain
    aggregates (the SUM rides along) exercises the null-gid branch of
    the rewrite.

    Scale shape: Expand multiplies shuffle rows by the number of
    distinct columns (2 here) — the known, bounded cost — but both
    aggregate passes keep map-side partials; nothing is quadratic."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_distinct(F.col("o_custkey")).alias("n_customers"),
        F.count_distinct(F.year("o_orderdate")).alias("n_years"),
        F.sum(F.col("o_totalprice").cast(D_PRICE))
        .cast("double")
        .alias("total_price"),
    )


_COV_WINDOW_US = 1_800_000_000  # each event covers [ts, ts + 30 min)


@register(
    "events_interval_coverage",
    oracle=f"""
    WITH w AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS s,
               epoch_us(CAST(ts AS TIMESTAMP)) + {_COV_WINDOW_US} AS e
        FROM events
    ),
    flagged AS (
        SELECT user_id, s, e,
               CASE WHEN s <= COALESCE(MAX(e) OVER (
                        PARTITION BY user_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), -1)
                    THEN 0 ELSE 1 END AS new_island
        FROM w
    ),
    islands AS (
        SELECT user_id, s, e,
               SUM(new_island) OVER (PARTITION BY user_id ORDER BY s
                                     ROWS UNBOUNDED PRECEDING)
                   AS island_id
        FROM flagged
    ),
    merged AS (
        SELECT user_id, island_id,
               MIN(s) AS island_start, MAX(e) AS island_end
        FROM islands GROUP BY user_id, island_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(island_end - island_start) AS BIGINT)
               AS coverage_us
    FROM merged GROUP BY user_id
    """,
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION coverage — per user, the total distinct time
    covered by overlapping activity windows ([ts, ts+30 min) per
    event): the dwell-time/uptime primitive naive SUM(window) gets
    wrong whenever sessions overlap (it double-counts). Classic
    gaps-and-islands: a window starts a new island iff it begins
    after the running MAX of all previous ends (the running max, not
    the previous end — an early long window can swallow several later
    short ones), islands merge by running-sum id, and coverage is the
    exact int64-microsecond sum of island extents. Row ties on
    (user, ts) are harmless by construction: equal starts imply equal
    ends, so the island decision is order-free.

    Scale shape: ONE key-partitioned sort powers both window passes
    (same spec), then two partial-agg reduces at island and user
    grain — the corpus is sorted once, never paired."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
    )
    w = ev.select(
        "user_id", "s", (F.col("s") + F.lit(_COV_WINDOW_US)).alias("e")
    )
    wo = Window.partitionBy("user_id").orderBy("s")
    prev_max_e = F.max("e").over(
        wo.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = w.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s") <= F.coalesce(prev_max_e, F.lit(-1)), F.lit(0)
        )
        .otherwise(F.lit(1))
        .alias("new_island"),
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island_id"),
    )
    merged = islands.groupBy("user_id", "island_id").agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("island_end") - F.col("island_start")).alias(
            "coverage_us"
        ),
    )


_ALLOC_K = 1000  # total sample budget to apportion across sources


@register(
    "sample_proportional_allocation",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_docs) AS n_total FROM counts),
    quota AS (
        SELECT source, n_docs,
               ({_ALLOC_K} * n_docs) // n_total AS base,
               ({_ALLOC_K} * n_docs) % n_total AS rem
        FROM counts, tot
    ),
    ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
               SUM(base) OVER () AS base_sum
        FROM quota
    )
    SELECT source, n_docs,
           CAST(base + CASE WHEN rk <= {_ALLOC_K} - base_sum
                            THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM ranked
    """,
)
def sample_proportional_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment — the exact answer
    to "split a sample budget of K across sources proportionally, in
    INTEGERS, summing to exactly K": floor quotas from integer
    division, then +1 to the sources with the largest remainders
    until the budget is spent. Every step is int64 arithmetic
    (quotient, modulus, rank — no float quota anywhere), ties on the
    remainder break by source name, and Σalloc = K holds by
    construction on both engines — the allocation that naive
    round(K·share) gets wrong whenever rounding errors accumulate
    (it can over- or under-spend the budget by several samples).
    Feeds the per-group fixed-size samplers (`sample_fixed_per_group`
    takes the per-source targets this query computes).

    Scale shape: the corpus collapses to per-source counts in one
    partial+final aggregate; everything after runs on a
    |sources|-row frame (a broadcast 1-row total, one window rank) —
    apportionment is free at any corpus size."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n_total"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr(f"({_ALLOC_K} * n_docs) DIV n_total").alias("base"),
        ((F.lit(_ALLOC_K) * F.col("n_docs")) % F.col("n_total")).alias(
            "rem"
        ),
    )
    w = Window.orderBy(F.col("rem").desc(), F.col("source"))
    wall = Window.partitionBy()
    ranked = quota.select(
        "source",
        "n_docs",
        "base",
        F.row_number().over(w).alias("rk"),
        F.sum("base").over(wall).alias("base_sum"),
    )
    return ranked.select(
        "source",
        "n_docs",
        (
            F.col("base")
            + F.when(
                F.col("rk") <= F.lit(_ALLOC_K) - F.col("base_sum"),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("alloc"),
    )


# ---------------------------------------------------------------------------
# Round-14 second seed wave (8 queries, closing the pen at 14)
# ---------------------------------------------------------------------------


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH e AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, value, event_id
        FROM events
    ),
    seg AS (
        SELECT event_type, us, value,
               LEAD(us) OVER (PARTITION BY event_type
                              ORDER BY us, event_id) AS nxt
        FROM e
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(nxt - us) AS BIGINT) AS duration_us,
               SUM(CAST(value AS DECIMAL(12,2)) * (nxt - us)) AS num
        FROM seg WHERE nxt IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n_segments, duration_us,
           CAST(CAST(num AS VARCHAR) AS DOUBLE)
               / CAST(duration_us AS DOUBLE) AS twap
    FROM s WHERE duration_us > 0
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average (TWAP) per event type — each reading
    holds until the next one, so its weight is the gap it covered:
    Σ value·Δt / Σ Δt over consecutive same-type events. The metric
    every monitoring/pricing pipeline wants when samples arrive
    unevenly (a plain AVG over-weights bursts of rapid readings; the
    time weighting is what "average load" actually means).

    Exactness: Δt is exact int64 microseconds from one LEAD over a
    (type)-keyed sort; value·Δt accumulates as DECIMAL(12,2)×BIGINT →
    exact decimal, summed exactly; the numerator leaves decimals as a
    correctly-rounded double (oracle hops through VARCHAR for sums
    beyond 2^53 — the agg_zscore_outliers discipline) and the final
    TWAP is ONE IEEE division of two doubles. Zero-duration groups
    are filtered identically on both engines rather than risking
    Inf/NaN hashes.

    Scale shape: one key-partitioned sort powers the LEAD, then a
    partial+final hash aggregate at type grain — the corpus is
    sorted once per key and never paired; state after the window is
    |types| rows."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "value",
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    seg = e.select(
        "event_type", "us", "value", F.lead("us").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    s = seg.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("nxt") - F.col("us")).alias("duration_us"),
        F.sum(
            F.col("value").cast(D_PRICE) * (F.col("nxt") - F.col("us"))
        ).alias("num"),
    )
    return s.filter(F.col("duration_us") > 0).select(
        "event_type",
        "n_segments",
        "duration_us",
        (
            F.col("num").cast("double")
            / F.col("duration_us").cast("double")
        ).alias("twap"),
    )


@register(
    "quality_gini_concentration",
    oracle="""
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS i
        FROM documents
    ),
    s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(i * n_chars) AS BIGINT) AS s1
        FROM ranked GROUP BY source
    )
    SELECT source, n_docs, total_chars,
           CAST(2 * s1 - (n_docs + 1) * total_chars AS DOUBLE)
               / CAST(n_docs * total_chars AS DOUBLE) AS gini
    FROM s
    """,
)
def quality_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI coefficient of document-length concentration per source —
    the inequality audit of a corpus mixture: gini→0 means a source's
    character mass is spread evenly across its documents, gini→1
    means a few giants dominate (and a naive doc-count mixture weight
    badly misstates its token contribution). Computed by the exact
    rank formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over
    ascending-sorted lengths — EVERY term is int64 arithmetic (rank ×
    length products summed exactly), ties contribute identically
    under any tie order (equal x makes Σi·x invariant to rank
    swaps, the detie by doc_id just fixes the plan), and the single
    final division is two exact-int64 doubles — bit-identical
    cross-engine, no float discipline needed anywhere.

    Scale shape: one (source)-keyed sort for the row_number, then one
    partial+final aggregate — same cost class as any windowed rollup;
    nothing global, nothing quadratic."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = d.select(
        "source", "n_chars", F.row_number().over(w).alias("i")
    )
    s = ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.col("i") * F.col("n_chars")).alias("s1"),
    )
    return s.select(
        "source",
        "n_docs",
        "total_chars",
        (
            (
                2 * F.col("s1")
                - (F.col("n_docs") + 1) * F.col("total_chars")
            ).cast("double")
            / (F.col("n_docs") * F.col("total_chars")).cast("double")
        ).alias("gini"),
    )


@register(
    "quality_pareto_frontier",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, n_chars,
               CAST(len(list_distinct(
                   regexp_split_to_array(lower(text), '\s+')))
                   AS BIGINT) AS vocab
        FROM documents
    ),
    g AS (
        SELECT n_chars,
               CAST(MAX(vocab) AS BIGINT) AS best_vocab,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM f GROUP BY n_chars
    ),
    m AS (
        SELECT n_chars, best_vocab, n_docs,
               MAX(best_vocab) OVER (
                   ORDER BY n_chars
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prefix_best
        FROM g
    )
    SELECT n_chars, best_vocab, n_docs
    FROM m WHERE best_vocab > COALESCE(prefix_best, -1)
    """,
)
def quality_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO frontier (skyline) of the corpus on (size, vocabulary):
    the document sizes for which the best achievable distinct-token
    vocabulary strictly beats every smaller size — the "efficient
    frontier" a data-selection policy reads to pick compact,
    information-dense documents (any size off the frontier is
    dominated: a shorter doc exists with at least as much vocabulary).
    The naive skyline is an all-pairs dominance test; this plan is
    the scale-correct rewrite: collapse to one row per distinct size
    first (partial+final aggregate — the frame after this step is
    |distinct sizes|, bounded by the size domain, NOT the corpus),
    then one running-max window with a strictly-preceding RANGE frame
    (x' < x exactly, ties on size share the same prefix max on both
    engines) decides frontier membership. All-integer comparisons —
    nothing to round.

    Scale shape: the only corpus-sized work is the tokenize+aggregate
    scan; the unpartitioned window runs on the collapsed per-size
    frame (thousands of rows at ANY corpus size), so the single-
    partition exchange Catalyst plans for it is free by
    construction."""
    from pyspark.sql import Window

    from rs_query_engine_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    f = d.select(
        "n_chars",
        F.size(F.array_distinct(tokens("text")))
        .cast("bigint")
        .alias("vocab"),
    )
    g = f.groupBy("n_chars").agg(
        F.max("vocab").alias("best_vocab"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    w = Window.orderBy("n_chars").rangeBetween(
        Window.unboundedPreceding, -1
    )
    m = g.select(
        "n_chars",
        "best_vocab",
        "n_docs",
        F.max("best_vocab").over(w).alias("prefix_best"),
    )
    return m.filter(
        F.col("best_vocab") > F.coalesce(F.col("prefix_best"), F.lit(-1))
    ).select("n_chars", "best_vocab", "n_docs")


# Boolean-search terms — mid-frequency corpus tokens (each in ~75-80%
# of documents, so the 3-way AND keeps a non-trivial subset). The
# oracle fragment derives from the same constant (engine-mirrored
# constants convention, cf. queries._minhash_sql_parts).
_SEARCH_TERMS = ("vector", "stream", "spark")


def _boolean_search_oracle() -> str:
    in_list = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    cnt_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tok = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_{t}"
        for t in _SEARCH_TERMS
    )
    out_cols = ", ".join(f"n_{t}" for t in _SEARCH_TERMS)
    return rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               {cnt_cols},
               COUNT(DISTINCT tok) AS nt
        FROM toks WHERE tok IN ({in_list}) GROUP BY doc_id
    )
    SELECT doc_id, {out_cols}
    FROM h WHERE nt = {len(_SEARCH_TERMS)}
    """


@register("text_boolean_search", oracle=_boolean_search_oracle())
def text_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index boolean AND search — documents containing ALL
    query terms, with per-term hit counts (the term-frequency columns
    a ranking stage consumes next): the retrieval primitive behind
    corpus slicing ("every doc mentioning X and Y and Z") and behind
    keyword-targeted contamination sweeps. The plan IS the posting-
    list algorithm, spelled relationally: tokenize+explode builds the
    postings, the IN filter keeps only the query terms' lists (at
    scale this is the index scan — term-partitioned posting lists
    prune everything else), and the AND is a count-distinct-equals-k
    test at document grain — no per-term self-joins (the naive k-way
    join plan), no all-pairs anything; candidates collapse in ONE
    partial+final aggregate keyed by doc_id.

    Exactness: counts only — nothing floats."""
    from rs_query_engine_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).filter(F.col("tok").isin(*_SEARCH_TERMS))
    per_term = [
        F.sum((F.col("tok") == t).cast("long")).alias(f"n_{t}")
        for t in _SEARCH_TERMS
    ]
    h = toks.groupBy("doc_id").agg(
        *per_term, F.count_distinct("tok").alias("nt")
    )
    return h.filter(F.col("nt") == len(_SEARCH_TERMS)).select(
        "doc_id", *[f"n_{t}" for t in _SEARCH_TERMS]
    )


@register(
    "events_path_ngrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS t0,
               LEAD(event_type, 1) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS t1,
               LEAD(event_type, 2) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS t2
        FROM events
    )
    SELECT t0, t1, t2,
           CAST(COUNT(*) AS BIGINT) AS n_paths,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
    GROUP BY t0, t1, t2
    """,
)
def events_path_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path TRIGRAMS — every consecutive 3-step event-type
    sequence per user, counted globally with user reach: the
    path-analysis grain product analytics funnels are mined from
    (markov_transitions holds the 1-step matrix; real funnels —
    view→click→purchase vs view→click→error — only separate at ≥3
    steps). Two LEADs share ONE window spec, so Catalyst plans a
    single (user)-keyed sort-exchange evaluating both; sequence order
    is (ts, event_id)-detied identically on both engines; the rollup
    to the |types|³-bounded path table is a partial+final aggregate
    (the distinct-user count rides the same Expand rewrite pinned by
    agg_multi_distinct). Counts only — nothing floats."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("t0"),
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    return seq.groupBy("t0", "t1", "t2").agg(
        F.count(F.lit(1)).alias("n_paths"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "maintenance_table_checksum",
    oracle="""
    WITH h AS (
        SELECT o_orderpriority,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|'
                                   || CAST(o_custkey AS VARCHAR) || '|'
                                   || o_orderstatus), 1, 8))::BIGINT
                   AS rh
        FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(rh) AS BIGINT) AS checksum_sum,
           CAST(bit_xor(rh) AS BIGINT) AS checksum_xor
    FROM h GROUP BY o_orderpriority
    """,
)
def maintenance_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-INDEPENDENT table content checksums per partition key —
    the replication/migration audit primitive ("does the copy hold
    exactly the rows the source holds?") that works WITHOUT sorting
    either side: each row folds to a 32-bit integer from its md5 (the
    one hash both engines spell identically — Spark xxhash64 and
    DuckDB hash() differ by design), and two commutative aggregates
    summarize the multiset — SUM (catches changed/missing rows; the
    int64 accumulator is EXACT — never a double — so with ≤2^32 per
    row it holds ~2^31 rows per audit group before overflow; beyond
    that, widen the accumulator to DECIMAL(38,0), still commutative
    and exact) and BIT_XOR (catches even-count duplicate swaps SUM
    could cancel only in adversarial pairs; XOR never overflows at
    any scale). Integer/varchar columns only in the
    row image — float/date rendering never enters the hash.

    Scale shape: map-side md5 + fold, ONE partial+final aggregate at
    the audit grain; comparing two 100 TB replicas costs two scans
    and a |keys|-row diff, no shuffle of row data, no sort anywhere."""
    o = _t(spark, sf_dir, "orders")
    rh = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey").cast("string"),
                        F.col("o_custkey").cast("string"),
                        F.col("o_orderstatus"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("rh")
    )
    return (
        o.select("o_orderpriority", rh)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("rh").alias("checksum_sum"),
            F.expr("bit_xor(rh)").alias("checksum_xor"),
        )
    )


@register(
    "source_file_metadata_audit",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files,
           CAST(SUM(length(CAST(doc_id AS VARCHAR)) + 1) AS BIGINT)
               AS file_bytes
    FROM documents GROUP BY lang
    """,
)
def source_file_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``_metadata`` hidden column — Spark's per-file metadata
    struct (file_path / file_size / …) surfaced through a normal scan:
    the lakehouse ops primitive behind manifest reconciliation
    ("do the files on disk hold the rows the table claims?") and
    small-file audits, exercised here end-to-end: a deterministic
    per-lang text fixture (one line per doc_id, one file per lang —
    single-file-ness asserted at install) is read back with
    ``_metadata.file_size`` and ``_metadata.file_path`` projected,
    and the audit reconciles ROW counts, FILE counts, and BYTE sizes
    per partition dir against what the corpus says they must be — the
    oracle computes each file's exact byte length as Σ(len(doc_id)+1)
    with no order dependence (a pure content sum, so this fixture
    needs no sorted write, unlike source_binary_files').

    Scale shape: ``_metadata`` is populated by the scan itself (no
    extra IO, no driver-side listing); the reconcile is one
    partial+final aggregate at partition grain. modificationTime and
    the uuid'd file NAME are never selected (wall-clock / nondeterm)."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")

    def write(tmp: str) -> None:
        out = os.path.join(tmp, "meta_files")
        (
            _t(spark, sf_dir, "documents")
            .select(
                "lang", F.col("doc_id").cast("string").alias("value")
            )
            .repartition(F.col("lang"))
            .write.partitionBy("lang")
            .text(out)
        )
        # One data file per lang dir (repartition-by-lang puts each
        # lang in exactly one task) — the per-file byte reconcile
        # is only meaningful if the whole lang is one file.
        for d in os.listdir(out):
            if not d.startswith("lang="):
                continue
            n = len([
                f for f in os.listdir(os.path.join(out, d))
                if f.endswith(".txt")
            ])
            if n != 1:
                raise AssertionError(
                    f"metafiles fixture: {d} has {n} data files,"
                    " expected exactly 1"
                )

    root = ensure_artifact(
        src,
        "metafiles",
        "layout=lang_docid_lines_v1",
        ("meta_files/_SUCCESS",),
        write,
    )
    path = os.path.join(root, "meta_files")

    t = spark.read.text(path)
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(F.col("_metadata.file_path")).alias("n_files"),
        F.max(F.col("_metadata.file_size")).alias("file_bytes"),
    )


_CONC_WINDOW_US = 1_800_000_000  # each event holds a slot for 30 min


@register(
    "events_concurrency_peak",
    oracle=f"""
    WITH e AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        FROM events
    ),
    pts AS (
        SELECT event_type, us AS t, 1 AS d, event_id FROM e
        UNION ALL
        SELECT event_type, us + {_CONC_WINDOW_US} AS t, -1 AS d,
               event_id
        FROM e
    ),
    r AS (
        SELECT event_type, d,
               SUM(d) OVER (PARTITION BY event_type
                            ORDER BY t, d, event_id
                            ROWS UNBOUNDED PRECEDING) AS run
        FROM pts
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_intervals,
           CAST(MAX(run) AS BIGINT) AS peak_concurrent
    FROM r GROUP BY event_type
    """,
)
def events_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SWEEP-LINE peak concurrency — the maximum number of
    simultaneously-open activity windows ([ts, ts+30 min) per event)
    per event type: the capacity-planning number ("how many sessions
    were open at the worst moment?") that interval_coverage's union
    length deliberately doesn't answer. Each interval contributes a
    +1 at its start and a −1 at its end; the running sum over the
    merged endpoint stream IS the concurrency curve, and its MAX is
    the peak. Tie convention is part of the pin: at an equal
    timestamp, ends sort before starts (ORDER BY t, d with −1 < 1),
    so back-to-back half-open intervals never double-count — and the
    (t, d, event_id) total order makes every prefix sum identical on
    both engines. Pure int64 throughout.

    Scale shape: endpoints double the rows (the known, bounded
    sweep-line cost), then ONE key-partitioned sort powers the
    running sum and a partial+final aggregate takes the max —
    no self-join of intervals (the naive overlap-count plan is
    O(n²) per key)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    starts = e.select(
        "event_type",
        F.col("us").alias("t"),
        F.lit(1).alias("d"),
        "event_id",
    )
    ends = e.select(
        "event_type",
        (F.col("us") + F.lit(_CONC_WINDOW_US)).alias("t"),
        F.lit(-1).alias("d"),
        "event_id",
    )
    pts = starts.unionByName(ends)
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = pts.select(
        "event_type", "d", F.sum("d").over(w).alias("run")
    )
    return r.groupBy("event_type").agg(
        F.sum(F.when(F.col("d") == 1, F.lit(1)).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_intervals"),
        F.max("run").alias("peak_concurrent"),
    )
