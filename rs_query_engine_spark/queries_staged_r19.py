"""Dormant queries written in round 19: registered with
``register_dormant``, so ``dormant_queries()`` serves them and
``tests/oracle/test_staged_r19_parity.py`` checks them
against their oracles, but ``queries()`` does not.

Seeded with 3 queries hash-verified at sf0.001 + sf0.01:
``quality_utf8_validation_audit`` (the header's make_valid_utf8
lead, probed and landed — is_valid_utf8 / make_valid_utf8 /
try_validate_utf8 over deterministically-corrupted bytes, pinned by
reconstruction since DuckDB cannot hold invalid UTF8) and
``events_dau_wau_stickiness`` (the trailing-window-distinct
EXPANSION idiom: explode each (user, day) over the 7 days it
covers instead of a window distinct Spark cannot express or a
day×day self-join; the shared distinct is lineage-cut so the
corpus is scanned once — plan-pinned), and
``events_session_relative_features`` (row-grain session ordinal /
event index / time-into-session where every window rides ONE
user-keyed exchange via running maxes of the session-start
markers — plan-pinned single exchange). ROUND-17 WAVE (+6, pen now
9): ``events_activity_islands`` (gaps-and-islands streaks — two
exchanges total, hash(user) reused by every downstream step,
plan-pinned), ``events_type_churn_sets`` (period set algebra over a
broadcast exact-int64 midpoint, sorted-serialized sets,
plan-pinned), ``events_association_residuals`` (contingency
Pearson residuals — exact margins, row-level IEEE only),
``events_autocorr_daily`` (lag-1/7 daily-volume autocorrelation
from exact sufficient statistics, lineage-cut single scan,
plan-pinned), ``string_common_prefix_groups`` (per-group LCP via
the lexicographic MIN/MAX trick + monotone prefix max),
``date_iso_week_boundaries`` (ISO week-year boundary audit,
YEAROFWEEK ≡ isoyear) — all hash-verified at sf0.001 + sf0.01 (type
families included) from first commit.
CLOSED at 10 the same round with
``quality_split_leakage_audit`` (train/eval eval-contamination
gate: bag-of-words-set near-dup fingerprints crossing the 90/5/5
hash splits, single-pass stack unpivot, plan-pinned — the
fingerprint is deliberately the token-SET form so the report is
non-degenerate at every SF).

Float-determinism discipline matches ``queries.py`` (see its module
docstring): row-level doubles raw, no round(), SUM/AVG through exact
decimals, every aggregate/computed column aliased identically in the
Spark code and the DuckDB oracle; DuckDB decimal→double casts go
through the VARCHAR hop.

Candidate leads (round-16 loose ends — evaluate, don't assume):

- ``make_valid_utf8`` / ``try_validate_utf8``: LANDED same round
  (``quality_utf8_validation_audit`` below) — the replacement
  behavior was probed per corruption class (invalid start + tail
  byte → one U+FFFD with the tail surviving; lone continuation →
  one U+FFFD; truncated multi-byte prefix consumed as a unit) and
  the oracle reconstructs rather than parses.
- The round-16 surface scan found nothing else new worth a slot:
  KLL/theta sketches remain REJECTED (approx-only — would grow the
  rows-only set held at three by design), TIME-type functions are
  covered by ``events_time_of_day_profile``, ``convert_timezone`` by
  ``events_timezone_bucketing``, the bitmap family by
  ``agg_bitmap_distinct``, ``monthname``/``dayname`` evaluated and
  not taken (inside ``date_functions``' weekday pin).
- **Avro still BLOCKED** (no spark-avro in pip pyspark);
  ``transformWithStateInPandas`` still BLOCKED (hard google.protobuf
  import). Do not re-probe unless the image changes.
- The rows-only trio (``similarity_ivf_kmeans``,
  ``agg_approx_percentile``, ``text_unigram_logprob``) stays
  rows-only by design with invariant companions — re-evaluate only
  if one becomes exactly oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_query_engine_spark.queries import _t, register_dormant

# ---------------------------------------------------------------------------
# Round-16 seed (the pen-header's make_valid_utf8 lead, probed and
# landed the same round the pen was created — r18-pen precedent)
# ---------------------------------------------------------------------------


@register_dormant(
    "quality_utf8_validation_audit",
    oracle="""
    SELECT doc_id,
           (doc_id % 7 <> 0 AND doc_id % 11 <> 0) AS is_valid,
           lang || CASE WHEN doc_id % 7 = 0 THEN chr(65533) || '('
                        WHEN doc_id % 11 = 0 THEN chr(65533)
                        ELSE '-' END || source AS repaired,
           (doc_id % 7 = 0 OR doc_id % 11 = 0) AS quarantined,
           CAST(length(lang || CASE WHEN doc_id % 7 = 0
                                    THEN chr(65533) || '('
                                    WHEN doc_id % 11 = 0 THEN chr(65533)
                                    ELSE '-' END || source) AS BIGINT)
               AS repaired_chars
    FROM documents
    """,
)
def quality_utf8_validation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UTF8-VALIDATION corpus hygiene — ``is_valid_utf8`` /
    ``make_valid_utf8`` / ``try_validate_utf8`` (Spark 4.x) driven
    over deterministically-corrupted bytes and pinned by
    RECONSTRUCTION (DuckDB strings are strictly valid UTF8 and
    cannot parse the corrupt input — the oracle re-derives every
    output from the corruption schedule instead, the
    str_to_map-parse discipline). Two probed corruption classes:
    an invalid 2-byte start followed by a non-continuation
    (``0xC3 0x28`` → ONE U+FFFD, the '(' survives) on every 7th
    doc, and a lone continuation byte (``0x80`` → ONE U+FFFD) on
    every 11th; both replacement behaviors probed before this query
    existed (a truncated 3-byte prefix ``0xE2 0x82`` also collapses
    to ONE replacement — prefixes are consumed as a unit).
    ``try_validate_utf8`` is surfaced as a quarantine BOOLEAN (the
    raw invalid string must never reach the driver hash — Arrow
    would re-replace it lossily; ``repaired`` is valid by
    construction and hashes exactly). This is the byte-level
    pre-tokenization gate every multi-source text pipeline needs —
    mojibake rows get repaired or quarantined BEFORE they poison a
    tokenizer at 100 TB.

    Scale shape: map-side scalar codegen only — encode/concat/
    validate all inside one projection, no shuffle, no join, one
    pruned scan."""
    d = _t(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    infix = (
        F.when(doc % 7 == 0, F.unhex(F.lit("C328")))
        .when(doc % 11 == 0, F.unhex(F.lit("80")))
        .otherwise(F.encode(F.lit("-"), "utf-8"))
    )
    s = F.concat(
        F.encode("lang", "utf-8"), infix, F.encode("source", "utf-8")
    ).cast("string")
    repaired = F.make_valid_utf8(s)
    return d.select(
        "doc_id",
        F.is_valid_utf8(s).alias("is_valid"),
        repaired.alias("repaired"),
        F.try_validate_utf8(s).isNull().alias("quarantined"),
        F.length(repaired).cast("bigint").alias("repaired_chars"),
    )


@register_dormant(
    "events_dau_wau_stickiness",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    cover AS (
        SELECT DISTINCT user_id, CAST(g.d AS DATE) AS day
        FROM ud, LATERAL unnest(generate_series(
            CAST(day AS TIMESTAMP),
            CAST(day + INTERVAL 6 DAY AS TIMESTAMP),
            INTERVAL 1 DAY)) AS g(d)
    ),
    wau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS wau
        FROM cover GROUP BY day
    )
    SELECT day, dau, wau,
           CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU STICKINESS — per day, distinct daily actives over
    distinct trailing-7-day actives (the engagement ratio every
    growth team tracks), computed with the time-window EXPANSION
    idiom: each (user, day) row is exploded to the 7 days it covers
    and deduplicated, so the trailing-window distinct becomes a
    plain groupBy count. This is the scale-correct spelling — a
    distinct over a trailing RANGE frame does not exist in Spark
    (count_distinct is unsupported in window frames), and the naive
    day×day self-join re-scans the per-day frame 7 times; expansion
    is one linear explode (×7, bounded by the window length) over
    the already-deduplicated (user, day) frame, then partial+final
    counts. WAU days past the corpus edge fall out of the inner
    join with the DAU frame; the ratio is one raw double division.

    Scale shape: the corpus is touched ONCE — the (user, day)
    distinct is lineage-cut (``truncate_lineage``, the ab_lift
    precedent: both the DAU and WAU branches consume it, and
    without the cut Catalyst re-derives it per branch, scanning the
    corpus twice — plan-pinned to one scan); everything downstream
    — expansion, second distinct, both counts, the day-keyed join —
    runs on frames bounded by |users|·|days| and |users|·|days|·7,
    never corpus rows. No window-function distinct, no self-join."""
    from rs_query_engine_spark.session import truncate_lineage

    e = _t(spark, sf_dir, "events")
    ud = (
        e.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
        .transform(truncate_lineage)
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    cover = ud.select(
        "user_id",
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("day"),
    ).distinct()
    wau = cover.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        (F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


@register_dormant(
    "events_session_relative_features",
    oracle="""
    WITH o AS (
        SELECT user_id, event_id, ts,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us,
               CASE WHEN LAG(ts) OVER w1 IS NULL
                         OR ts - LAG(ts) OVER w1 >= INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS new_sess,
               ROW_NUMBER() OVER w1 AS rn
        FROM events
        WINDOW w1 AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           CAST(SUM(new_sess) OVER w2 AS BIGINT) AS session_ordinal,
           CAST(rn - MAX(CASE WHEN new_sess = 1 THEN rn END) OVER w2 + 1
                AS BIGINT) AS event_index,
           CAST(us - MAX(CASE WHEN new_sess = 1 THEN us END) OVER w2
                AS BIGINT) AS us_into_session
    FROM o
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING)
    """,
)
def events_session_relative_features(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-EVENT session-relative features — session ordinal, event
    index within session, and microseconds since session start: the
    row-grain enrichment sequence models train on
    (``events_sessionization`` aggregates the same 5-minute-gap
    sessions away; this keeps every event row). Spelled so EVERY
    window shares ONE (user_id)-partitioning with one ordering: the
    session id is a running SUM over the lag-gap marker, and both
    relative features come from a running MAX of the
    session-START row's rank/epoch (the start row always carries
    the marker), so no (user, session)-keyed second window ever
    materializes. Ordinals/indices/epochs are exact int64
    end-to-end; ``unix_micros`` not ``unix_timestamp`` (the
    CLAUDE.md truncation invariant).

    Scale shape: ONE exchange + ONE in-partition sort feed the lag,
    the rank, the running sum, and both running maxes — the naive
    spelling re-shuffles on (user, session_id) for the per-session
    window; this plan is pinned to a single hashpartitioning(user)
    exchange and zero joins."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w2 = w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts = F.col("ts")
    gap_us = F.lit(5 * 60 * 1_000_000)
    us = F.unix_micros(ts.cast("timestamp"))
    o = e.select(
        "user_id",
        "event_id",
        "ts",
        us.alias("us"),
        F.when(
            F.lag(us).over(w1).isNull()
            | (us - F.lag(us).over(w1) >= gap_us),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
        F.row_number().over(w1).alias("rn"),
    )
    start_rn = F.max(
        F.when(F.col("new_sess") == 1, F.col("rn"))
    ).over(w2)
    start_us = F.max(
        F.when(F.col("new_sess") == 1, F.col("us"))
    ).over(w2)
    return o.select(
        "user_id",
        "event_id",
        F.sum("new_sess").over(w2).cast("bigint").alias("session_ordinal"),
        (F.col("rn") - start_rn + 1).cast("bigint").alias("event_index"),
        (F.col("us") - start_us).cast("bigint").alias("us_into_session"),
    )


# ---------------------------------------------------------------------------
# Round-17 wave (6 queries): gaps-and-islands streaks, period set
# algebra, contingency residuals, daily autocorrelation, group LCP,
# ISO week-year boundaries — all exact-oracle-able, hash-verified at
# sf0.001 + sf0.01 from first commit (pen discipline).
# ---------------------------------------------------------------------------


@register_dormant(
    "events_activity_islands",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    g AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS INT) AS anchor
        FROM ud
    ),
    isl AS (
        SELECT user_id, anchor,
               CAST(COUNT(*) AS BIGINT) AS len,
               MIN(day) AS start
        FROM g GROUP BY user_id, anchor
    ),
    m AS (
        SELECT user_id, len, start,
               MAX(len) OVER (PARTITION BY user_id) AS maxlen
        FROM isl
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           MAX(len) AS longest_streak,
           MIN(CASE WHEN len = maxlen THEN start END) AS longest_start
    FROM m GROUP BY user_id
    """,
)
def events_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS activity streaks — per user: total active
    days, number of maximal consecutive-day runs, the longest run,
    and the start date of the (earliest) longest run. The island key
    is the classic ``day - row_number()`` anchor: consecutive days
    share one anchor, any gap changes it — an EXACT integer/date
    derivation, no session-gap heuristics. The longest-run start is
    tie-broken deterministically (earliest) via a per-user running
    MAX of island length and a conditional MIN — no
    engine-specific ``arg_min`` ordering semantics in the hash path.

    Scale shape: the per-user day frame is the deduplicated
    (user, day) grid, bounded by |users|·|days|, never corpus rows.
    After the one hash(user_id) exchange that feeds the
    ``row_number`` window, EVERY downstream step — the
    (user, anchor) island aggregate, the per-user max window, the
    final per-user aggregate — reuses that partitioning
    (hash(user) satisfies each clustered distribution), so the
    whole island pipeline runs with exactly TWO exchanges total
    (the (user, day) distinct + the user window) — plan-pinned.
    No joins, no driver round-trips."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = ud.withColumn(
        "anchor", F.date_sub("day", F.row_number().over(w).cast("int"))
    )
    isl = g.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start")
    )
    m = isl.select(
        "user_id",
        "len",
        "start",
        F.max("len").over(Window.partitionBy("user_id")).alias("maxlen"),
    )
    return m.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("active_days"),
        F.count(F.lit(1)).alias("n_islands"),
        F.max("len").alias("longest_streak"),
        F.min(
            F.when(F.col("len") == F.col("maxlen"), F.col("start"))
        ).alias("longest_start"),
    )


@register_dormant(
    "events_type_churn_sets",
    oracle="""
    WITH mid AS (
        SELECT (MIN(epoch_us(CAST(ts AS TIMESTAMP)))
                + MAX(epoch_us(CAST(ts AS TIMESTAMP)))) // 2 AS m
        FROM events
    ),
    s AS (
        SELECT user_id,
               COALESCE(list(DISTINCT event_type) FILTER (
                   WHERE event_type IS NOT NULL
                     AND epoch_us(CAST(ts AS TIMESTAMP)) < m), []) AS a,
               COALESCE(list(DISTINCT event_type) FILTER (
                   WHERE event_type IS NOT NULL
                     AND epoch_us(CAST(ts AS TIMESTAMP)) >= m), []) AS b
        FROM events, mid GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(a) AS BIGINT) AS n_first,
           CAST(len(b) AS BIGINT) AS n_second,
           COALESCE(array_to_string(list_sort(list_intersect(a, b)),
               ','), '') AS retained_types,
           COALESCE(array_to_string(list_sort(list_filter(
               a, x -> NOT list_contains(b, x))), ','), '')
               AS churned_types,
           COALESCE(array_to_string(list_sort(list_filter(
               b, x -> NOT list_contains(a, x))), ','), '')
               AS new_types
    FROM s
    """,
)
def events_type_churn_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-USER behavior-set CHURN between corpus halves — the
    event-type sets a user exercised before vs after the global
    time midpoint, and their exact set algebra: retained
    (intersection), churned (first minus second), new (second minus
    first). The midpoint is data-derived in exact int64 microseconds
    (``(min+max) DIV 2`` — ``unix_micros``, the CLAUDE.md
    truncation invariant) so the split point is identical on both
    engines; set results are serialized sorted (``array_sort`` +
    ``array_join``) so no engine-specific set iteration order ever
    reaches the driver hash, and empty sets hash as the empty
    string on both sides. NULL event types are excluded as set
    members EXPLICITLY on both engines (Spark ``collect_set`` drops
    NULL silently but DuckDB ``list(DISTINCT ...)`` keeps it — the
    oracle's ``event_type IS NOT NULL`` filter pins the shared
    semantics instead of leaning on the corpus never emitting NULL;
    r17 review finding).

    Scale shape: the one-row midpoint frame is crossJoin-BROADCAST
    to the corpus (plan-pinned: broadcast nested-loop, no cartesian
    — the governance_retention_sweep precedent); the per-user sets
    come from ONE groupBy carrying two conditional collect_sets
    (map-side partial collect, one exchange); the set algebra is
    per-row array work on the aggregated frame, bounded by |users|,
    never corpus rows."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mid = (
        e.agg(
            F.min(us).alias("mn"), F.max(us).alias("mx")
        ).select(F.expr("(mn + mx) DIV 2").alias("m"))
    )
    s = (
        e.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.collect_set(
                F.when(us < F.col("m"), F.col("event_type"))
            ).alias("a"),
            F.collect_set(
                F.when(us >= F.col("m"), F.col("event_type"))
            ).alias("b"),
        )
    )
    return s.select(
        "user_id",
        F.size("a").cast("bigint").alias("n_first"),
        F.size("b").cast("bigint").alias("n_second"),
        F.array_join(
            F.array_sort(F.array_intersect("a", "b")), ","
        ).alias("retained_types"),
        F.array_join(
            F.array_sort(F.array_except("a", "b")), ","
        ).alias("churned_types"),
        F.array_join(
            F.array_sort(F.array_except("b", "a")), ","
        ).alias("new_types"),
    )


@register_dormant(
    "events_association_residuals",
    oracle="""
    WITH cells AS (
        SELECT event_type,
               CAST(isodow(CAST(date_trunc('day', ts) AS DATE)) - 1
                    AS INT) AS dow,
               CAST(COUNT(*) AS BIGINT) AS observed
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT event_type, dow, observed,
               CAST(SUM(observed) OVER (PARTITION BY event_type)
                    AS BIGINT) AS row_tot,
               CAST(SUM(observed) OVER (PARTITION BY dow)
                    AS BIGINT) AS col_tot,
               CAST(SUM(observed) OVER () AS BIGINT) AS n
        FROM cells
    )
    SELECT event_type, dow, observed,
           CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE)
               AS expected,
           (CAST(observed AS DOUBLE)
               - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
             / sqrt(CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
               AS pearson_resid
    FROM t
    """,
)
def events_association_residuals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTINGENCY-TABLE association audit — event_type × ISO
    day-of-week cell counts with exact expected frequencies and
    Pearson standardized residuals ((O−E)/√E), the cell-level
    decomposition behind a chi-square independence test ("do error
    events cluster on weekends?"). Every margin (row total, column
    total, grand total) is an exact integer; ``expected`` is ONE
    double division of exact int64 products (row·col < 2^53 at every
    corpus scale this runs at — documented bound, no float
    accumulation anywhere), and the residual is a short fixed IEEE
    sequence (sub, div, sqrt) — identical on both engines, so the
    whole table hash-matches without any float-sum ordering hazard
    (a summed chi-square STATISTIC would order-diverge; the
    cell-level residual table is the hash-stable spelling AND the
    more useful diagnostic). Day-of-week via Spark ``weekday`` =
    DuckDB ``isodow − 1`` (the date_functions week-start pin).

    Scale shape: one partial+final count aggregation over the
    corpus; the margin windows run on the tiny |types|×7 cell frame
    (the single-partition window is over ≤ dozens of rows, never
    corpus rows)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    cells = (
        e.groupBy(
            "event_type",
            F.weekday(F.date_trunc("day", "ts").cast("date")).alias("dow"),
        )
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    t = cells.select(
        "event_type",
        "dow",
        "observed",
        F.sum("observed")
        .over(Window.partitionBy("event_type"))
        .alias("row_tot"),
        F.sum("observed").over(Window.partitionBy("dow")).alias("col_tot"),
        F.sum("observed").over(Window.partitionBy()).alias("n"),
    )
    # row_tot·col_tot through EXACT decimal (ADVICE r17): Spark's
    # non-ANSI bigint multiply would wrap silently past ~9.5e7 events
    # (row_tot*col_tot > 2^63) while DuckDB errors — decimal(38,0)
    # keeps the product exact to 1e38, and decimal→double is the same
    # correctly-rounded conversion as bigint→double at every corpus
    # scale (< 2^53: both exact), so hashes are unchanged.
    expected = (
        F.col("row_tot").cast("decimal(38,0)")
        * F.col("col_tot").cast("decimal(38,0)")
    ).cast("double") / F.col("n").cast("double")
    return t.select(
        "event_type",
        "dow",
        "observed",
        expected.alias("expected"),
        (
            (F.col("observed").cast("double") - expected)
            / F.sqrt(expected)
        ).alias("pearson_resid"),
    )


@register_dormant(
    "events_autocorr_daily",
    # second-moment sums can exceed 2^53 at larger SFs; VARCHAR hop
    # per the agg_corr_exact discipline.
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT 1 AS lag, a.c AS x, b.c AS y
        FROM daily a JOIN daily b ON b.day = a.day + 1
        UNION ALL
        SELECT 7 AS lag, a.c AS x, b.c AS y
        FROM daily a JOIN daily b ON b.day = a.day + 7
    ),
    s AS (
        SELECT lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
               CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
               CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
               CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
               CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy
        FROM pairs GROUP BY lag
    )
    SELECT lag, n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS autocorr
    FROM s
    """,
)
def events_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY-VOLUME AUTOCORRELATION at lag 1 and lag 7 — the
    time-series health probe behind seasonality detection (high
    lag-7, low lag-1 ⇒ weekly pattern; both high ⇒ trend): Pearson
    correlation of the daily event count against itself shifted k
    days, from EXACT integer sufficient statistics (the
    agg_corr_exact discipline: integer sums, one closed-form IEEE
    sequence per lag — built-in ``corr`` streams order-dependent
    running moments and can never hash-match). Lag pairing is a
    date-key join (``day + k``), not a ROWS-frame lag, so calendar
    gaps pair correctly instead of silently shifting.

    Scale shape: the corpus is scanned ONCE for the daily-count
    aggregate (partial+final counts); the frame is lineage-cut
    (``truncate_lineage``, the dau_wau precedent — both lag
    branches consume it, and without the cut Catalyst re-derives
    the corpus scan per branch — plan-pinned to one scan). The lag
    joins and the six-sum aggregate run over the |days|-sized
    frame."""
    from rs_query_engine_spark.session import truncate_lineage

    e = _t(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(truncate_lineage)
    )
    frames = []
    for k in (1, 7):
        lagged = daily.select(
            F.col("day").alias("day2"), F.col("c").alias("y")
        )
        frames.append(
            daily.join(lagged, F.date_add("day", k) == F.col("day2"))
            .select(
                F.lit(k).alias("lag"),
                F.col("c").alias("x"),
                F.col("y"),
            )
        )
    pairs = frames[0].unionByName(frames[1])
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    num = n_d * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(n_d * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        n_d * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return s.select("lag", "n", (num / den).alias("autocorr"))


@register_dormant(
    "string_common_prefix_groups",
    oracle="""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(props) AS min_props,
               MAX(props) AS max_props
        FROM events GROUP BY event_type
    ),
    l AS (
        SELECT event_type, n, min_props, max_props,
               CAST(COALESCE(list_max(list_transform(
                   generate_series(1, LEAST(length(min_props),
                                            length(max_props))),
                   i -> CASE WHEN substr(min_props, 1, CAST(i AS INT))
                                  = substr(max_props, 1, CAST(i AS INT))
                             THEN i ELSE 0 END)), 0) AS BIGINT) AS lcp_len
        FROM g
    )
    SELECT event_type, n, min_props, max_props, lcp_len,
           substr(min_props, 1, CAST(lcp_len AS INT)) AS lcp
    FROM l
    """,
)
def string_common_prefix_groups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PER-GROUP LONGEST COMMON PREFIX via the lexicographic min/max
    trick: the LCP of a whole group equals LCP(MIN(s), MAX(s)) —
    any string in between shares at least that prefix — so a
    full-group string-scan aggregate collapses to TWO mergeable
    built-in aggregates plus one post-hoc pairwise LCP. The
    pairwise LCP itself exploits prefix-equality monotonicity:
    ``substr(a,1,i) = substr(b,1,i)`` is non-increasing in i, so
    ``max(i where equal)`` IS the LCP — one ``array_max`` over a
    ``transform``'d ``sequence``, no mismatch-search lambda state.
    Applied to event ``props`` payloads per type (the shared
    template-prefix detector a log-schema miner runs). ASCII corpus
    ⇒ lexicographic MIN/MAX agree byte-wise across engines (the
    string_collation_groupby boundary); the empty-range guard
    matters because Spark ``sequence(1,0)`` DESCENDS ([1,0]) while
    DuckDB's is empty — pinned by ``greatest``/COALESCE on both
    sides.

    Scale shape: ONE partial+final aggregation pass (min/max/count
    are all map-side combinable); the LCP expression runs on the
    |groups|-sized frame only. No window, no join, no shuffle
    beyond the one group-by exchange."""
    e = _t(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("props").alias("min_props"),
        F.max("props").alias("max_props"),
    )
    l = g.withColumn(
        "lcp_len",
        # outer COALESCE (ADVICE r17): a group whose props are ALL
        # NULL yields min/max NULL → the CASE propagates NULL, but the
        # DuckDB oracle COALESCEs to 0 — pin the same NULL semantics
        # on both engines (latent: the corpus has no NULL props).
        F.expr(
            """
            CAST(COALESCE(
                 CASE WHEN least(length(min_props), length(max_props)) < 1
                 THEN 0
                 ELSE array_max(transform(
                     sequence(1, least(length(min_props),
                                       length(max_props))),
                     i -> CASE WHEN substr(min_props, 1, i)
                                    = substr(max_props, 1, i)
                               THEN i ELSE 0 END))
                 END, 0) AS BIGINT)
            """
        ),
    )
    return l.select(
        "event_type",
        "n",
        "min_props",
        "max_props",
        "lcp_len",
        F.expr("substr(min_props, 1, CAST(lcp_len AS INT))").alias("lcp"),
    )


@register_dormant(
    "date_iso_week_boundaries",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
        FROM orders WHERE o_orderkey % 7 = 0
    )
    SELECT o_orderkey, d AS order_date,
           CAST(extract(isoyear FROM d) AS INT) AS iso_year,
           CAST(weekofyear(d) AS INT) AS iso_week,
           CAST(isodow(d) - 1 AS INT) AS iso_weekday,
           CAST(extract(year FROM d) AS INT) AS cal_year,
           extract(isoyear FROM d) <> extract(year FROM d)
               AS boundary_week,
           weekofyear(d) = 53 AS week53,
           d - CAST(isodow(d) - 1 AS INT) AS iso_week_start,
           CAST(extract(isoyear FROM d) AS VARCHAR) || '-W'
               || lpad(CAST(weekofyear(d) AS VARCHAR), 2, '0')
               AS iso_label
    FROM o
    """,
)
def date_iso_week_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-8601 WEEK-YEAR boundary audit — the calendar edge every
    weekly-rollup migration gets wrong: Jan 1 can belong to week
    52/53 of the PREVIOUS iso-year (2023-01-01 → 2022-W52) and late
    December to week 1 of the NEXT (2024-12-30 → 2025-W01).
    Surfaces iso-year (Spark ``extract(YEAROFWEEK)`` ≡ DuckDB
    ``isoyear``), iso-week (``weekofyear`` is ISO on BOTH engines —
    unlike ``dayofweek``, which disagrees on week start and is
    already pinned in date_functions), Monday-0 weekday, the
    boundary/week-53 flags, the Monday week-start date, and the
    canonical ``YYYY-Www`` label. Exact ints/dates/strings
    end-to-end; rides the 7-year orders date span so both
    boundary directions and week-53 years actually occur.

    Scale shape: map-side scalar codegen inside one projection; the
    modulus sample filter is pushed to the scan; no shuffle."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
        )
    )
    d = F.col("d")
    iso_year = F.expr("extract(YEAROFWEEK FROM d)").cast("int")
    iso_week = F.weekofyear(d).cast("int")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        iso_year.alias("iso_year"),
        iso_week.alias("iso_week"),
        F.weekday(d).cast("int").alias("iso_weekday"),
        F.year(d).cast("int").alias("cal_year"),
        (F.expr("extract(YEAROFWEEK FROM d)") != F.year(d)).alias(
            "boundary_week"
        ),
        (F.weekofyear(d) == 53).alias("week53"),
        F.date_sub(d, F.weekday(d)).alias("iso_week_start"),
        F.concat(
            iso_year.cast("string"),
            F.lit("-W"),
            F.lpad(iso_week.cast("string"), 2, "0"),
        ).alias("iso_label"),
    )


@register_dormant(
    "quality_split_leakage_audit",
    oracle=r"""
    WITH f AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                   ' '))), ' ')) AS fp,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                          1, 8))::BIGINT % 100 < 90 THEN 'train'
                    WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                          1, 8))::BIGINT % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    g AS (
        SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_docs,
               MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) = 1
                   AS in_train,
               MAX(CASE WHEN split = 'val' THEN 1 ELSE 0 END) = 1
                   AS in_val,
               MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) = 1
                   AS in_test
        FROM f GROUP BY fp
    ),
    s AS (
        SELECT
            CAST(SUM(CASE WHEN in_train AND in_val THEN 1 ELSE 0 END)
                 AS BIGINT) AS tv_fp,
            CAST(SUM(CASE WHEN in_train AND in_val THEN n_docs ELSE 0
                 END) AS BIGINT) AS tv_docs,
            CAST(SUM(CASE WHEN in_train AND in_test THEN 1 ELSE 0 END)
                 AS BIGINT) AS tt_fp,
            CAST(SUM(CASE WHEN in_train AND in_test THEN n_docs ELSE 0
                 END) AS BIGINT) AS tt_docs,
            CAST(SUM(CASE WHEN in_val AND in_test THEN 1 ELSE 0 END)
                 AS BIGINT) AS vt_fp,
            CAST(SUM(CASE WHEN in_val AND in_test THEN n_docs ELSE 0
                 END) AS BIGINT) AS vt_docs,
            CAST(SUM(CASE WHEN CAST(in_train AS INT) + CAST(in_val AS
                 INT) + CAST(in_test AS INT) >= 2 THEN 1 ELSE 0 END)
                 AS BIGINT) AS any_fp,
            CAST(SUM(CASE WHEN CAST(in_train AS INT) + CAST(in_val AS
                 INT) + CAST(in_test AS INT) >= 2 THEN n_docs ELSE 0
                 END) AS BIGINT) AS any_docs
        FROM g
    )
    SELECT 'train-val' AS leak_kind, tv_fp AS n_fingerprints,
           tv_docs AS n_docs_involved FROM s
    UNION ALL
    SELECT 'train-test', tt_fp, tt_docs FROM s
    UNION ALL
    SELECT 'val-test', vt_fp, vt_docs FROM s
    UNION ALL
    SELECT 'any-cross-split', any_fp, any_docs FROM s
    """,
)
def quality_split_leakage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRAIN/EVAL SPLIT-LEAKAGE audit — the eval-contamination gate
    every training pipeline needs BEFORE benchmarking: near-duplicate
    document fingerprints that appear in MORE THAN ONE hash-assigned
    split (the sample_split_assign 90/5/5). A duplicated text whose
    copies hash into train AND test silently inflates eval scores;
    this reports, per split pair plus an any-cross-split total, how
    many fingerprints leak and how many documents are involved. The
    fingerprint is the BAG-OF-WORDS SET form — md5 of the sorted
    distinct-token list over the dedup_exact normalization — i.e.
    order- and multiplicity-insensitive near-dup identity (the
    set-similarity limit of ngram-Jaccard at n=1, threshold 1.0),
    chosen over the raw-text md5 deliberately: shuffled/repeated-word
    rewrites are exactly the duplicates an exact hash MISSES and a
    leakage audit exists to catch (and the corpus carries such
    clusters at every SF, so the report is non-degenerate). Composes
    two already-verified primitives (content fingerprint ×
    hash-bucket split) into the audit neither covers alone:
    dedup_exact sees duplicates but not splits;
    sample_split_train_val_test sees splits but not duplicates.

    Scale shape: ONE corpus scan → one hash(fp) groupBy carrying the
    three split-membership flags as conditional maxes (map-side
    partials) → one global 8-sum aggregate → a ``stack`` unpivot
    into the 4 report rows. No self-join, no union of re-scans —
    the union-per-kind spelling would re-aggregate the fingerprint
    frame three times; ``stack`` over one aggregate row is the
    single-pass spelling. Plan-pinned: 1 FileScan, no Join,
    partial aggregation at both levels."""
    from rs_query_engine_spark.functions.hashing import md5_hex8
    from rs_query_engine_spark.functions.text import normalize_text
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    b = md5_hex8(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(b < 90, "train").when(b < 95, "val").otherwise("test")
    )
    f = spread(d).select(
        F.md5(
            F.array_join(
                F.array_sort(
                    F.array_distinct(
                        F.split(normalize_text(F.col("text")), " ")
                    )
                ),
                " ",
            )
        ).alias("fp"),
        split.alias("split"),
    )

    def _in(s: str):
        return (
            F.max(F.when(F.col("split") == s, 1).otherwise(0)) == 1
        ).alias(f"in_{s}")

    g = f.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _in("train"),
        _in("val"),
        _in("test"),
    )
    n_splits = (
        F.col("in_train").cast("int")
        + F.col("in_val").cast("int")
        + F.col("in_test").cast("int")
    )

    def _pair(cond, tag):
        return [
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{tag}_fp"),
            F.sum(F.when(cond, F.col("n_docs")).otherwise(0))
            .cast("bigint")
            .alias(f"{tag}_docs"),
        ]

    s = g.agg(
        *_pair(F.col("in_train") & F.col("in_val"), "tv"),
        *_pair(F.col("in_train") & F.col("in_test"), "tt"),
        *_pair(F.col("in_val") & F.col("in_test"), "vt"),
        *_pair(n_splits >= 2, "any"),
    )
    return s.selectExpr(
        "stack(4, 'train-val', tv_fp, tv_docs,"
        " 'train-test', tt_fp, tt_docs,"
        " 'val-test', vt_fp, vt_docs,"
        " 'any-cross-split', any_fp, any_docs)"
        " AS (leak_kind, n_fingerprints, n_docs_involved)"
    )
