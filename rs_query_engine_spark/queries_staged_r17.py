"""Dormant queries written in round 17: registered with
``register_dormant``, so ``dormant_queries()`` serves them and
``tests/oracle/test_staged_r17_parity.py`` checks them
against their oracles, but ``queries()`` does not.

Seeded with 8 queries hash-verified at sf0.001 + sf0.01: the
exact WEIGHTED median by integer rank selection (the length of the
document holding the median character — 2·cum ≥ total crossing,
WindowGroupLimit-pushed rn=1 pick), SYSTEMATIC PPS sampling
(per-source Hamilton budgets walked as evenly-spaced integer
thresholds over the running character mass — Σ hits = K by
telescoping, multiplicity for oversized docs, two corpus scans
total), SORTED-NEIGHBORHOOD dedup (the third classic blocking
family: one keyed sort, W leads in one Window, Levenshtein-capped
prefix verify — no hashing, no pair explosion), the HAPAX legomena
ratio (sort-free stacked partial aggregates, one division),
inter-arrival BURSTINESS (Goh-Barabási B from exact int64/decimal
moment sums, mirrored double expression trees), the trailing
time-INTERVAL RANGE frame (per-row rolling hour metrics — the
calendar-arithmetic frame family every other range frame here
spells numerically), and the Benford first-digit audit (exact
integer-cents digit extraction, repr-round-tripped expected
frequencies), and funnel TIME-TO-CONVERT latency (first-view →
first-purchase gaps summarized by exact rank selection — lower
median and discrete p90, never interpolation). Round 15 added 3
more, hash-verified at sf0.001 + sf0.01 from first commit: the
Spark-4.1 TIME-typed minute-of-day profile (make_time /
time_trunc / TIME accessors end-to-end, serialized to known
types at the boundary), the A/B relative-lift join (exact
per-arm counts and decimal mass, two tiny arm frames equi-joined
per event_type — the pen-header lead landed WITH its pairing
condition), and the per-user dyadic EWMA (recency average as an
exact int64 geometric sum over the last W=16 values, closed-form
denominator 2^W − 2^(W−m) — the "EWMA vs closed-form integer
geometric sums" lead landed), then a 4th: the MULTI-WAY clustered
write-layout audit (repartition-by-type + sortWithinPartitions
(type, ts), audited through _metadata file_path/row_index — run
contiguity, in-run time order, and the exact one-run-per-type
count). A round-15 second wave then CLOSED the pen at **15** with
the multi-dimensional GROUP BY family — the last ungrouped-
aggregation API surfaces with no query anywhere in the registry:
ROLLUP hierarchy totals (``DataFrame.rollup`` + ``grouping_id``,
Expand-planned, DuckDB GROUPING bit-convention probed identical),
CUBE cross-tabulation (``DataFrame.cube`` over
(event_type, dayofweek), the dow mapping probed as DuckDB
``EXTRACT(dow)+1``), and explicit-values relational PIVOT
(``GroupedData.pivot`` desugaring to one-pass conditional
aggregates, coalesced against the FILTER-clause oracle; the row
total is a projection over the pivoted columns, never a second
aggregate joined back).

Round-15 Spark 4.1 surface scan (VERDICT r14 next-#6): probed the
installed 4.1.2 function/type surface once. NEW and seeded: the
TIME data type family (``to_time``/``make_time``/``time_trunc``/
TIME accessors, feature-flagged behind
``spark.sql.timeType.enabled`` — landed as
``events_time_of_day_profile``; the TIME column itself stays
inside the plan because neither the driver canonicalizer nor
DuckDB's date_trunc has a TIME surface at the boundary). Probed
and REJECTED: ``theta_sketch_agg``/``hll_sketch_agg`` (approx-only
results would grow the rows-only set the verdict wants held at
three), ``uniform``/``randstr`` (seeded but partition-order-
dependent → not stable under repartition, unfit for an exact
oracle). Already covered in earlier pens: VARIANT
(``json_variant_extract``, r11), Python DataSource filter pushdown
(r13), recursive CTE / SQL scripting / pipe syntax / LATERAL /
GROUP BY ALL / named params / IDENTIFIER / EXECUTE IMMEDIATE.
Re-probed NOTHING recorded BLOCKED (Avro,
transformWithStateInPandas) — the image did not change.

Float-determinism discipline matches ``queries.py`` (see its module
docstring): row-level doubles raw, no round(), SUM/AVG through exact
decimals, every aggregate/computed column aliased identically in the
Spark code and the DuckDB oracle.

Candidate leads (from round-14 loose ends — evaluate, don't assume):

- **SQL + Python-compute surfaces remain CLOSED** (r13-r16 pens):
  recursive CTE, SQL UDF/table function/scripting, pipe syntax,
  LATERAL, Observation, GROUP BY ALL, named params, IDENTIFIER(),
  EXECUTE IMMEDIATE, listagg, collations, try_*, the positional
  regexp trio, multi-distinct Expand, ``_metadata``; every Python
  tier incl. the full DataSource family. Scan 4.1 release notes
  before assuming anything new.
- **Avro still BLOCKED** (no spark-avro in pip pyspark);
  ``transformWithStateInPandas`` still BLOCKED (hard google.protobuf
  import). Do not re-probe unless the image changes.
- **The bucketed-broadcast hybrid similarity join** stays shelved
  unless a plan audit finds a shuffle it would remove (r11-r14:
  none).
- The rows-only trio (``similarity_ivf_kmeans``,
  ``agg_approx_percentile``, ``text_unigram_logprob``) stays
  rows-only by design with invariant companions — re-evaluate only
  if one becomes exactly oracle-able.
- Unexplored-but-plausible operator families if a round needs seeds:
  the ENTIRE round-14 leads ledger has now landed (weighted-median /
  SNM / burstiness / Benford / INTERVAL-frame / funnel
  time-to-convert as round-14 seeds; A/B relative-lift, dyadic
  EWMA, and the multi-way sortWithinPartitions write-layout audit
  as round-15 additions below) — rounds 16-17 seed from fresh
  evaluation, not this list. Evaluated and REJECTED at round 14:
  pairwise
  source vocabulary-Jaccard matrix (the synthetic corpus's tiny
  shared vocab makes every cell ≈1 — a trivial pin), phonetic
  join family (DuckDB 1.0 has no soundex), moving median over row
  frames (interpolation-convention roulette on even-count windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_query_engine_spark.queries import D_PRICE, _t, register_dormant

# ---------------------------------------------------------------------------
# Round-14 seeds (r13-r16 precedent: the pen is created at round end
# and seeded the same round with a few verified queries)
# ---------------------------------------------------------------------------


@register_dormant(
    "agg_weighted_median_exact",
    oracle="""
    WITH s AS (
        SELECT source, doc_id, n_chars,
               SUM(n_chars) OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum,
               CAST(SUM(n_chars) OVER (PARTITION BY source) AS BIGINT)
                   AS total_chars,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT)
                   AS n_docs
        FROM documents
    ),
    q AS (
        SELECT source, doc_id, n_chars, n_docs, total_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rn
        FROM s WHERE 2 * cum >= total_chars
    )
    SELECT source, n_docs, total_chars,
           CAST(n_chars AS BIGINT) AS median_chars,
           doc_id AS median_doc
    FROM q WHERE rn = 1
    """,
)
def agg_weighted_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median by exact rank selection — per source, the
    length of the document holding the MEDIAN CHARACTER (the first
    row, in (length, doc_id) order, whose cumulative mass reaches
    half the source total): the "typical document a random TOKEN
    lives in", which skews far above the doc-count median whenever a
    few giants carry most of the mass — the number that decides
    chunking and packing parameters, where the unweighted median
    misleads. SELECTION, not interpolation: the crossing rule
    ``2·cum ≥ total`` is pure int64, the winning row is unique by
    the detied ordering (within equal lengths the qualifying rows
    are a doc_id suffix, so rn=1 is well-defined on both engines),
    and no float exists anywhere in the query.

    Scale shape: both mass frames (running + full-partition) share
    the (source)-keyed exchange; the crossing filter and the rn=1
    pick run on the same sorted partitions — one keyed sort powers
    everything, no join, no global order."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    wo = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wfull = Window.partitionBy("source")
    s = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars")
        .over(wo.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("n_chars").over(wfull).alias("total_chars"),
        F.count(F.lit(1)).over(wfull).alias("n_docs"),
    )
    q = s.filter(2 * F.col("cum") >= F.col("total_chars")).select(
        "source",
        "doc_id",
        "n_chars",
        "n_docs",
        "total_chars",
        F.row_number().over(wo).alias("rn"),
    )
    return q.filter(F.col("rn") == 1).select(
        "source",
        "n_docs",
        "total_chars",
        F.col("n_chars").alias("median_chars"),
        F.col("doc_id").alias("median_doc"),
    )


_PPS_K = 500  # total systematic sample budget across the corpus


@register_dormant(
    "sample_systematic_pps",
    oracle=f"""
    WITH mass AS (
        SELECT source, CAST(SUM(n_chars) AS BIGINT) AS m_s
        FROM documents GROUP BY source
    ),
    quota AS (
        SELECT source, m_s,
               ({_PPS_K} * m_s) // SUM(m_s) OVER () AS base,
               ({_PPS_K} * m_s) % SUM(m_s) OVER () AS rem
        FROM mass
    ),
    alloc AS (
        SELECT source, m_s,
               CAST(base + CASE WHEN
                   ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                       <= {_PPS_K} - SUM(base) OVER ()
                   THEN 1 ELSE 0 END AS BIGINT) AS k_s
        FROM quota
    ),
    c AS (
        SELECT d.doc_id, d.source, d.n_chars, a.k_s, a.m_s,
               SUM(d.n_chars) OVER (PARTITION BY d.source
                                    ORDER BY d.doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum
        FROM documents d JOIN alloc a USING (source)
    )
    SELECT doc_id, source, n_chars,
           CAST((k_s * cum) // m_s
                - (k_s * (cum - n_chars)) // m_s AS BIGINT) AS n_hits
    FROM c
    WHERE (k_s * cum) // m_s > (k_s * (cum - n_chars)) // m_s
    """,
)
def sample_systematic_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEMATIC probability-proportional-to-size sampling — the
    survey-sampling classic that actually BUILDS the sample the
    Hamilton apportionment only budgets: each source's character
    mass is walked in fixed doc_id order and a document is selected
    every time the running mass crosses one of its source's k_s
    evenly-spaced thresholds (``⌊k_s·cum/m_s⌋`` increments), so
    selection probability is exactly proportional to document size,
    Σ n_hits = k_s per source and = K overall BY CONSTRUCTION (the
    floors telescope), and a document bigger than the stride is
    selected with multiplicity — the n_hits column — rather than
    silently capping. Every threshold comparison is int64 (products
    ≤ K·total_mass), the per-source budgets come from the same
    largest-remainder rule ``sample_proportional_allocation`` pins,
    and nothing floats anywhere.

    Scale shape: mass rollup (partial+final), a |sources|-row
    Hamilton frame (broadcast 1-row total + one tiny window), the
    alloc broadcast-joined back onto the corpus scan, then ONE
    (source)-keyed sort powers the running mass and the selection is
    a map-side integer filter — no global order, no second pass."""
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    mass = d.groupBy("source").agg(F.sum("n_chars").alias("m_s"))
    # total mass as a window over the |sources|-row frame, NOT a
    # second aggregate cross-joined back: Catalyst does not dedupe
    # the shared subtree, so the crossJoin form scans the corpus a
    # second (and third) time for a single number
    wall = Window.partitionBy()
    quota = mass.select(
        "source",
        "m_s",
        F.expr(
            f"({_PPS_K} * m_s) DIV sum(m_s) OVER ()"
        ).alias("base"),
        (
            (F.lit(_PPS_K) * F.col("m_s"))
            % F.sum("m_s").over(wall)
        ).alias("rem"),
    )
    wrank = Window.orderBy(F.col("rem").desc(), F.col("source"))
    alloc = quota.select(
        "source",
        "m_s",
        (
            F.col("base")
            + F.when(
                F.row_number().over(wrank)
                <= F.lit(_PPS_K) - F.sum("base").over(wall),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("k_s"),
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = d.join(F.broadcast(alloc), "source").select(
        "doc_id",
        "source",
        "n_chars",
        "k_s",
        "m_s",
        F.sum("n_chars").over(wcum).alias("cum"),
    )
    lo = F.expr("(k_s * (cum - n_chars)) DIV m_s")
    hi = F.expr("(k_s * cum) DIV m_s")
    return c.filter(hi > lo).select(
        "doc_id", "source", "n_chars", (hi - lo).alias("n_hits")
    )


# Sorted-neighborhood constants: block on the first token, compare
# each row with the next _SNM_W neighbors in (text, doc_id) order,
# verify with a Levenshtein cap on the first _SNM_PFX chars.
_SNM_W = 2
_SNM_PFX = 40
_SNM_MAXLEV = 8


def _snm_oracle() -> str:
    neighbor_selects = "\n        UNION ALL\n".join(
        f"""        SELECT doc_id AS id_a,
               LEAD(doc_id, {k}) OVER w{k} AS id_b,
               substr(text, 1, {_SNM_PFX}) AS pa,
               LEAD(substr(text, 1, {_SNM_PFX}), {k}) OVER w{k} AS pb
        FROM toks
        WINDOW w{k} AS (PARTITION BY blk ORDER BY text, doc_id)"""
        for k in range(1, _SNM_W + 1)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, lower(text) AS text,
               regexp_split_to_array(lower(text), '\s+')[1] AS blk
        FROM documents
    ),
    cand AS (
{neighbor_selects}
    )
    SELECT id_a, id_b,
           CAST(levenshtein(pa, pb) AS BIGINT) AS prefix_lev
    FROM cand
    WHERE id_b IS NOT NULL AND levenshtein(pa, pb) <= {_SNM_MAXLEV}
    """


@register_dormant("dedup_sorted_neighborhood", oracle=_snm_oracle())
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD dedup (SNM) — the third classic blocking
    family alongside the repo's LSH banding and key blocking: sort
    each block (first token) by normalized text and compare every row
    with only its next W neighbors, so candidate generation is O(n·W)
    window arithmetic on an already-sorted partition — the method of
    choice when near-duplicates share prefixes (crawl re-fetches,
    versioned pages) because it finds them with NO hashing and NO
    pair explosion. Each of the W neighbor offsets is one LEAD over
    the SAME window spec (one keyed sort total); verification is an
    exact Levenshtein cap on a fixed-length prefix — the classic
    integer DP both engines implement identically.

    The deliberate weakness is part of the pin: SNM only sees
    near-dups that sort together (the windowed LSH families catch
    the rest) — on this corpus that is the exact-duplicate clusters
    (prefix_lev = 0 pairs) plus shared-prefix edits.

    Scale shape: one (block)-keyed sort, W map-side LEADs, a map-side
    verify filter — no join, no shuffle beyond the one sort, and the
    (doc_id, prefix) projection is all that rides it."""
    from pyspark.sql import Window

    from rs_query_engine_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(F.col("text")).alias("text"),
        tokens("text").getItem(0).alias("blk"),
    )
    toks = d.select(
        "doc_id",
        "blk",
        "text",
        F.substring("text", 1, _SNM_PFX).alias("pa"),
    )
    # every neighbor offset is a LEAD over the SAME window spec, so
    # all of them evaluate in ONE Window operator over one keyed sort
    # (a union of per-offset selects would sort the corpus W times);
    # the offsets then unfold map-side via explode
    w = Window.partitionBy("blk").orderBy("text", "doc_id")
    sel = toks.select(
        F.col("doc_id").alias("id_a"),
        "pa",
        F.array(
            *[
                F.struct(
                    F.lead("doc_id", k).over(w).alias("id_b"),
                    F.lead("pa", k).over(w).alias("pb"),
                )
                for k in range(1, _SNM_W + 1)
            ]
        ).alias("nbrs"),
    )
    cand = sel.select(
        "id_a", "pa", F.explode("nbrs").alias("nb")
    ).select(
        "id_a",
        F.col("nb.id_b").alias("id_b"),
        "pa",
        F.col("nb.pb").alias("pb"),
    )
    lev = F.levenshtein("pa", "pb")
    return (
        cand.filter(F.col("id_b").isNotNull())
        .filter(lev <= _SNM_MAXLEV)
        .select(
            "id_a",
            "id_b",
            lev.cast("bigint").alias("prefix_lev"),
        )
    )


@register_dormant(
    "text_hapax_ratio",
    oracle=r"""
    WITH toks AS (
        SELECT source,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        FROM documents
    ),
    freq AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
        FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(f) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
           CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
    FROM freq GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPAX LEGOMENA ratio per source — the fraction of a source's
    vocabulary that occurs exactly once: the lexical-richness and
    OCR/noise tell corpus linguists read first (clean prose sits near
    Zipf's ~50%; far above it usually means garbled tokens inflating
    the vocabulary, far below means boilerplate repetition). Two
    stacked partial+final aggregates — (source, token) frequencies,
    then the per-source rollup — all integer until the single
    hapax/distinct division (two exact int64→double conversions, one
    IEEE division).

    Scale shape: the token explode is the same posting-list build the
    search/TF-IDF family uses; both aggregates keep map-side
    partials, and the second runs on the |sources|·|vocab|-bounded
    frequency frame, not the corpus."""
    from rs_query_engine_spark.functions.text import tokens

    d = _t(spark, sf_dir, "documents")
    freq = (
        d.select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    return freq.groupBy("source").agg(
        F.sum("f").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.when(F.col("f") == 1, F.lit(1)).otherwise(F.lit(0)))
        .alias("n_hapax"),
        (
            F.sum(
                F.when(F.col("f") == 1, F.lit(1)).otherwise(F.lit(0))
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("hapax_ratio"),
    )


@register_dormant(
    "events_interarrival_burstiness",
    oracle="""
    WITH e AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        FROM events
    ),
    gaps AS (
        SELECT event_type,
               LEAD(us) OVER (PARTITION BY event_type
                              ORDER BY us, event_id) - us AS dt
        FROM e
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_gaps,
               CAST(SUM(dt) AS BIGINT) AS sx,
               SUM(CAST(dt AS DECIMAL(19,0))
                   * CAST(dt AS DECIMAL(19,0))) AS sx2
        FROM gaps WHERE dt IS NOT NULL GROUP BY event_type
    ),
    d AS (
        SELECT event_type, n_gaps,
               CAST(n_gaps AS DOUBLE) AS nd,
               CAST(sx AS DOUBLE) AS sxd,
               CAST(CAST(sx2 AS VARCHAR) AS DOUBLE) AS sx2d
        FROM s WHERE n_gaps >= 2 AND sx > 0
    ),
    v AS (
        SELECT event_type, n_gaps, sxd / nd AS mean_gap_us,
               sqrt((nd * sx2d - sxd * sxd) / (nd * nd)) AS sd
        FROM d
    )
    SELECT event_type, n_gaps, mean_gap_us,
           (sd - mean_gap_us) / (sd + mean_gap_us) AS burstiness
    FROM v
    """,
)
def events_interarrival_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INTER-ARRIVAL burstiness per event type — the Goh-Barabási
    index B = (σ−μ)/(σ+μ) over the gaps between consecutive
    same-type events: −1 is a metronome, 0 is a memoryless Poisson
    stream, →1 is heavy-tailed bursts — the one number that says
    whether a stream's load can be capacity-planned from its mean
    (events_concurrency_peak's worst case diverges from the mean
    exactly as B grows). Discipline: gaps are exact int64 micros
    from one LEAD; Σdt is an exact BIGINT and Σdt² an exact
    DECIMAL(38,0) (squares as DECIMAL(19,0)² — no float
    accumulation); both leave exactness as correctly-rounded doubles
    (the oracle hops Σdt² through VARCHAR past 2^53, the
    agg_zscore_outliers rule) and the σ/μ/B arithmetic is the SAME
    fixed expression tree on both engines — population variance,
    one sqrt (allowed by the float discipline), three divisions.
    Degenerate groups (n<2 or zero total gap, where B is 0/0) are
    filtered identically rather than hashing NaN.

    Scale shape: one (type)-keyed sort powers the LEAD, then a
    partial+final aggregate to |types| rows; the double arithmetic
    runs on that collapsed frame."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    gaps = e.select(
        "event_type", (F.lead("us").over(w) - F.col("us")).alias("dt")
    ).filter(F.col("dt").isNotNull())
    dt_dec = F.col("dt").cast("decimal(19,0)")
    s = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("dt").alias("sx"),
        F.sum(dt_dec * dt_dec).alias("sx2"),
    )
    d = s.filter((F.col("n_gaps") >= 2) & (F.col("sx") > 0)).select(
        "event_type",
        "n_gaps",
        F.col("n_gaps").cast("double").alias("nd"),
        F.col("sx").cast("double").alias("sxd"),
        F.col("sx2").cast("double").alias("sx2d"),
    )
    mean = F.col("sxd") / F.col("nd")
    v = d.select(
        "event_type",
        "n_gaps",
        mean.alias("mean_gap_us"),
        F.sqrt(
            (F.col("nd") * F.col("sx2d") - F.col("sxd") * F.col("sxd"))
            / (F.col("nd") * F.col("nd"))
        ).alias("sd"),
    )
    return v.select(
        "event_type",
        "n_gaps",
        "mean_gap_us",
        (
            (F.col("sd") - F.col("mean_gap_us"))
            / (F.col("sd") + F.col("mean_gap_us"))
        ).alias("burstiness"),
    )


_TRAIL_WIN = "INTERVAL 1 HOUR"  # trailing event-time frame width


@register_dormant(
    "events_trailing_window_metrics",
    oracle=f"""
    SELECT event_id, event_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER w
                     AS VARCHAR) AS DOUBLE)
               AS v_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY CAST(ts AS TIMESTAMP)
                 RANGE BETWEEN {_TRAIL_WIN} PRECEDING AND CURRENT ROW)
    """,
)
def events_trailing_window_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIME-INTERVAL RANGE frame — per event, the count and exact
    value sum of all same-type events in the trailing HOUR of EVENT
    time (``RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT
    ROW``): the per-row rolling load metric rate limiters and
    anomaly scorers read, and a frame family every other range frame
    in this repo spells numerically — here the engine itself does
    the calendar arithmetic, and the pin is that both engines place
    the inclusive [t−1h, t] boundary identically (probed on
    boundary-straddling fixtures before this query existed).
    Timestamp ties need NO detie: a RANGE frame is value-based, so
    peer rows share one frame on both engines by definition. The
    sum accumulates as exact DECIMAL inside the frame and leaves as
    one double per row.

    Scale shape: one (type)-keyed sort powers both frame aggregates
    (shared window spec, one Window operator); the frame buffer is
    bounded by an hour of events per key, independent of corpus
    size."""
    e = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("tss"),
        "value",
    )
    over = (
        "OVER (PARTITION BY event_type ORDER BY tss "
        f"RANGE BETWEEN {_TRAIL_WIN} PRECEDING AND CURRENT ROW)"
    )
    return e.selectExpr(
        "event_id",
        "event_type",
        f"CAST(count(*) {over} AS BIGINT) AS n_trailing_1h",
        f"CAST(sum(CAST(value AS DECIMAL(12,2))) {over} AS DOUBLE)"
        " AS v_trailing_1h",
    )


def _benford_parts() -> tuple[dict, str]:
    """Engine-mirrored Benford constants: the expected first-digit
    frequencies log10(1+1/d) are computed ONCE here; the oracle CASE
    embeds them as repr literals (repr round-trips the exact double,
    DuckDB's strtod parses it back bit-identically) and the Spark
    literal chain is built from the SAME returned dict."""
    import math

    probs = {d: math.log10(1 + 1 / d) for d in range(1, 10)}
    # string literal + CAST, not a bare numeric literal: DuckDB types
    # bare decimals as DECIMAL (driver hash is type-sensitive) and the
    # VARCHAR→DOUBLE path is strtod — correctly rounded, so the repr
    # round-trips to the bit-identical double Spark gets via py4j
    sql_case = "CASE " + " ".join(
        f"WHEN lead_digit = {d} THEN CAST('{probs[d]!r}' AS DOUBLE)"
        for d in range(1, 10)
    ) + " END"
    return probs, sql_case


@register_dormant(
    "quality_benford_audit",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                    AS BIGINT) AS c
        FROM orders
    ),
    digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
            AS lead_digit
        FROM cents WHERE c > 0
    ),
    counts AS (
        SELECT lead_digit, CAST(COUNT(*) AS BIGINT) AS n
        FROM digits GROUP BY lead_digit
    )
    SELECT lead_digit, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE)
               AS frac,
           {_benford_parts()[1]} AS benford_expected
    FROM counts
    """,
)
def quality_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD first-digit audit — the observed leading-digit
    distribution of order amounts against Benford's law
    (P(d) = log10(1+1/d)): the classic screen for fabricated or
    systematically-generated numeric columns (synthetic uniform
    amounts, like this corpus's, FAIL Benford loudly — the audit's
    point is to quantify by how much). Digit extraction never strings
    a double (engine float rendering differs): amounts become exact
    int64 CENTS through a DECIMAL(12,2) cast, and the leading digit
    of an INTEGER renders identically everywhere. The expected
    frequencies are nine shared literals round-tripped through repr
    (bit-identical in both engines); frac is one int→double division
    per digit.

    Scale shape: map-side digit extraction, one partial+final
    aggregate to ≤9 rows, and the total as a window over that tiny
    frame — corpus size only touches the scan."""
    d = _t(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast(D_PRICE) * 100)
        .cast("bigint")
        .alias("c")
    )
    from pyspark.sql import Window

    digits = d.filter(F.col("c") > 0).select(
        F.substring(F.col("c").cast("string"), 1, 1)
        .cast("bigint")
        .alias("lead_digit")
    )
    counts = digits.groupBy("lead_digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    probs = _benford_parts()[0]
    expected = F.lit(None).cast("double")
    for dig in range(9, 0, -1):
        expected = F.when(
            F.col("lead_digit") == dig, F.lit(probs[dig])
        ).otherwise(expected)
    return counts.select(
        "lead_digit",
        "n",
        (
            F.col("n").cast("double")
            / F.sum("n").over(Window.partitionBy()).cast("double")
        ).alias("frac"),
        expected.alias("benford_expected"),
    )


@register_dormant(
    "events_funnel_latency",
    oracle="""
    WITH fv AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view'
                        THEN epoch_us(CAST(ts AS TIMESTAMP)) END)
                   AS first_view_us
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT e.user_id,
               MIN(epoch_us(CAST(e.ts AS TIMESTAMP)))
                   - MAX(fv.first_view_us) AS gap_us
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'purchase'
          AND fv.first_view_us IS NOT NULL
          AND epoch_us(CAST(e.ts AS TIMESTAMP)) > fv.first_view_us
        GROUP BY e.user_id
    ),
    ranked AS (
        SELECT gap_us,
               ROW_NUMBER() OVER (ORDER BY gap_us, user_id) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM conv
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converted,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2
                         THEN gap_us END) AS BIGINT) AS median_gap_us,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10
                         THEN gap_us END) AS BIGINT) AS p90_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM ranked
    """,
)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUNNEL time-to-convert — how long after their FIRST view a
    user takes to make their first purchase-after-that-view, with
    the latency distribution summarized by exact RANK SELECTION
    (lower median at rn=(n+1)//2, discrete p90 at rn=⌈0.9n⌉ — chosen
    values, never interpolation, so no convention roulette): the
    number that turns events_funnel's conversion COUNT into an SLA
    ("half convert within X minutes"). Gaps are exact int64 micros;
    every statistic is a selection or MIN/MAX — nothing floats.

    Scale shape: the corpus collapses to one row per user
    (partial+final conditional aggregate), purchases join back on
    the user key (one equi-shuffle — never an event×event pair
    join), and the exact global selection sorts only the
    |converted users| frame. That single-partition rank is the
    honest cost of an EXACT global median — swap the selection for
    approx_percentile's mergeable sketch when the user base itself
    is too big to sort on one executor (the same trade
    agg_percentiles_distinct documents)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    fv = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias(
            "first_view_us"
        )
    ).filter(F.col("first_view_us").isNotNull())
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("us") > F.col("first_view_us"))
        .groupBy("user_id")
        .agg(
            (F.min("us") - F.max("first_view_us")).alias("gap_us")
        )
    )
    wr = Window.orderBy("gap_us", "user_id")
    wall = Window.partitionBy()
    ranked = conv.select(
        "gap_us",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    med_rn = F.expr("(n + 1) DIV 2")
    p90_rn = F.expr("(9 * n + 9) DIV 10")
    return ranked.agg(
        F.max("n").alias("n_converted"),
        F.min("gap_us").alias("min_gap_us"),
        F.max(F.when(F.col("rn") == med_rn, F.col("gap_us"))).alias(
            "median_gap_us"
        ),
        F.max(F.when(F.col("rn") == p90_rn, F.col("gap_us"))).alias(
            "p90_gap_us"
        ),
        F.max("gap_us").alias("max_gap_us"),
    )


# ---------------------------------------------------------------------------
# Round-15 additions (VERDICT r14 next-#5: fill the pen from the
# evaluated-leads ledger; next-#6: the Spark 4.1 surface scan note
# lives in the module docstring)
# ---------------------------------------------------------------------------


def _ensure_time_type(spark: SparkSession) -> None:
    """Enable the Spark 4.1 TIME data type (SPARK-51162 family): the
    type is feature-flagged off by default in 4.1.2; the flag only
    unlocks the type and changes no other semantics.

    ``session.py:get_spark`` now sets the flag at session build time
    (ADVICE r15: a mid-session ``conf.set`` persists for the rest of
    the session, so the suite would otherwise run order-dependently
    flag-on after this query's first invocation). This helper stays
    as an idempotent safeguard for externally-built sessions (the
    round driver constructs its own SparkSession)."""
    spark.conf.set("spark.sql.timeType.enabled", "true")


@register_dormant(
    "events_time_of_day_profile",
    oracle="""
    WITH m AS (
        SELECT CAST(date_trunc('minute', CAST(ts AS TIMESTAMP))
                    AS TIME) AS tm,
               CAST(value AS DECIMAL(12,2)) AS v
        FROM events
    )
    SELECT CAST(tm AS VARCHAR) AS minute_of_day,
           CAST(hour(tm) * 60 + minute(tm) AS BIGINT) AS minute_index,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS v_sum
    FROM m GROUP BY tm
    """,
)
def events_time_of_day_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIME-typed minute-of-day load profile — the Spark 4.1 TIME
    data type (SPARK-51162), driven end-to-end: wall-clock
    time-of-day built with ``make_time`` (exact integer micros for
    the fractional second), truncated with ``time_trunc('MINUTE')``,
    grouped AS a TIME value, and read back through the TIME
    accessors ``hour``/``minute`` — the diurnal-load rollup that
    ignores the calendar date entirely (capacity planning reads
    load-by-time-of-day across all days). DuckDB mirrors by
    truncating the TIMESTAMP first and casting to TIME (its
    date_trunc has no TIME overload); both engines then render the
    minute-granular TIME identically as 'HH:MM:SS'. The result
    serializes the TIME as VARCHAR + an integer minute index — the
    driver canonicalizer has no TIME family, so the TIME type stays
    inside the plan (where the operators run) and leaves as known
    types. The value mass accumulates as exact DECIMAL and exits
    through the VARCHAR-hop double cast on the DuckDB side.

    Scale shape: map-side make_time/time_trunc, one partial+final
    aggregate onto a ≤1440-row domain — corpus size only touches
    the scan."""
    _ensure_time_type(spark)
    t = (
        _t(spark, sf_dir, "events")
        .select(
            F.col("ts").cast("timestamp").alias("tss"),
            F.col("value").cast(D_PRICE).alias("v"),
        )
        .selectExpr(
            "make_time(hour(tss), minute(tss),"
            " CAST(unix_micros(tss) % 60000000 AS DECIMAL(16,6))"
            " / 1000000) AS t",
            "v",
        )
    )
    g = (
        t.selectExpr("time_trunc('MINUTE', t) AS tm", "v")
        .groupBy("tm")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("vsum"))
    )
    return g.select(
        F.col("tm").cast("string").alias("minute_of_day"),
        (F.hour("tm") * 60 + F.minute("tm"))
        .cast("bigint")
        .alias("minute_index"),
        "n",
        F.col("vsum").cast("double").alias("v_sum"),
    )


@register_dormant(
    "events_ab_lift",
    oracle="""
    WITH per AS (
        SELECT event_type, (user_id % 2 = 0) AS is_a,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(value AS DECIMAL(12,2))) AS vsum
        FROM events GROUP BY 1, 2
    ),
    a AS (
        SELECT event_type, n AS n_a,
               CAST(CAST(vsum AS VARCHAR) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS mean_a
        FROM per WHERE is_a
    ),
    b AS (
        SELECT event_type, n AS n_b,
               CAST(CAST(vsum AS VARCHAR) AS DOUBLE)
                   / CAST(n AS DOUBLE) AS mean_b
        FROM per WHERE NOT is_a
    )
    SELECT event_type, n_a, n_b, mean_a, mean_b,
           (mean_b - mean_a) / mean_a AS rel_lift
    FROM a JOIN b USING (event_type)
    """,
)
def events_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B RATIO metric with a relative-lift join — the experiment
    readout: users split into deterministic arms by key parity
    (user_id % 2 — the hash-bucket assignment every experimentation
    platform uses, minus the hash), per-(event_type, arm) exact
    event counts and DECIMAL value mass, then the two arm frames
    joined back per event_type for the headline relative lift
    (mean_b − mean_a) / mean_a. Every mean is one int→double and
    decimal→double division; the lift is two further double ops on
    those — mirrored expression trees, with the DuckDB decimal cast
    through the documented VARCHAR hop. Evaluated-lead note: kept
    because it IS paired with the relative-lift join (the pen
    header's condition) — the join is what turns two group rows
    into one comparable row.

    Scale shape: ONE partial+final aggregate onto a |event_type|×2
    domain, lineage-cut so both arm branches reuse the materialized
    ~10-row frame (without the cut Catalyst pushes each arm's
    parity filter below its own copy of the aggregate and scans the
    corpus TWICE — plan-pinned to one scan), then an equi-join of
    the two tiny arm frames; the corpus is never pair-joined."""
    from rs_query_engine_spark.session import truncate_lineage

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("is_a"),
        F.col("value").cast(D_PRICE).alias("v"),
    )
    per = (
        e.groupBy("event_type", "is_a")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("vsum"))
        .transform(truncate_lineage)
    )
    mean = F.col("vsum").cast("double") / F.col("n").cast("double")
    a = per.filter(F.col("is_a")).select(
        "event_type", F.col("n").alias("n_a"), mean.alias("mean_a")
    )
    b = per.filter(~F.col("is_a")).select(
        "event_type", F.col("n").alias("n_b"), mean.alias("mean_b")
    )
    return a.join(b, "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        ((F.col("mean_b") - F.col("mean_a")) / F.col("mean_a")).alias(
            "rel_lift"
        ),
    )


_EWMA_W = 16  # dyadic window width: weights 2^15 .. 2^0, newest first


@register_dormant(
    "events_ewma_dyadic",
    oracle=f"""
    WITH r AS (
        SELECT user_id,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)
                   AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
                            event_id DESC) AS k
        FROM events
    ),
    g AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(cents * (CAST(1 AS BIGINT) << ({_EWMA_W} - k)))
                    AS BIGINT) AS num
        FROM r WHERE k <= {_EWMA_W} GROUP BY user_id
    )
    SELECT user_id, m,
           CAST(num AS DOUBLE)
           / CAST({1 << _EWMA_W} - (CAST(1 AS BIGINT) << ({_EWMA_W} - m))
                  AS DOUBLE) AS ewma_cents
    FROM g
    """,
)
def events_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user dyadic EWMA, cross-checked by CLOSED-FORM integer
    geometric sums — the exponentially-weighted recency average
    EWMA_n = (x_n + EWMA_{{n-1}})/2 unrolled over the user's last
    W=16 events: weight of the k-th newest value is 2^(W−k), so the
    whole statistic is numerator = Σ cents_k·2^(W−k) (EXACT int64 —
    max |cents|·(2^W−1) ≈ 6.6e9) over denominator = 2^W − 2^(W−m)
    (the geometric series Σ_{{k=1..m}} 2^(W−k) in closed form, which
    also makes short histories m<W exact rather than zero-padded).
    One int64→double division per user at the very end — no float
    ever accumulates, which is what makes a recursively-defined
    float statistic exactly oracle-able (the pen header's
    "EWMA vs closed-form integer geometric sums" lead). Ordering
    deties on event_id; DuckDB orders by epoch_us of the
    micro-truncated timestamp so nanosecond residue can never
    reorder ties across engines.

    Scale shape: one keyed sort powers the row_number, and the k≤W
    rank filter pushes into the sort as a WindowGroupLimit (plan-
    pinned) — per-key state is W rows, never the user's history;
    the aggregate is partial+final on the user key."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        (F.col("value").cast(D_PRICE) * 100)
        .cast("bigint")
        .alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    r = e.select(
        "user_id", "cents", F.row_number().over(w).alias("k")
    ).filter(F.col("k") <= _EWMA_W)
    g = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(
            F.expr(f"cents * shiftleft(CAST(1 AS BIGINT), {_EWMA_W} - k)")
        ).alias("num"),
    )
    return g.select(
        "user_id",
        "m",
        (
            F.col("num").cast("double")
            / F.expr(
                f"CAST({1 << _EWMA_W} - shiftleft(CAST(1 AS BIGINT),"
                f" {_EWMA_W} - m) AS DOUBLE)"
            )
        ).alias("ewma_cents"),
    )


def _sweep_stale_mwclust(current: str) -> None:
    """Best-effort two-phase reap of ``rsqes_mwclust_*`` dirs left by
    PRIOR sessions (ADVICE r15: each session x SF otherwise leaves a
    full clustered copy of events in /tmp — at sf0.1 that compounds).
    Same mark-then-reap discipline as
    ``sources/artifacts._sweep_stale_generations`` (grace window
    ``SWEEP_GRACE_SEC``): the tombstone is ``_swept.txt``
    (underscore-prefixed, so Spark's parquet reader ignores it if the
    owning session re-reads before the reap), and the owner's own
    ``mode("overwrite")`` rewrite clears any tombstone, restarting
    the clock. LIVENESS ASSUMPTION (r16 ADVICE): a concurrent live
    session is protected only while it re-runs the audit at least
    once per ``SWEEP_GRACE_SEC`` — a peer idle longer than the grace
    window between audits can have its copy reaped, and there is a
    small stat-then-rmtree race against an in-flight rewrite. Both
    are benign here because the owner rewrites the dir before every
    read (a reaped copy is rebuilt, never read stale), so the reap
    stays best-effort (``ignore_errors``) by design."""
    import os
    import shutil
    import tempfile
    import time

    from .sources.artifacts import SWEEP_GRACE_SEC

    parent = tempfile.gettempdir()
    keep = os.path.basename(current)
    now = time.time()
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for d in entries:
        if not d.startswith("rsqes_mwclust_") or d == keep:
            continue
        path = os.path.join(parent, d)
        marker = os.path.join(path, "_swept.txt")
        try:
            marked_at = os.stat(marker).st_mtime
        except OSError:
            try:  # first sighting — tombstone, reap on a later pass
                with open(marker, "w") as f:
                    f.write(str(now))
            except OSError:
                pass
            continue
        if now - marked_at >= SWEEP_GRACE_SEC:
            shutil.rmtree(path, ignore_errors=True)


@register_dormant(
    "maintenance_multiway_cluster_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_runs,
           TRUE AS types_contiguous,
           TRUE AS time_sorted_within_runs
    FROM events
    """,
)
def maintenance_multiway_cluster_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MULTI-WAY clustered write layout —
    ``repartition(K, type) + sortWithinPartitions(type, ts)``, the
    category-then-time layout for per-type time-slice workloads at
    100 TB (all of one type's data co-located in one file, time-
    ordered inside it: a (type, time-slice) query opens ONE file and
    reads ONE contiguous run). Each invocation rewrites the events
    table so clustered (applicationId-keyed, the
    maintenance_range_cluster_layout precedent), reads it back, and
    audits the layout DISTRIBUTEDLY through the ``_metadata`` hidden
    columns: per-(file, type) runs from ``file_path`` grouping, run
    contiguity as ``max(row_index) − min(row_index) + 1 = n`` per
    run, and time-sortedness inside runs from a lag compare keyed by
    file in ``row_index`` order. The joint layout claim is EXACT and
    SQL-expressible: hash-partitioning BY type puts every type
    wholly in one partition, so a correct layout has exactly ONE run
    per type — ``n_runs = COUNT(DISTINCT event_type)`` (file counts
    themselves are murmur3-shaped and deliberately not surfaced; a
    collision merely co-locates two types in one file without
    breaking any claim). Row count proves the rewrite lost nothing;
    any regression flips a boolean or splits a run and fails the
    hash gate. Evaluated-lead note: this lands the pen header's
    "multi-way sortWithinPartitions write-layout audits" lead.

    ``repartition`` on a key column is deterministic (murmur3 of the
    type string), and both booleans are tie-insensitive (equal
    timestamps satisfy ≤ in any order), so the result is stable
    run-to-run.

    Scale shape: the audit window is keyed by file with O(1) state
    (one lag row), the run frame is |files|×|types|-sized, and the
    final reduce runs over that tiny frame — one keyed sort, no
    join, partial+final aggregates everywhere."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    digest = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
    app_id = spark.sparkContext.applicationId
    dst = os.path.join(
        tempfile.gettempdir(), f"rsqes_mwclust_{digest}_{app_id}"
    )
    _sweep_stale_mwclust(dst)
    (
        ev.repartition(4, "event_type")
        .sortWithinPartitions("event_type", "ts")
        .write.mode("overwrite")
        .parquet(dst)
    )
    back = spark.read.parquet(dst).select(
        "event_type",
        "ts",
        F.col("_metadata.file_path").alias("f"),
        F.col("_metadata.row_index").alias("ri"),
    )
    w = Window.partitionBy("f").orderBy("ri")
    seq = back.select(
        "f",
        "event_type",
        "ri",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    runs = seq.groupBy("f", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (F.max("ri") - F.min("ri") + 1).alias("span"),
        F.every(
            F.col("prev_ts").isNull()
            | (F.col("prev_type") != F.col("event_type"))
            | (F.col("prev_ts") <= F.col("ts"))
        ).alias("sorted_ok"),
    )
    return runs.agg(
        F.sum("n").alias("n_rows"),
        F.count_distinct("event_type").alias("n_types"),
        F.count(F.lit(1)).alias("n_runs"),
        F.every(F.col("span") == F.col("n")).alias("types_contiguous"),
        F.every("sorted_ok").alias("time_sorted_within_runs"),
    )


# ---------------------------------------------------------------------------
# Round-15 second wave (fresh evaluation per the header note): the
# multi-dimensional GROUP BY family — ROLLUP, CUBE, and relational
# PIVOT were the last ungrouped-aggregation API surfaces with no
# query anywhere in the registry (GROUPING SETS landed in r5's
# agg_grouping_sets; these are its DataFrame-API cousins). Pen
# CLOSES at 15 with these.
# ---------------------------------------------------------------------------


@register_dormant(
    "agg_rollup_returnflag",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
                AS DOUBLE) AS sum_qty,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals — the ``DataFrame.rollup`` API driven
    end-to-end: per-(flag, status) leaves, per-flag subtotals, and
    the grand total in ONE aggregate, each level tagged by
    ``grouping_id()`` (bit vector, MSB = first rollup column — the
    same convention as DuckDB's two-argument GROUPING, probed before
    this query existed). Spark plans rollup through the same Expand
    operator as GROUPING SETS: each input row is replicated once per
    grouping set BEFORE the exchange, so subtotals are partial-
    aggregated map-side like any other group — no second pass, no
    driver-side re-aggregation. NULL group cells here are rollup
    padding, not data (both corpus columns are non-null), so the
    cross-engine NULL equality convention never engages.

    Scale shape: one Expand (×3 sets) + one partial+final aggregate
    onto a ≤|flags|·|statuses|+|flags|+1 domain; quantity mass
    accumulates as exact DECIMAL and exits once as double (VARCHAR
    hop on the DuckDB side)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast(D_PRICE).alias("q"),
    )
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").cast("double").alias("sum_qty"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select("l_returnflag", "l_linestatus", "n", "sum_qty", "gid")
    )


@register_dormant(
    "agg_cube_type_dow",
    oracle="""
    WITH e AS (
        SELECT event_type,
               CAST(EXTRACT(dow FROM CAST(ts AS TIMESTAMP)) + 1
                    AS INT) AS dow,
               CAST(value AS DECIMAL(12,2)) AS v
        FROM events
    )
    SELECT event_type, dow,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS v_sum,
           CAST(GROUPING(event_type, dow) AS BIGINT) AS gid
    FROM e GROUP BY CUBE(event_type, dow)
    """,
)
def agg_cube_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE cross-tabulation totals — the ``DataFrame.cube`` API:
    every subset of (event_type, day-of-week) grouped in one
    aggregate (leaves, both one-dimensional margins, and the grand
    total), levels tagged by ``grouping_id()``. Day-of-week is the
    engine-mirrored ``dayofweek`` = DuckDB ``EXTRACT(dow)+1``
    (Sunday=1, probed identical before this query existed). Like
    rollup, cube plans through Expand (×4 sets here) — the margins
    are partial-aggregated map-side, never recomputed from the
    leaves.

    Scale shape: one Expand + one partial+final aggregate onto a
    ≤(|types|+1)·(7+1)-row domain; corpus size only touches the
    scan; the value mass is exact DECIMAL until the final double
    exit."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek(F.col("ts").cast("timestamp")).alias("dow"),
        F.col("value").cast(D_PRICE).alias("v"),
    )
    return (
        e.cube("event_type", "dow")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").cast("double").alias("v_sum"),
            F.grouping_id().cast("bigint").alias("gid"),
        )
        .select("event_type", "dow", "n", "v_sum", "gid")
    )


_PIVOT_TYPES = ("click", "error", "purchase", "signup", "view")


@register_dormant(
    "agg_pivot_type_matrix",
    oracle=f"""
    SELECT CAST(EXTRACT(dow FROM CAST(ts AS TIMESTAMP)) + 1 AS INT)
               AS dow,
           {", ".join(
               f"CAST(COUNT(*) FILTER (WHERE event_type = '{t}')"
               f" AS BIGINT) AS {t}" for t in _PIVOT_TYPES
           )},
           CAST({" + ".join(
               f"COUNT(*) FILTER (WHERE event_type = '{t}')"
               for t in _PIVOT_TYPES
           )} AS BIGINT) AS total
    FROM events GROUP BY 1
    """,
)
def agg_pivot_type_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational PIVOT — the ``GroupedData.pivot`` API with an
    EXPLICIT value list (the deterministic form: no distinct-scan to
    discover columns, which also makes the 100 TB plan one pass):
    the day-of-week × event-type contingency matrix every
    activity dashboard renders. Spark compiles explicit-values pivot
    to conditional aggregates in ONE pass — exactly the
    FILTER-clause spelling the oracle uses — so this pins that the
    sugar and the desugared form agree. Empty cells leave pivot as
    NULL but FILTER as 0; the final projection coalesces to 0 so
    both engines emit the same integer (and 0 is the honest count).
    The row total is the SUM of the pivoted columns (the value list
    is the closed event-type domain), NOT a second aggregate joined
    back — a separate total frame would make Catalyst duplicate the
    corpus scan (the events_ab_lift lesson), and the row-sum costs
    four additions on a 7-row frame.

    Scale shape: ONE partial+final aggregate onto the 7-row dow
    domain with |types| counters per group — no Expand, no join, no
    second scan, one exchange."""
    e = _t(spark, sf_dir, "events").select(
        F.dayofweek(F.col("ts").cast("timestamp")).alias("dow"),
        "event_type",
    )
    p = (
        e.groupBy("dow")
        .pivot("event_type", list(_PIVOT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    cols = [
        F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
        for t in _PIVOT_TYPES
    ]
    total = sum(
        (F.coalesce(F.col(t), F.lit(0)) for t in _PIVOT_TYPES),
        F.lit(0),
    )
    return p.select("dow", *cols, total.cast("bigint").alias("total"))
