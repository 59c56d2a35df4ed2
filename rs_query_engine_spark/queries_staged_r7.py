"""Queries added in round 6 (live since round 7), all with exact
oracles: exact-substring span dedup, cross-source duplicate matrices
and survivorship merge; hybrid lexical + vector retrieval (RRF);
fuzzy name joins; training-shard layout; attribution, disorder, EWMA
and RFM event features; l-diversity and bad-word filters; the binary
SimHash; the ORC source roundtrip; correlated (Q17) and recursive SQL
entries; and the windowed streaming top-k.

Float-determinism discipline matches ``queries.py`` (see its module
docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_query_engine_spark.queries import _t, _ORACLE, register

# =====================================================================
# Dedup — EXACT substring spans (Lee et al. ExactSubstr)
# =====================================================================

_SUBSTR_L = 25  # min duplicated-substring length, characters

# shared oracle CTE chain: normalized docs → all L-gram offsets →
# duplicated grams → duplicated positions → merged maximal islands
_SUBSTR_CTES = rf"""
    t AS (
        SELECT doc_id,
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS text
        FROM documents
    ), g AS (
        SELECT doc_id, i AS off,
               substr(text, CAST(i + 1 AS BIGINT), {_SUBSTR_L}) AS gram
        FROM t, LATERAL UNNEST(generate_series(0, length(text) - {_SUBSTR_L}))
                AS u(i)
        WHERE length(text) >= {_SUBSTR_L}
    ), dup AS (
        SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2
    ), p AS (
        SELECT g.doc_id, g.off FROM g JOIN dup USING (gram)
    ), isl AS (
        SELECT doc_id, off,
               CASE WHEN off > COALESCE(
                   MAX(off + {_SUBSTR_L}) OVER (
                       PARTITION BY doc_id ORDER BY off
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   -1)
               THEN 1 ELSE 0 END AS newi
        FROM p
    ), isl2 AS (
        SELECT doc_id, off,
               SUM(newi) OVER (PARTITION BY doc_id ORDER BY off) AS island
        FROM isl
    ), spans AS (
        SELECT doc_id,
               CAST(MIN(off) AS BIGINT) AS span_start,
               CAST(MAX(off) + {_SUBSTR_L} AS BIGINT) AS span_end,
               CAST(MAX(off) + {_SUBSTR_L} - MIN(off) AS BIGINT) AS span_len
        FROM isl2
        GROUP BY doc_id, island
    )
"""


@register(
    "text_exact_substr_spans",
    oracle=f"""
    WITH {_SUBSTR_CTES}
    SELECT doc_id, span_start, span_end, span_len FROM spans
    """,
)
def text_exact_substr_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-substring spans (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    side of the dedup spectrum; reference has no counterpart, its
    whole text surface is §2.5 CONCAT/SUBSTRING): every maximal
    character region of a document covered by some substring of
    length ≥ 25 that occurs at another (doc, offset) in the corpus.
    The exact counterpart of ``text_span_dedup``'s fingerprint
    approximation — same question, zero false positives/negatives.

    Semantics, plan shape, and the suffix-array equivalence argument
    live on :func:`rs_query_engine_spark.operators.dedup.
    exact_substring_spans` (property-tested against a pure-Python
    suffix-array + LCP reference in
    ``tests/unit/test_exact_substr.py``). All outputs are exact
    integers — hash-parity is by construction."""
    from rs_query_engine_spark.operators.dedup import exact_substring_spans

    d = _t(spark, sf_dir, "documents")
    return exact_substring_spans(d, "doc_id", "text", min_len=_SUBSTR_L)


@register(
    "text_exact_substr_fraction",
    oracle=f"""
    WITH {_SUBSTR_CTES}
    SELECT t.doc_id,
           CAST(length(t.text) AS BIGINT) AS doc_len,
           CAST(COALESCE(SUM(s.span_len), 0) AS BIGINT) AS dup_chars,
           CAST(COALESCE(SUM(s.span_len), 0) AS DOUBLE)
               / CAST(length(t.text) AS DOUBLE) AS dup_frac
    FROM t LEFT JOIN spans s USING (doc_id)
    WHERE length(t.text) > 0
    GROUP BY t.doc_id, length(t.text)
    """,
)
def text_exact_substr_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-character FRACTION from the exact
    substring spans — the scalar each dedup policy actually thresholds
    on ("drop docs that are >80% duplicated text", "trim spans but
    keep docs below 20%"). Every document appears (LEFT join onto the
    span set, zero-filled), so the output is directly joinable as a
    quality column. dup_frac is one double division of two exact
    integers — both engines perform the identical IEEE op."""
    from rs_query_engine_spark.functions.text import normalize_text
    from rs_query_engine_spark.operators.dedup import exact_substring_spans
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    spans = exact_substring_spans(d, "doc_id", "text", min_len=_SUBSTR_L)
    lens = (
        spread(d)
        .select(
            "doc_id",
            F.length(normalize_text(F.col("text"))).cast("bigint").alias("doc_len"),
        )
        .filter(F.col("doc_len") > 0)
    )
    return (
        lens.join(spans.select("doc_id", "span_len"), "doc_id", "left")
        .groupBy("doc_id", "doc_len")
        .agg(
            F.coalesce(F.sum("span_len"), F.lit(0)).cast("bigint").alias("dup_chars")
        )
        .select(
            "doc_id",
            "doc_len",
            "dup_chars",
            (
                F.col("dup_chars").cast("double") / F.col("doc_len").cast("double")
            ).alias("dup_frac"),
        )
    )


# =====================================================================
# Similarity — hybrid retrieval with reciprocal-rank fusion
# =====================================================================

_RRF_K = 60  # standard RRF damping constant (Cormack et al., 2009)
_HYBRID_POOL = 20  # per-modality candidate pool fed into the fusion
_HYBRID_TOPK = 10


def _hybrid_rrf_oracle() -> str:
    from rs_query_engine_spark.queries import _COS_SQL

    cos = _COS_SQL.format(a="c.v", b="q.qv")
    return rf"""
    WITH corpus AS (
        SELECT d.doc_id AS id, e.embedding::DOUBLE[] AS v, d.text
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ), q AS (
        SELECT id AS query_id, v AS qv, text AS qtext
        FROM corpus WHERE id % 100 = 0
    ), vrank AS (
        SELECT query_id, id, rv FROM (
            SELECT q.query_id, c.id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {cos} DESC, c.id
                   ) AS rv
            FROM corpus c, q
        ) WHERE rv <= {_HYBRID_POOL}
    ), terms AS (
        SELECT DISTINCT id,
               unnest(regexp_split_to_array(lower(text), '\s+')) AS term
        FROM corpus
    ), dfreq AS (
        SELECT term, COUNT(*) AS df FROM terms GROUP BY term
    ), lscore AS (
        SELECT qt.id AS query_id, dt.id,
               SUM(1000000 // f.df) AS score
        FROM (SELECT t.id, t.term FROM terms t JOIN q ON t.id = q.query_id) qt
        JOIN terms dt ON qt.term = dt.term
        JOIN dfreq f ON qt.term = f.term
        GROUP BY qt.id, dt.id
    ), lrank AS (
        SELECT query_id, id, rl FROM (
            SELECT query_id, id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, id
                   ) AS rl
            FROM lscore
        ) WHERE rl <= {_HYBRID_POOL}
    ), fused AS (
        SELECT COALESCE(v.query_id, l.query_id) AS query_id,
               COALESCE(v.id, l.id) AS doc_id,
               COALESCE(1.0 / ({_RRF_K} + v.rv), 0.0)
                   + COALESCE(1.0 / ({_RRF_K} + l.rl), 0.0) AS rrf
        FROM vrank v FULL OUTER JOIN lrank l
          ON v.query_id = l.query_id AND v.id = l.id
    )
    SELECT query_id, doc_id, rrf, rank FROM (
        SELECT query_id, doc_id, rrf,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY rrf DESC, doc_id
               ) AS rank
        FROM fused
    ) WHERE rank <= {_HYBRID_TOPK}
    """


@register("similarity_hybrid_rrf", oracle=None)
def similarity_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — dense + lexical with reciprocal-rank fusion
    (the production RAG/retrieval shape: embedding cosine catches
    paraphrase, term overlap catches exact identifiers, RRF combines
    them without score calibration; Cormack et al. 2009). For each
    query doc (every 100th id with both a text and an embedding):
    top-20 by brute-force cosine, top-20 by idf-weighted term overlap,
    fuse with sum of 1/(60+rank) over the pool union, keep top-10.

    Hash-parity discipline: ranks are integers from total-ordered
    windows (score DESC, id); the lexical score is a SUM of exact
    integers (idf weight = 1_000_000 // df — integer division, so the
    sum is order-independent); each RRF term is one correctly-rounded
    IEEE division and the fusion is a single double add — both
    engines execute the identical op sequence.

    Scale shape: the query set broadcasts (map-only cosine pass, same
    plan as similarity_bruteforce_topk — swap in the IVF bucket probe
    at 100 TB); the lexical leg is the inverted-index equi-join on
    the term (query-side posting list is tiny — |queries| × terms);
    fusion joins two rank tables keyed (query, doc) — both already
    pool-capped at 20 rows per query."""
    from rs_query_engine_spark.functions.text import tokens
    from rs_query_engine_spark.operators.similarity import cosine
    from rs_query_engine_spark.session import truncate_lineage
    from rs_query_engine_spark.sources.corpus import spread
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    # localCheckpoint (r18): corpus (the docs⋈embeddings zip) feeds the
    # dense leg, the query projection AND the term explode — without
    # the cut the join subtree re-ran for every consumer (the before
    # plan scanned the two tables 12 times); terms likewise feeds the
    # df counts, the query-term probe and the posting join, so the
    # tokenize+explode is also cut once below.
    corpus = (
        spread(d)
        .join(e, d["doc_id"] == e["vec_id"])
        .select(
            F.col("doc_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("v"),
            "text",
        )
        .transform(truncate_lineage)
    )
    q = corpus.filter(F.col("id") % 100 == 0).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("text").alias("qtext"),
    )
    w_v = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("id"))
    vrank = (
        corpus.crossJoin(F.broadcast(q.select("query_id", "qv")))
        .select("query_id", "id", cosine(F.col("v"), F.col("qv")).alias("cos"))
        .withColumn("rv", F.row_number().over(w_v))
        .filter(F.col("rv") <= _HYBRID_POOL)
        .select("query_id", "id", "rv")
    )
    terms = corpus.select(
        "id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("term")
    ).transform(truncate_lineage)
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = terms.join(
        F.broadcast(q.select(F.col("query_id"))),
        terms["id"] == F.col("query_id"),
    ).select("query_id", "term")
    lscore = (
        qterms.join(dfreq, "term")
        .join(terms.select(F.col("id"), F.col("term")), "term")
        .groupBy("query_id", "id")
        .agg(F.sum(F.expr("1000000 div df")).alias("score"))
    )
    w_l = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("id"))
    lrank = (
        lscore.withColumn("rl", F.row_number().over(w_l))
        .filter(F.col("rl") <= _HYBRID_POOL)
        .select("query_id", "id", "rl")
    )
    fused = (
        vrank.withColumnRenamed("query_id", "vq").withColumnRenamed("id", "vid")
        .join(
            lrank.withColumnRenamed("query_id", "lq").withColumnRenamed("id", "lid"),
            (F.col("vq") == F.col("lq")) & (F.col("vid") == F.col("lid")),
            "full_outer",
        )
        .select(
            F.coalesce("vq", "lq").alias("query_id"),
            F.coalesce("vid", "lid").alias("doc_id"),
            (
                F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rv")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rl")), F.lit(0.0))
            ).alias("rrf"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.col("rrf").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= _HYBRID_TOPK)
    )


_ORACLE["similarity_hybrid_rrf"] = _hybrid_rrf_oracle()


# =====================================================================
# Layout — deterministic epoch shuffle into training shards
# =====================================================================

_N_SHARDS = 8
_EPOCH_SALT = "epoch0"


@register(
    "layout_training_shards",
    oracle=f"""
    WITH k AS (
        SELECT doc_id,
               md5(doc_id || ':{_EPOCH_SALT}') AS hkey
        FROM documents
    )
    SELECT doc_id,
           ('0x' || substr(hkey, 1, 8))::BIGINT % {_N_SHARDS} AS shard,
           ROW_NUMBER() OVER (
               PARTITION BY ('0x' || substr(hkey, 1, 8))::BIGINT % {_N_SHARDS}
               ORDER BY hkey, doc_id
           ) AS pos
    FROM k
    """,
)
def layout_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic EPOCH SHUFFLE: assign every document a (shard,
    position) for one training epoch — the global-permutation step
    every data loader needs (seeded by the epoch salt, so epoch 2 is
    a different but equally reproducible order; re-running the
    pipeline yields byte-identical shards, the property that makes
    training runs comparable). shard = content-hash bucket; position
    = rank of the md5 key within the shard.

    Scale shape: the permutation is hash-order, so there is NO global
    sort — one hash-partitioned exchange on the shard id and a
    per-shard window sort (each shard ~N/shards rows, spill-safe and
    embarrassingly parallel; contrast with ORDER BY rand() which is a
    full-range sort AND non-reproducible). At 100 TB this is the
    write-side of `df.repartition(shard).sortWithinPartitions` — the
    plan Spark already executes for bucketed writes."""
    from pyspark.sql import Window

    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    k = spread(d).select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_EPOCH_SALT}"))).alias(
            "hkey"
        ),
    )
    shard = (
        F.conv(F.substring("hkey", 1, 8), 16, 10).cast("bigint") % _N_SHARDS
    )
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return (
        k.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


# =====================================================================
# Dedup — cross-source near-duplicate contamination matrix
# =====================================================================


def _cross_source_oracle() -> str:
    from rs_query_engine_spark.queries import _MH_PAIRS_CTES

    return rf"""
    WITH {_MH_PAIRS_CTES}
    SELECT least(da.source, db.source) AS src_lo,
           greatest(da.source, db.source) AS src_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MIN(p.jaccard) AS min_jaccard,
           MAX(p.jaccard) AS max_jaccard
    FROM pairs p
    JOIN documents da ON p.id_a = da.doc_id
    JOIN documents db ON p.id_b = db.doc_id
    GROUP BY least(da.source, db.source), greatest(da.source, db.source)
    """


@register("dedup_cross_source_matrix", oracle=None)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE near-dup contamination matrix: aggregate the
    MinHash-LSH verified pair set by unordered source pair — the
    corpus-curation dashboard that answers "how much of source A is a
    copy of source B?" before anyone sets per-source mixture weights
    (double-counting mass across overlapping crawls silently skews
    the mixture). Matrix cells are (src_lo, src_hi) with least/
    greatest normalization so A×B and B×A land in one cell; diagonal
    cells are within-source duplication.

    Reuses the production LSH pipeline verbatim (same constants, same
    helpers — a tuning change there is what gets aggregated here);
    the per-cell stats are COUNT/MIN/MAX only — exact selections, no
    float summation, so the whole result hash-verifies. Broadcast
    orientation: the VERIFIED PAIR SET is the broadcast side (it is
    duplicate-pairs-sized, orders of magnitude below the corpus) and
    the corpus-sized id→source projection streams — never the other
    way around, which would ship the whole corpus to every executor
    at 100 TB. The second lookup broadcasts the pairs⋈sa intermediate,
    which is still pair-sized."""
    from rs_query_engine_spark.operators.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text")
    src = d.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb"))
    with_src_a = sa.join(F.broadcast(pairs), "id_a")
    return (
        sb.join(F.broadcast(with_src_a), "id_b")
        .groupBy(
            F.least("sa", "sb").alias("src_lo"),
            F.greatest("sa", "sb").alias("src_hi"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


_ORACLE["dedup_cross_source_matrix"] = _cross_source_oracle()


# =====================================================================
# Multimodal — byte-level SimHash over binary payloads
# =====================================================================


def _binary_simhash_oracle() -> str:
    from rs_query_engine_spark.queries import _simhash_sql

    return rf"""
    WITH t AS (
        SELECT doc_id,
               list_transform(
                   generate_series(1, length(text) - 3),
                   i -> ('0x' || substr(md5(substr(text, i, 4)), 1, 8))::BIGINT
               ) AS h,
               greatest(length(text) - 3, 0) AS n
        FROM documents
        WHERE length(text) > 0
          AND strlen(text) = length(text)  -- pure-ASCII rows only (byte len == char len)
    )
    SELECT doc_id AS id,
           CAST(n AS BIGINT) AS n_grams,
           {_simhash_sql()} AS simhash
    FROM t
    """


@register("multimodal_binary_simhash", oracle=None)
def multimodal_binary_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level SimHash over BINARY payloads through the multimodal
    Python tier — the near-dup primitive for opaque media columns
    (image/audio assets that were re-encoded or trivially mutated keep
    most byte 4-grams; the signatures then pair via the same
    hamming-block LSH as the token SimHash family). The payload is the
    utf-8 encoding of the text column; BOTH sides restrict to pure-
    ASCII rows via the identical predicate (byte length == codepoint
    length — DuckDB ``strlen(text) = length(text)``, Spark
    ``octet_length == length``), because Spark hashes byte 4-grams
    while the VARCHAR oracle hashes codepoint windows and the two only
    coincide for ASCII. With the guard, parity is provably independent
    of corpus content (non-ASCII rows are excluded identically on both
    sides; ``tests/unit/test_streaming_multimodal.py`` pins this with
    a non-ASCII row). Every value is an exact integer and the whole
    result hash-verifies through the mapInPandas boundary.

    Extends the multimodal family (byte_stats / frame_sample /
    pair_align) with dedup semantics; the Arrow plumbing is the
    product, the byte math stands in for a real perceptual hash."""
    from rs_query_engine_spark.operators.multimodal import binary_simhash

    d = _t(spark, sf_dir, "documents")
    payloads = d.filter(
        (F.length("text") > 0) & (F.octet_length("text") == F.length("text"))
    ).select(F.col("doc_id").alias("id"), F.encode("text", "utf-8").alias("payload"))
    return binary_simhash(payloads)


_ORACLE["multimodal_binary_simhash"] = _binary_simhash_oracle()


# =====================================================================
# SQL entry — correlated scalar subquery (TPC-H Q17 shape)
# =====================================================================

_Q17_SQL = """
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               / 7.0 AS avg_yearly,
           COUNT(*) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
          SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2)))
                             AS DOUBLE) / COUNT(*))
          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
"""


@register("sql_entry_q17_corr", oracle=_Q17_SQL)
def sql_entry_q17_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17's CORRELATED SCALAR SUBQUERY through the SQL entry:
    small-quantity-order revenue where each lineitem compares against
    0.2 × the average quantity OF ITS OWN PART. The per-row correlated
    aggregate is the shape naive engines execute as one subquery per
    row (quadratic); Catalyst decorrelates it into a per-part
    aggregate + equi-join — plan-asserted: no cartesian, no per-row
    subquery, one partial/final aggregate pair over lineitem feeding a
    join (the same rewrite DuckDB applies, which is why the identical
    SQL is the oracle).

    Float discipline: both engines evaluate the identical expression
    tree — decimal-exact sums cast to double, one correctly-rounded
    division by the count, one multiply by 0.2, one compare; the outer
    sum is decimal-exact before its single division by 7.0."""
    from rs_query_engine_spark.sources.corpus import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(_Q17_SQL)


# =====================================================================
# Streaming — windowed top-k (the live-dashboard shape)
# =====================================================================


@register(
    "stream_window_topk",
    oracle="""
    WITH counts AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rnk FROM (
        SELECT window_start, event_type, n_events,
               ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type
               ) AS rnk
        FROM counts
    ) WHERE rnk <= 2
    """,
)
def stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming WINDOWED TOP-K — the live-dashboard query ("top event
    types per hour, right now"): hourly tumbling-window counts with a
    watermark, driven through the streaming engine in update mode,
    then ranked per finalized window. Counts are monotone across
    update emissions so max() per (window, type) is the final state
    (same finalization contract as stream_sliding_window), and the
    rank step runs over finalized counts — giving an exact batch
    oracle via epoch-aligned time_bucket. At 100 TB-of-stream the
    windowed count is the only stateful stage (state = windows × types
    per partition, watermark-bounded); the top-k is a tiny
    per-window-keyed window function downstream of it."""
    from pyspark.sql import Window

    from rs_query_engine_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # state_partitions=2 (r19) — see the stream_late_data_drop note in
    # queries_staged_r10; paired median 0.73
    res = run_stream_to_memory(
        agg, "stream_window_topk", output_mode="update",
        state_partitions=2,
    )
    counts = res.groupBy(
        F.col("w.start").alias("window_start"), "event_type"
    ).agg(F.max("n").alias("n_events"))
    wr = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        counts.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 2)
    )


# =====================================================================
# Events — arrival-order disorder audit (watermark sizing input)
# =====================================================================


@register(
    "events_disorder_audit",
    oracle="""
    WITH o AS (
        SELECT user_id, ts,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_ts
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(CASE WHEN ts < prev_ts THEN 1 END) AS n_inversions,
           COALESCE(MAX(CASE WHEN ts < prev_ts
                             THEN epoch_us(prev_ts) - epoch_us(ts) END), 0)
               AS max_disorder_us
    FROM o
    GROUP BY user_id
    """,
)
def events_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time DISORDER audit: per user, how often events arrive
    out of event-time order (arrival order = event_id) and the worst
    regression in microseconds — the measurement that SIZES the
    watermark for every stateful streaming query over this feed (a
    watermark below max_disorder drops those events late; one far
    above holds state needlessly). One window over the (user, arrival)
    sort + one groupBy — both on the same key, so AQE reuses the
    exchange; exact integers throughout (unix_micros, not
    unix_timestamp, which truncates sub-second precision)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    o = e.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    inv = F.col("ts") < F.col("prev_ts")
    return o.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(inv, 1)).alias("n_inversions"),
        F.coalesce(
            F.max(
                F.when(inv, F.unix_micros("prev_ts") - F.unix_micros("ts"))
            ),
            F.lit(0),
        ).alias("max_disorder_us"),
    )


# =====================================================================
# Privacy — l-diversity audit (k-anonymity's companion)
# =====================================================================


@register(
    "quality_l_diversity",
    oracle="""
    SELECT d.lang, d.source,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT e.label) AS l_distinct,
           COUNT(DISTINCT e.label) >= 3 AS l_diverse
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY d.lang, d.source
    """,
)
def quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit over (lang, source) quasi-identifiers with
    the embedding label as the sensitive attribute — k-anonymity's
    necessary companion (a group can be k-anonymous yet leak the
    sensitive value when every member shares it; l-diversity requires
    ≥l distinct sensitive values per equivalence class). Exact
    distinct count per group (two-level aggregate: Spark plans
    count(DISTINCT) as a partial-deduped expand — no row explosion);
    the release gate at l=3 is the standard curation threshold.
    Joins the sensitive table on the shared id, dims broadcast."""
    d = _t(spark, sf_dir, "documents")
    e = _t(spark, sf_dir, "embeddings")
    return (
        d.join(e, d["doc_id"] == e["vec_id"])
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("label").alias("l_distinct"),
            (F.countDistinct("label") >= 3).alias("l_diverse"),
        )
    )


# =====================================================================
# Sources — ORC round trip (second built-in columnar format)
# =====================================================================


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice
    FROM part WHERE p_retailprice > 950.0
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC end-to-end through the catalog — Spark's SECOND built-in
    columnar format (the Hive-lineage interchange format; same
    vectorized reader, predicate pushdown, and column-pruning story
    as parquet): the part table is materialized as ORC once (stable
    temp dir, skipped when present), registered via
    ``Catalog.register_orc``, filtered, and compared against the
    parquet original — proving the ORC round trip preserves every
    value and type exactly (bigint/string/int/double all survive).
    Completes the source matrix: parquet, CSV, JSON, memory, ORC.
    Plan test asserts the filter reaches the ORC scan's pushdown.

    Cache keying/install: shared with the LSH index via
    ``sources/artifacts.py`` (r9 review — the r6/r8 ADVICE cycle on
    this cache showed duplicated install machinery drifts): digest
    folds in the source parquet's mtime_ns and size so a regenerated
    parquet re-keys the copy; atomic rename with loser-keeps-winner;
    failed builds clean their temp dir; stale generations of THIS
    source are swept while other SF dirs' caches stay untouched."""
    import os

    from rs_query_engine_spark.catalog import Catalog
    from rs_query_engine_spark.sources.artifacts import ensure_artifact
    from rs_query_engine_spark.sources.sinks import write_orc

    src = os.path.join(os.path.abspath(sf_dir), "part.parquet")
    root = ensure_artifact(
        src,
        "orc",
        "coalesce=4",
        ("part/_SUCCESS",),
        lambda tmp: write_orc(
            _t(spark, sf_dir, "part"), os.path.join(tmp, "part"),
            coalesce_files=4,
        ),
    )
    path = os.path.join(root, "part")
    cat = Catalog(spark)
    orc_df = cat.register_orc(f"part_orc_{os.path.basename(root)}", path)
    return orc_df.filter(F.col("p_retailprice") > 950.0)


# =====================================================================
# Join — fuzzy entity-name matching (edit distance with blocking)
# =====================================================================


@register(
    "join_fuzzy_names",
    oracle="""
    WITH names AS (
        SELECT p_name AS name,
               MIN(p_partkey) AS rep_key,
               COUNT(*) AS n_rows
        FROM part GROUP BY p_name
    ), blocked AS (
        SELECT a.name AS name_a, b.name AS name_b,
               a.rep_key AS rep_a, b.rep_key AS rep_b,
               a.n_rows AS n_a, b.n_rows AS n_b
        FROM names a JOIN names b
          ON substr(a.name, 1, 1) = substr(b.name, 1, 1)
         AND a.name < b.name
        WHERE abs(length(a.name) - length(b.name)) <= 2
    )
    SELECT name_a, name_b, rep_a, rep_b, n_a, n_b,
           CAST(levenshtein(name_a, name_b) AS INT) AS dist
    FROM blocked
    WHERE levenshtein(name_a, name_b) <= 3
    """,
)
def join_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY entity-name matching — the MDM/entity-resolution join
    (typo'd vendor names, OCR'd product titles): pairs of part names
    within edit distance ≤ 3, with blocking so the comparison space
    is never all-pairs. The production pattern at 100 TB: collapse to
    the DISTINCT name vocabulary first (entity dictionaries are
    orders of magnitude smaller than the fact rows referencing them —
    here 2 000 rows → ~60 names), fuzzy-join the vocabulary, then map
    matches back to rows via the representative key. Blocking =
    first-character equi-join + length-band residual; like LSH
    banding this trades recall (a distance-1 edit CAN change the
    first character) for a hash-partitionable equi-join — widen to
    multiple blocking keys (first char of each token, soundex) when
    recall matters more.

    levenshtein() is the classic integer DP in both engines, so every
    output value is exact. Plan-asserted: the pair space comes from
    the blocking equi-join, never a cartesian."""
    d = _t(spark, sf_dir, "part")
    names = d.groupBy(F.col("p_name").alias("name")).agg(
        F.min("p_partkey").alias("rep_key"), F.count(F.lit(1)).alias("n_rows")
    )
    a = names.select(
        F.col("name").alias("name_a"),
        F.col("rep_key").alias("rep_a"),
        F.col("n_rows").alias("n_a"),
        F.substring("name", 1, 1).alias("blk"),
    )
    b = names.select(
        F.col("name").alias("name_b"),
        F.col("rep_key").alias("rep_b"),
        F.col("n_rows").alias("n_b"),
        F.substring("name", 1, 1).alias("blk"),
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= 2
            )
            & (dist <= 3)
        )
        .select(
            "name_a", "name_b", "rep_a", "rep_b", "n_a", "n_b",
            dist.cast("int").alias("dist"),
        )
    )


# =====================================================================
# Dedup — survivorship merge (MDM golden-record rules)
# =====================================================================


@register(
    "dedup_survivorship_merge",
    oracle=r"""
    WITH f AS (
        SELECT doc_id, source, lang, n_chars,
               md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
    ), ranked AS (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY fp ORDER BY n_chars DESC, doc_id
               ) AS rn
        FROM f
    ), agg AS (
        SELECT fp,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               MIN(doc_id) AS first_id,
               MIN(source) AS src_priority,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM f GROUP BY fp
    )
    SELECT a.fp, a.n_members, a.first_id,
           r.doc_id AS longest_id,
           a.src_priority, a.n_langs, a.total_chars
    FROM agg a JOIN ranked r ON a.fp = r.fp AND r.rn = 1
    """,
)
def dedup_survivorship_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVIVORSHIP merge — the MDM golden-record step that follows
    dedup: per exact-duplicate cluster, merge metadata by FIELD-LEVEL
    rules instead of keeping one row wholesale (keep the LONGEST
    text's doc as content survivor, the EARLIEST id as lineage
    anchor, the highest-priority source, union the language set, sum
    the size stats). ``dedup_keep_canonical`` answers "which rows
    survive"; this answers "what the merged record looks like" — both
    are needed to rebuild a corpus from duplicates.

    One fingerprint groupBy (map-side partials) + one per-cluster
    window for the deterministic longest-text pick (total order:
    n_chars DESC, doc_id) joined back on the cluster key — the window
    and the join reuse the same fp partitioning. Every output is an
    exact integer/string selection."""
    from pyspark.sql import Window

    from rs_query_engine_spark.functions.text import normalize_text
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    f = spread(d).select(
        "doc_id", "source", "lang", "n_chars",
        F.md5(normalize_text(F.col("text"))).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy(F.col("n_chars").desc(), "doc_id")
    longest = (
        f.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("fp", F.col("doc_id").alias("longest_id"))
    )
    agg = f.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("first_id"),
        F.min("source").alias("src_priority"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
    )
    return agg.join(longest, "fp").select(
        "fp", "n_members", "first_id", "longest_id",
        "src_priority", "n_langs", "total_chars",
    )


# =====================================================================
# SQL entry — RECURSIVE CTE ancestor walk (Spark 4.x surface)
# =====================================================================


@register(
    "sql_entry_recursive_walk",
    oracle="""
    WITH RECURSIVE walk(doc_id, node, steps) AS (
        SELECT doc_id, doc_id + 1, 0 FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id, node // 2, steps + 1 FROM walk WHERE node > 1
    )
    SELECT doc_id,
           MAX(steps) AS depth,
           COUNT(*) AS n_path_nodes,
           CAST(SUM(node) AS BIGINT) AS path_sum
    FROM walk GROUP BY doc_id
    """,
)
def sql_entry_recursive_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE through the SQL entry — the iterative-SQL surface
    Spark gained in 4.x (UnionLoop execution): walk every seed node's
    ancestor chain to the root of the heap-numbered hierarchy (parent
    = node // 2, the same synthetic tree as graph_hierarchy_rollup)
    and aggregate the path. Complements the rollup's single-shuffle
    ancestor-explosion design: the recursive form is O(depth)
    iterations — the right tool when the step function is opaque
    (arbitrary edge table) rather than arithmetic; having BOTH lets
    the engine cross-check them. Seeds are capped (doc_id < 200) the
    way production recursive queries bound their frontier; depth is
    log2(node) ≈ 9 here, far under the recursion limit. All outputs
    are exact integers; DuckDB executes the semantically identical
    recursion (only the integer-division spelling differs: ``//``
    there, ``div`` here — both exact BIGINT floor division)."""
    from rs_query_engine_spark.sources.corpus import register_corpus

    register_corpus(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE walk(doc_id, node, steps) AS (
            SELECT doc_id, doc_id + 1, 0 FROM documents WHERE doc_id < 200
            UNION ALL
            SELECT doc_id, node div 2, steps + 1 FROM walk WHERE node > 1
        )
        SELECT doc_id,
               MAX(steps) AS depth,
               COUNT(*) AS n_path_nodes,
               SUM(node) AS path_sum
        FROM walk GROUP BY doc_id
        """
    )


# =====================================================================
# Events — EWMA feature smoothing (truncated, power-of-two alpha)
# =====================================================================

_EWMA_K = 8  # truncation depth: weights 2^-1 .. 2^-8, tail mass 2^-8


@register(
    "events_ewma_smoothing",
    oracle=f"""
    WITH o AS (
        SELECT user_id, event_id, ts, value,
               {" + ".join(
                   f"COALESCE(LAG(value, {k}) OVER "
                   f"(PARTITION BY user_id ORDER BY ts, event_id)"
                   f" * {2.0 ** -(k + 1)!r}, 0.0)"
                   for k in range(8)
               )} AS ewma
        FROM events
    )
    SELECT user_id, event_id, ts, value, ewma
    FROM o
    """,
)
def events_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA feature smoothing — the exponentially-weighted rolling
    feature every event-ML pipeline derives (recent behavior weighted
    over history): per user in event-time order, ewma_t =
    Σ_{{k=0..7}} 2^-(k+1) · value_{{t-k}} (missing lags contribute 0).

    True EWMA is a recurrence no window function expresses; the
    TRUNCATED form (depth 8, tail mass 2^-8) is one window pass of 8
    lag() terms — and with α = 1/2 every weight is a POWER OF TWO, so
    each product is an exact binary scaling and the fixed
    left-to-right sum is the identical IEEE sequence in both engines:
    the float-determinism discipline turns an approximation-prone
    feature into a hash-verifiable one. One exchange on user_id, all
    8 lags share the single sorted window — the same plan cost as one
    lag. At 100 TB this is the feature-store backfill shape: partition
    by entity, sort once, emit every horizon from the same pass."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ewma = None
    for k in range(_EWMA_K):
        term = F.coalesce(
            F.lag("value", k).over(w) * F.lit(2.0 ** -(k + 1)), F.lit(0.0)
        )
        ewma = term if ewma is None else ewma + term
    return e.select("user_id", "event_id", "ts", "value", ewma.alias("ewma"))


# =====================================================================
# Text — blocklist content filter (C4-style badwords pass)
# =====================================================================

_BADWORDS = ("slow", "dup", "error")  # demo lexicon; production swaps a real list


@register(
    "text_badwords_filter",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(lower(text), '\s+') AS t
        FROM documents WHERE trim(text) <> ''
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(t, x -> x IN {tuple(_BADWORDS)!r})) AS BIGINT)
               AS n_flagged,
           CAST(len(list_filter(t, x -> x IN {tuple(_BADWORDS)!r})) AS DOUBLE)
               / len(t) AS flagged_frac,
           CAST(len(list_filter(t, x -> x IN {tuple(_BADWORDS)!r})) AS DOUBLE)
               / len(t) < 0.1 AS keep
    FROM toks
    """,
)
def text_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOCKLIST content filter — the C4-style badwords pass every web
    corpus runs before training (drop or down-weight documents whose
    flagged-token fraction crosses a threshold). The lexicon is a
    broadcast literal set folded into the token filter — map-only, no
    shuffle, the filter compiles into the scan projection; production
    swaps the demo lexicon for a real blocklist without changing the
    plan. Counts are exact integers; the fraction is one double
    division; the keep verdict one comparison — all hash-verifiable.
    Pair with ``text_redact_pii`` (rewrites content) — this one GATES
    documents instead."""
    from rs_query_engine_spark.functions.text import tokens
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    t = (
        spread(d)
        .filter(F.trim(F.col("text")) != "")
        .select("doc_id", tokens(F.col("text")).alias("t"))
    )
    bad = F.array(*[F.lit(w) for w in _BADWORDS])
    n_flagged = F.size(F.filter("t", lambda x: F.array_contains(bad, x)))
    frac = n_flagged.cast("double") / F.size("t")
    return t.select(
        "doc_id",
        F.size("t").cast("bigint").alias("n_tokens"),
        n_flagged.cast("bigint").alias("n_flagged"),
        frac.alias("flagged_frac"),
        (frac < 0.1).alias("keep"),
    )


# =====================================================================
# Events — RFM behavioral features
# =====================================================================


@register(
    "events_rfm_features",
    oracle="""
    WITH now_ts AS (
        SELECT MAX(ts) AS corpus_max FROM events
    )
    SELECT e.user_id,
           epoch_us(n.corpus_max) - epoch_us(MAX(e.ts)) AS recency_us,
           COUNT(*) AS frequency,
           CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS monetary
    FROM events e CROSS JOIN now_ts n
    GROUP BY e.user_id, n.corpus_max
    """,
)
def events_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM behavioral features — the classic per-entity feature triple
    (Recency: microseconds since the user's last event, relative to
    the corpus max so the feature set is reproducible; Frequency:
    event count; Monetary: decimal-exact value sum) that seeds churn/
    LTV models and the first segmentation every events warehouse
    ships. One groupBy on user_id (map-side partials); the corpus-max
    timestamp is a 1-row broadcast fold — the deterministic "now"
    every backfill needs instead of wall-clock. unix_micros keeps
    sub-second precision (unix_timestamp truncates); the value sum
    rides the 2-decimal grid through DECIMAL, so all three features
    hash-verify."""
    e = _t(spark, sf_dir, "events")
    now = e.agg(F.max("ts").alias("corpus_max"))
    return (
        e.crossJoin(F.broadcast(now))
        .groupBy("user_id", "corpus_max")
        .agg(
            (
                F.unix_micros(F.max("corpus_max")) - F.unix_micros(F.max("ts"))
            ).alias("recency_us"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("monetary"),
        )
        .select("user_id", "recency_us", "frequency", "monetary")
    )


# =====================================================================
# Events — conversion touch attribution (first/last touch)
# =====================================================================


@register(
    "events_attribution_touch",
    oracle="""
    WITH o AS (
        SELECT user_id, event_id, ts, event_type,
               FIRST_VALUE(CASE WHEN event_type <> 'purchase'
                                THEN event_type END IGNORE NULLS) OVER w
                   AS first_touch_type,
               FIRST_VALUE(CASE WHEN event_type <> 'purchase'
                                THEN ts END IGNORE NULLS) OVER w
                   AS first_touch_ts,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS) OVER w
                   AS last_touch_type,
               LAST_VALUE(CASE WHEN event_type <> 'purchase'
                               THEN ts END IGNORE NULLS) OVER w
                   AS last_touch_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT user_id, event_id, ts,
           first_touch_type, first_touch_ts,
           last_touch_type, last_touch_ts
    FROM o WHERE event_type = 'purchase'
    """,
)
def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONVERSION ATTRIBUTION — first-touch and last-touch: for every
    purchase, the user's first and most recent NON-purchase events
    strictly before it (the two standard credit-assignment models of
    marketing analytics; the same shape assigns a training example's
    provenance to its earliest/latest upstream pipeline stage). All
    four attributed columns ride ONE window over (user, event-time)
    with ignore-null first/last over the preceding-rows frame — the
    per-column CASE masks null out non-touch rows, so all columns
    resolve to the SAME touch row by construction; no self-join, no
    per-purchase scan. Purchases with no prior touch stay NULL.
    One exchange on user_id; total order (ts, event_id) makes every
    value deterministic and hash-verifiable."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.col("event_type") != "purchase"
    t_type = F.when(touch, F.col("event_type"))
    t_ts = F.when(touch, F.col("ts"))
    return (
        e.withColumn("first_touch_type", F.first(t_type, ignorenulls=True).over(w))
        .withColumn("first_touch_ts", F.first(t_ts, ignorenulls=True).over(w))
        .withColumn("last_touch_type", F.last(t_type, ignorenulls=True).over(w))
        .withColumn("last_touch_ts", F.last(t_ts, ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id", "event_id", "ts",
            "first_touch_type", "first_touch_ts",
            "last_touch_type", "last_touch_ts",
        )
    )
