"""Queries added in round 10 (live since round 11).

35 queries, all with exact oracles, led by two index-lifecycle
completions:

- **LSH index delete path** (``operators/lsh_index.py``): tombstone
  generation (takedown/license-recall feed), a probe that honors
  tombstones (a revoked doc can neither block admission nor cost
  verify work), physical compaction once the tombstone fraction is
  high, and the monitoring stats that trigger it.
- **Persisted IVF index** (``operators/ivf_index.py``): the ANN twin
  of the LSH artifact, with the FULL lifecycle the LSH index has —
  build (corpus→centroid assignments written once partitioned by
  list; probe = partition-pruned scan, nothing recomputed), probe,
  incremental MERGE (batch assigned against persisted centroids,
  base never recomputed — provably ≡ fresh rebuild), list-health
  stats, streaming foreachBatch probe, tombstone-honoring delete,
  and physical compaction.

Plus: cosine RANGE search (the radius half of the ANN API), the
persisted PQ-code index (build + ADC probe), the TRAINED-centroid IVF
variant, TPC-H shape coverage Q4/Q8/Q9/Q11/Q12/Q15/Q16 — with which
every one of the 22 dbgen queries has a registered shape analogue
(Q1 ≙ agg_groupby_returnflag, Q6 ≙ sql_entry_q6, Q17 ≙
sql_entry_q17_corr; the partsupp-dependent ones — Q2/Q9/Q11/Q16/Q20 —
keep dbgen's plan topology on this corpus's tables, documented per
query) — and the warehouse-maintenance family: TPC-H RF1/RF2 refresh
analogues (idempotent insert, cascaded delete), watermark late-data
drop semantics under real out-of-order arrival, and incremental view
maintenance over persisted rollup partials (``operators/ivm.py``) —
refresh, exact retraction, merge generation, a two-grain serving
layer (daily derived from persisted hourly partials, one corpus
touch), and streaming foreachBatch maintenance invariant to arrival
order — plus the
stream-stream attribution join (inner, left-outer AND full-outer
with watermark-closed null emission on each side's own retention
bound, plus a CHAINED join-into-windowed-aggregate multi-stateful
pipeline with measured watermark propagation) under the same
out-of-order feed (emitted pairs are a
deterministic set, so they get exact oracles where keyed-dedup
expiry could not).

Float-determinism discipline matches ``queries.py`` (see its module
docstring): row-level doubles raw, no round(), SUM/AVG through exact
decimals, every aggregate/computed column aliased identically in the
Spark code and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rs_query_engine_spark.operators.dedup import (
    MINHASH_MAX_BUCKET,
    MINHASH_NUM_HASHES,
)
from rs_query_engine_spark.operators.lsh_index import (
    BATCH_MOD,
    BATCH_REM,
    REVOKE_MOD,
    REVOKE_REM,
)
from rs_query_engine_spark.queries import _COS_SQL, _t, _ORACLE, register
from rs_query_engine_spark.queries_staged_r9 import _LSH_IDX_CTES, _SIG_MATCH

# =====================================================================
# LSH index lifecycle completion: delete (tombstones) → compaction →
# the stats that trigger it (VERDICT r09 "what's missing" #1: the
# merge generation only ADDED postings; removing a revoked document
# meant a full rebuild)
# =====================================================================


@register(
    "dedup_lsh_index_delete",
    oracle=f"""
    WITH {_LSH_IDX_CTES},
    live AS (
        SELECT * FROM idx WHERE doc_id % {REVOKE_MOD} <> {REVOKE_REM}
    ), bband AS (
        SELECT doc_id, band, key FROM banded
        WHERE doc_id % {BATCH_MOD} = {BATCH_REM}
    ), cand AS (
        SELECT DISTINCT b.doc_id AS batch_id, i.doc_id AS match_id
        FROM bband b JOIN live i ON b.band = i.band AND b.key = i.key
    ), est AS (
        SELECT c.batch_id, c.match_id, ({_SIG_MATCH}) AS n_match
        FROM cand c
        JOIN sig a ON a.doc_id = c.batch_id
        JOIN sig e ON e.doc_id = c.match_id
    ), m AS (
        SELECT batch_id, COUNT(*) AS n_matches FROM est
        WHERE 2 * n_match >= {MINHASH_NUM_HASHES}
        GROUP BY batch_id
    )
    SELECT d.doc_id, CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
           m.batch_id IS NULL AS admitted
    FROM documents d LEFT JOIN m ON d.doc_id = m.batch_id
    WHERE d.doc_id % {BATCH_MOD} = {BATCH_REM}
    """,
)
def dedup_lsh_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE path of the persisted LSH index: the batch probe of
    ``dedup_incremental_indexed`` re-run with the TOMBSTONE generation
    honored — every ``doc_id % 17 == 15`` indexed document is revoked
    (the takedown/license-recall feed, materialized by
    ``ensure_lsh_tombstones`` with the same atomic-install machinery
    as the postings generations), and probe candidates matching a
    tombstoned doc are anti-joined out BEFORE signature verification.
    A batch doc whose only near-dups were revoked is now ADMITTED —
    the observable behavior a takedown must produce.

    LSM semantics: the base bands/sigs generations stay immutable;
    the tombstone table is tiny and AQE broadcasts the anti-join.
    The degeneracy cap is NOT retroactively recomputed (postings a
    build-time cap dropped stay dropped — write-once; the oracle
    mirrors capped-then-filtered). Physical reclamation is the
    separate compaction step (``dedup_lsh_index_compact``)."""
    from rs_query_engine_spark.operators.lsh_index import (
        ensure_lsh_index,
        ensure_lsh_tombstones,
        probe_index,
        read_tombstones,
    )

    root = ensure_lsh_index(spark, sf_dir)
    tombs = read_tombstones(spark, ensure_lsh_tombstones(spark, sf_dir))
    batch = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % BATCH_MOD == BATCH_REM
    )
    return probe_index(spark, root, batch, tombstones=tombs)


@register(
    "dedup_lsh_index_compact",
    oracle=f"""
    WITH {_LSH_IDX_CTES}
    SELECT doc_id, band, key FROM idx
    WHERE doc_id % {REVOKE_MOD} <> {REVOKE_REM}
    """,
)
def dedup_lsh_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION generation read-back: ``bands``/``sigs`` rewritten
    minus the tombstoned documents (``ensure_compacted_lsh_index``) —
    the step that physically reclaims probe work and storage once
    ``dedup_lsh_index_tombstone_stats`` shows a high tombstone
    fraction. A hash-PASS proves the compacted artifact round-trips
    bit-exactly AND equals capped-then-filtered semantics (the cap is
    NOT recomputed: deletes only shrink buckets, so every surviving
    posting still satisfies it; postings an earlier cap dropped stay
    dropped — write-once, mirrored by the oracle).

    100-TB shape: one read + broadcast anti-join + partitioned write
    over the INDEX tables only — the corpus is never re-read and no
    signature is recomputed; cost scales with index size (≪ corpus
    size), which is what makes routine takedown compaction affordable."""
    from rs_query_engine_spark.operators.lsh_index import (
        ensure_compacted_lsh_index,
        read_index_bands,
    )

    root = ensure_compacted_lsh_index(spark, sf_dir)
    return read_index_bands(spark, root)


@register(
    "dedup_lsh_index_tombstone_stats",
    oracle=f"""
    WITH {_LSH_IDX_CTES}
    SELECT band,
           COUNT(CASE WHEN doc_id % {REVOKE_MOD} <> {REVOKE_REM} THEN 1 END)
               AS live_postings,
           COUNT(CASE WHEN doc_id % {REVOKE_MOD} = {REVOKE_REM} THEN 1 END)
               AS tomb_postings,
           CAST(COUNT(CASE WHEN doc_id % {REVOKE_MOD} = {REVOKE_REM} THEN 1 END)
                AS DOUBLE) / COUNT(*) AS tomb_frac
    FROM idx GROUP BY band
    """,
)
def dedup_lsh_index_tombstone_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone MONITORING — the compaction trigger: per band, live
    vs tombstoned posting counts and the tombstone fraction (exact
    integer counts; the fraction is one double division of exact
    ints — deterministic). An operator watches ``tomb_frac`` and
    compacts past a threshold (the LSM read-amplification rule).

    Cost: one read of the postings + a broadcast join against the
    tiny tombstone table + an 8-group aggregate — no corpus access,
    no signature recompute; safe to run per ingest cycle at 100 TB."""
    from rs_query_engine_spark.operators.lsh_index import (
        ensure_lsh_index,
        ensure_lsh_tombstones,
        read_index_bands,
        read_tombstones,
    )

    bands = read_index_bands(spark, ensure_lsh_index(spark, sf_dir))
    tombs = read_tombstones(spark, ensure_lsh_tombstones(spark, sf_dir)).withColumn(
        "_t", F.lit(1)
    )
    j = bands.join(F.broadcast(tombs), "doc_id", "left")
    return j.groupBy("band").agg(
        F.count(F.when(F.col("_t").isNull(), 1)).alias("live_postings"),
        F.count(F.when(F.col("_t").isNotNull(), 1)).alias("tomb_postings"),
        (
            F.count(F.when(F.col("_t").isNotNull(), 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("tomb_frac"),
    )


@register(
    "dedup_lsh_index_merge_compact",
    oracle=f"""
    WITH {_LSH_IDX_CTES},
    bband AS (
        SELECT doc_id, band, key FROM banded
        WHERE doc_id % {BATCH_MOD} = {BATCH_REM}
    ), merged AS (
        SELECT doc_id, band, key FROM idx
        UNION ALL
        SELECT doc_id, band, key FROM bband
    ), mcapped AS (
        SELECT doc_id, band, key FROM merged
        QUALIFY COUNT(*) OVER (PARTITION BY band, key) <= {MINHASH_MAX_BUCKET}
    )
    SELECT doc_id, band, key FROM mcapped
    WHERE NOT (doc_id % {REVOKE_MOD} = {REVOKE_REM}
               AND doc_id % {BATCH_MOD} <> {BATCH_REM})
    """,
)
def dedup_lsh_index_merge_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction of the MERGED generation — the post-ingest steady
    state (the base-generation compaction alone would leave LSM
    maintenance undefined after the first merge): ingest a batch
    (merge generation, two-stage cap), then fold the tombstones in
    physically. Merge and compact compose in either order because
    both are per-doc row operations; the cap is write-once in both
    (the oracle mirrors merged-capped-then-filtered). The stand-in
    revocation feed names only docs indexed BEFORE the merge
    (``ensure_lsh_tombstones`` excludes the batch slice), so batch
    postings all survive — mirrored in the oracle's filter.

    Cost identical to base compaction: one index read + broadcast
    anti-join + partitioned write; corpus never re-read."""
    from rs_query_engine_spark.operators.lsh_index import (
        ensure_compacted_lsh_index,
        read_index_bands,
    )

    root = ensure_compacted_lsh_index(spark, sf_dir, merged=True)
    return read_index_bands(spark, root)


@register(
    "governance_takedown_audit",
    oracle=f"""
    WITH {_LSH_IDX_CTES},
    revoked_docs AS (
        SELECT doc_id FROM documents
        WHERE doc_id % {REVOKE_MOD} = {REVOKE_REM}
          AND doc_id % {BATCH_MOD} <> {BATCH_REM}
    ), lsh_before AS (
        SELECT doc_id, COUNT(*) AS cnt FROM idx
        WHERE doc_id % {REVOKE_MOD} = {REVOKE_REM} GROUP BY doc_id
    ), lsh_after AS (
        SELECT doc_id, COUNT(*) AS cnt FROM idx
        WHERE doc_id % {REVOKE_MOD} = {REVOKE_REM}
          AND doc_id % {REVOKE_MOD} <> {REVOKE_REM}
        GROUP BY doc_id
    ),
    corpus AS (
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
    ), topk_before AS (
        SELECT vec_id FROM (
            SELECT q.query_id, a.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_COS_SQL.format(a="a.v", b="q.qv")} DESC, a.vec_id
                   ) AS rnk
            FROM assigned a JOIN q ON a.centroid_id = q.centroid_id
        ) WHERE rnk <= 10
    ), topk_after AS (
        SELECT vec_id FROM (
            SELECT q.query_id, a.vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {_COS_SQL.format(a="a.v", b="q.qv")} DESC, a.vec_id
                   ) AS rnk
            FROM (SELECT * FROM assigned
                  WHERE vec_id % {REVOKE_MOD} <> {REVOKE_REM}) a
            JOIN q ON a.centroid_id = q.centroid_id
        ) WHERE rnk <= 10
    ), revoked_vecs AS (
        SELECT vec_id FROM embeddings WHERE vec_id % {REVOKE_MOD} = {REVOKE_REM}
    ), ann_before AS (
        SELECT vec_id, COUNT(*) AS cnt FROM topk_before
        WHERE vec_id % {REVOKE_MOD} = {REVOKE_REM} GROUP BY vec_id
    ), ann_after AS (
        SELECT vec_id, COUNT(*) AS cnt FROM topk_after
        WHERE vec_id % {REVOKE_MOD} = {REVOKE_REM} GROUP BY vec_id
    )
    SELECT 'lsh_postings' AS surface, r.doc_id AS id,
           COALESCE(b.cnt, CAST(0 AS BIGINT)) AS before_cnt,
           COALESCE(a.cnt, CAST(0 AS BIGINT)) AS after_cnt
    FROM revoked_docs r
    LEFT JOIN lsh_before b ON r.doc_id = b.doc_id
    LEFT JOIN lsh_after a ON r.doc_id = a.doc_id
    UNION ALL
    SELECT 'ann_topk' AS surface, r.vec_id AS id,
           COALESCE(b.cnt, CAST(0 AS BIGINT)) AS before_cnt,
           COALESCE(a.cnt, CAST(0 AS BIGINT)) AS after_cnt
    FROM revoked_vecs r
    LEFT JOIN ann_before b ON r.vec_id = b.vec_id
    LEFT JOIN ann_after a ON r.vec_id = a.vec_id
    """,
)
def governance_takedown_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAKEDOWN-COMPLIANCE audit — the cross-surface differential
    check a revocation pipeline must ship with: for every revoked id,
    how many times it appeared on each retrieval surface BEFORE the
    delete (its postings in the LSH index; its appearances in ANN
    top-10 results) and how many times it still appears AFTER (its
    postings in the COMPACTED index; its appearances in the
    tombstone-honoring probe). The after column is computed by
    actually running the delete paths — the zeros are evidence, not
    construction — while before > 0 rows prove the audit isn't
    vacuous. Rows with before = 0 are kept (LEFT JOIN from the
    revocation feed): an auditor must see every revoked id, not just
    the ones that had exposure.

    Scale shape: each arm is an index-/result-sized aggregate joined
    FROM the tiny revocation feed (broadcast); the ANN arms reuse the
    persisted IVF index probes; nothing scans the corpus beyond the
    probes the surfaces already run. At 100 TB this is the compliance
    report attached to every takedown batch."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_ivf_index,
        ensure_ivf_tombstones,
        rank_ivf_topk,
        read_ivf_tombstones,
        score_ivf_probe,
    )
    from rs_query_engine_spark.operators.lsh_index import (
        ensure_compacted_lsh_index,
        ensure_lsh_index,
        ensure_lsh_tombstones,
        read_index_bands,
        read_tombstones,
    )
    from rs_query_engine_spark.session import truncate_lineage

    zero = F.lit(0).cast("bigint")

    # LSH surface: postings per revoked doc, base vs compacted index
    tombs_d = read_tombstones(spark, ensure_lsh_tombstones(spark, sf_dir))
    bands_base = read_index_bands(spark, ensure_lsh_index(spark, sf_dir))
    bands_comp = read_index_bands(
        spark, ensure_compacted_lsh_index(spark, sf_dir)
    )
    lsh_before = bands_base.join(F.broadcast(tombs_d), "doc_id").groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("_b"))
    lsh_after = bands_comp.join(F.broadcast(tombs_d), "doc_id").groupBy(
        "doc_id"
    ).agg(F.count(F.lit(1)).alias("_a"))
    lsh = (
        tombs_d.join(lsh_before, "doc_id", "left")
        .join(lsh_after, "doc_id", "left")
        .select(
            F.lit("lsh_postings").alias("surface"),
            F.col("doc_id").alias("id"),
            F.coalesce(F.col("_b"), zero).alias("before_cnt"),
            F.coalesce(F.col("_a"), zero).alias("after_cnt"),
        )
    )

    # ANN surface: appearances of revoked vectors in top-10 results,
    # unfiltered probe vs tombstone-honoring probe
    root = ensure_ivf_index(spark, sf_dir)
    tombs_v = read_ivf_tombstones(spark, ensure_ivf_tombstones(spark, sf_dir))
    q = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # r19 (guide §2.4): both probes share the whole scoring prefix —
    # centroid assignment of the same query batch + probed-list scan +
    # dot products — and differ only in the tombstone filter, which
    # commutes with row-wise scoring. Score ONCE, stage the (query,
    # vec, cos) frame (~queries × probed-list rows), and rank twice;
    # the after arm anti-joins tombstones on the staged frame.
    # Identity-checked vs the two-probe spelling at 3 SFs.
    scored = truncate_lineage(score_ivf_probe(spark, root, q, nprobe=2))
    res_before = rank_ivf_topk(scored, 10)
    res_after = rank_ivf_topk(
        scored.join(tombs_v.select("vec_id"), "vec_id", "left_anti"), 10
    )
    ann_before = res_before.join(F.broadcast(tombs_v), "vec_id").groupBy(
        "vec_id"
    ).agg(F.count(F.lit(1)).alias("_b"))
    ann_after = res_after.join(F.broadcast(tombs_v), "vec_id").groupBy(
        "vec_id"
    ).agg(F.count(F.lit(1)).alias("_a"))
    ann = (
        tombs_v.join(ann_before, "vec_id", "left")
        .join(ann_after, "vec_id", "left")
        .select(
            F.lit("ann_topk").alias("surface"),
            F.col("vec_id").alias("id"),
            F.coalesce(F.col("_b"), zero).alias("before_cnt"),
            F.coalesce(F.col("_a"), zero).alias("after_cnt"),
        )
    )
    return lsh.unionByName(ann)


# =====================================================================
# Persisted IVF index (VERDICT r09 "what's missing" #3: the embeddings
# twin of ensure_lsh_index — assignments were recomputed per query;
# operators/ivf_index.py persists them partitioned by list)
# =====================================================================

_IVF_CENT_CTES = f"""
    corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent AS (
        SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < 8
    ), ranked AS (
        SELECT corpus.vec_id, corpus.v, cent.centroid_id,
               {_COS_SQL.format(a="corpus.v", b="cent.cv")} AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY corpus.vec_id
                   ORDER BY {_COS_SQL.format(a="corpus.v", b="cent.cv")} DESC, cent.centroid_id
               ) AS rn
        FROM corpus, cent
    ), assigned AS (
        SELECT vec_id, v, centroid_id, cos FROM ranked WHERE rn = 1
    )
"""


@register(
    "similarity_ivf_index_build",
    oracle=f"""
    WITH {_IVF_CENT_CTES}
    SELECT vec_id, centroid_id FROM assigned
    """,
)
def similarity_ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-and-read-back of the PERSISTED IVF index
    (operators/ivf_index.py): every corpus vector's single
    nearest-centroid assignment, written ONCE as parquet PARTITIONED
    BY centroid_id (with the vector and its norm stored alongside, so
    probes never recompute either), plus the centroid table. A
    hash-PASS proves the persisted assignment round-trips exactly.

    100-TB shape: the assignment pass is one corpus scan + a
    broadcast score against the centroid set + a per-vector top-1 —
    run once per corpus generation instead of once per query (every
    live ``similarity_ivf_*`` query re-runs it today); the list
    partitioning makes each probe a partition-pruned scan of
    ~nprobe/n_lists of the data. Reference analogue: the catalog
    register/lookup surface (src/catalog.rs:16-42) extended to a
    maintained artifact, same machinery as the LSH index."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_ivf_index,
        read_ivf_assign,
    )

    root = ensure_ivf_index(spark, sf_dir)
    return read_ivf_assign(spark, root).select("vec_id", "centroid_id")


@register(
    "similarity_ivf_index_probe",
    oracle=f"""
    WITH {_IVF_CENT_CTES},
    q AS (
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
def similarity_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 ANN probe (nprobe=2) against the PERSISTED IVF index —
    the steady-state search path: query vectors assign against the
    artifact's centroid table (8 rows, broadcast), then score ONLY
    the probed lists' stored (vector, norm) rows. Identical results
    to ``similarity_ivf_probed`` (same oracle), but the corpus
    assignment/norm work is amortized into the one-time build —
    per-query cost is O(probed-list sizes), and at cluster scale the
    list-partitioned layout turns the probe into a partition-pruned
    scan. The probe side (queries × nprobe, the bounded ANN
    probe-batch contract) is broadcast; the assign scan streams."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_ivf_index,
        probe_ivf_index,
    )

    root = ensure_ivf_index(spark, sf_dir)
    q = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return probe_ivf_index(spark, root, q, 10, nprobe=2)


@register(
    "similarity_ivf_index_stats",
    oracle=f"""
    WITH {_IVF_CENT_CTES}
    SELECT centroid_id, COUNT(*) AS n_vectors,
           MIN(cos) AS min_cos, MAX(cos) AS max_cos
    FROM assigned GROUP BY centroid_id
    """,
)
def similarity_ivf_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list-HEALTH metrics — the ANN twin of
    ``dedup_lsh_index_stats``: per inverted list, its size (balance —
    a skewed list breaks the ~1/n_lists probe-cost promise and says
    "retrain centroids") and the min/max cosine of members to their
    centroid (tightness bounds — a low min flags vectors the
    partitioning serves badly). MIN/MAX of raw doubles and exact
    counts only — no float summation, so the whole report
    hash-verifies (the mean would need a non-grid double sum).

    Cost: one read of the persisted assignment + one 8-group
    aggregate with a broadcast centroid join — the corpus embeddings
    are never re-read; run it per build to decide nprobe/retraining."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_ivf_index,
        read_ivf_assign,
        read_ivf_centroids,
    )
    from rs_query_engine_spark.operators.similarity import dot

    root = ensure_ivf_index(spark, sf_dir)
    assign = read_ivf_assign(spark, root)
    cent = read_ivf_centroids(spark, root)
    cos = F.try_divide(
        dot(F.col("v"), F.col("cv")), F.col("n") * F.col("cn")
    ).alias("cos")
    return (
        assign.join(F.broadcast(cent), "centroid_id")
        .select("centroid_id", cos)
        .groupBy("centroid_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("cos").alias("min_cos"),
            F.max("cos").alias("max_cos"),
        )
    )


@register(
    "similarity_ivf_index_delete",
    oracle=f"""
    WITH {_IVF_CENT_CTES},
    live AS (
        SELECT * FROM assigned WHERE vec_id % {REVOKE_MOD} <> {REVOKE_REM}
    ), q AS (
        SELECT vec_id AS query_id, v AS qv, centroid_id
        FROM ranked WHERE rn <= 2 AND vec_id % 100 = 0
    ), scored AS (
        SELECT q.query_id, a.vec_id,
               {_COS_SQL.format(a="a.v", b="q.qv")} AS cos
        FROM live a JOIN q ON a.centroid_id = q.centroid_id
    )
    SELECT * FROM (
        SELECT query_id, vec_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """,
)
def similarity_ivf_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE path of the persisted IVF index: the nprobe=2 probe with
    the TOMBSTONE table honored — the same revocation feed as the LSH
    index (``vec_id % 17 == 15``: revoking a document revokes its
    embedding), anti-joined out of the assignment scan BEFORE scoring.
    Revoked vectors vanish from every top-k — and since assignments
    are per-vector independent, filter-then-score is EXACTLY a fresh
    index over the surviving corpus (the stronger delete criterion,
    which the oracle states directly). Centroids are not retracted: a
    centroid is learned structure, not corpus content (documented in
    ``ensure_ivf_tombstones``). The tombstone side is a tiny takedown
    list; AQE broadcasts the anti-join."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_ivf_index,
        ensure_ivf_tombstones,
        probe_ivf_index,
        read_ivf_tombstones,
    )

    root = ensure_ivf_index(spark, sf_dir)
    tombs = read_ivf_tombstones(spark, ensure_ivf_tombstones(spark, sf_dir))
    q = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return probe_ivf_index(spark, root, q, 10, nprobe=2, tombstones=tombs)


@register(
    "similarity_ivf_index_merge",
    oracle=f"""
    WITH {_IVF_CENT_CTES}
    SELECT vec_id, centroid_id,
           CASE WHEN vec_id % {BATCH_MOD} = {BATCH_REM}
                THEN 'batch' ELSE 'base' END AS generation
    FROM assigned
    """,
)
def similarity_ivf_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE generation of the persisted IVF index — incremental
    ingest without recompute (the ANN twin of
    ``dedup_lsh_index_merge``): the new embedding batch
    (``vec_id % 20 == 7``, the same ingest feed as the LSH lifecycle)
    is assigned against the base generation's PERSISTED centroid
    table and unioned with the base assignments, which are a pure
    artifact read — never recomputed. The read-back carries a
    ``generation`` provenance column.

    The oracle is a FRESH full-corpus build plus the batch marker:
    because IVF assignment is per-vector independent under fixed
    centroids, merge-without-recompute EQUALS a fresh rebuild — a
    stronger guarantee than the LSH merge (where the degeneracy cap
    makes merge ≠ rebuild, a documented write-once trade), and a
    hash-PASS here proves it. At 100 TB the merge costs
    O(batch × centroids) + one index-size write vs a full corpus
    re-assignment."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_merged_ivf_index,
        read_ivf_merged_assign,
    )

    root = ensure_merged_ivf_index(spark, sf_dir)
    return read_ivf_merged_assign(spark, root).select(
        "vec_id", "centroid_id", "generation"
    )


@register(
    "similarity_ivf_index_compact",
    oracle=f"""
    WITH {_IVF_CENT_CTES}
    SELECT vec_id, centroid_id FROM assigned
    WHERE vec_id % {REVOKE_MOD} <> {REVOKE_REM}
    """,
)
def similarity_ivf_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION generation of the persisted IVF index: ``assign``
    rewritten minus the tombstoned vectors (the physical half of the
    delete path — after it, probes drop the tombstone anti-join
    entirely). Per-vector assignment independence makes the compacted
    index EXACTLY a fresh build over the surviving corpus — the
    oracle states the equality directly (contrast the LSH compaction,
    pinned to capped-then-filtered semantics instead).

    Cost: one index read + broadcast anti-join + partitioned write;
    the corpus embeddings are never re-read and no assignment is
    recomputed — index-size work, ≪ corpus-size, which is what makes
    routine takedown compaction affordable at 100 TB."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_compacted_ivf_index,
        read_ivf_assign,
    )

    root = ensure_compacted_ivf_index(spark, sf_dir)
    return read_ivf_assign(spark, root).select("vec_id", "centroid_id")


@register(
    "stream_ivf_probe",
    oracle=_ORACLE["similarity_ivf_index_probe"],
)
def stream_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS ANN — the streaming face of the persisted IVF index
    (the embeddings twin of ``stream_index_probe``): query vectors
    arrive as a stream, each micro-batch is probed against the
    persisted index inside ``foreachBatch`` (the probe is the same
    batch ``probe_ivf_index`` code — index probing, exactly-once
    parquet output and checkpoint-tracked offsets compose without a
    streaming-specific join), and results land batch-id-partitioned
    for idempotent retries.

    Per-query top-k depends only on the query vector and the index —
    never on other queries — so the streamed output is hash-identical
    to the one-shot probe (same oracle as
    ``similarity_ivf_index_probe``): THE invariant that makes
    continuous retrieval trustworthy. At 100 TB this is the online
    serving path: the index is cached executor-side between
    micro-batches, per-batch cost is O(batch × probed lists)."""
    import os

    from rs_query_engine_spark.operators.ivf_index import (
        ensure_ivf_index,
        probe_ivf_index,
    )
    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.sources.corpus import stream_source_dir
    from rs_query_engine_spark.streaming.events import run_stream_to_parquet

    root = ensure_ivf_index(spark, sf_dir)
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_source_dir(src))
        .filter(F.col("vec_id") % 100 == 0)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
    )
    # fresh run dir per invocation: same re-invocation contract as
    # stream_index_probe
    run_root = scratch_dir(spark, "streamivf", src, fresh=True)
    out, ckpt = os.path.join(run_root, "out"), os.path.join(run_root, "ckpt")
    run_stream_to_parquet(
        stream,
        out,
        ckpt,
        transform_fn=lambda b: probe_ivf_index(spark, root, b, 10, nprobe=2),
        state_partitions=None,
    )
    return spark.read.parquet(out).select("query_id", "vec_id", "cos", "rnk")


@register(
    "similarity_ivf_trained_invariants",
    oracle="""
    SELECT (SELECT COUNT(*) FROM embeddings) AS n_assigned,
           (SELECT COUNT(*) FROM embeddings) AS n_distinct_vecs,
           TRUE AS lists_bounded,
           TRUE AS trained_not_worse
    """,
)
def similarity_ivf_trained_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-centroid persisted IVF index — the production swap the
    artifact's cache key was designed for (``ensure_trained_ivf_index``:
    seeded Spark-ML k-means centers into the same build; nothing else
    changes). Lloyd's is iterative, so values aren't SQL-expressible;
    this verifies exact INVARIANTS instead (the
    ``similarity_kmeans_invariants`` pattern, r8): the persisted
    assignment covers every corpus vector exactly once
    (``n_assigned`` = ``n_distinct_vecs`` = corpus count — both exact
    BIGINTs against the oracle's COUNT), uses at most k lists, and is
    at least as tight as the seed-centroid index (mean assigned
    cosine, 1e-6 relative slack — far below the measured 27-42%
    margin across SFs but far above double-AVG partition-order
    jitter; both means computed in-Spark from the two artifacts'
    stored vectors/norms, emitted as a boolean). The dominance claim
    is data-dependent in general — Spark-ML Lloyd's minimizes squared
    Euclidean distance while assignment here is max-cosine — so a
    regenerated corpus with adversarial norm structure could flip it;
    it is an empirical pin for THIS corpus generation, which is
    exactly what a staged parity gate re-verifies.

    Cost: training is a once-per-generation artifact build
    (setup-listed); the invariant check itself is two index reads +
    broadcast centroid joins + 1-row aggregates."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_ivf_index,
        ensure_trained_ivf_index,
        N_SEED,
        read_ivf_assign,
        read_ivf_centroids,
    )
    from rs_query_engine_spark.operators.similarity import dot

    def mean_cos(root: str):
        assign = read_ivf_assign(spark, root)
        cent = read_ivf_centroids(spark, root)
        cos = F.try_divide(dot(F.col("v"), F.col("cv")), F.col("n") * F.col("cn"))
        return assign.join(F.broadcast(cent), "centroid_id").agg(
            F.avg(cos).alias("_m")
        )

    troot = ensure_trained_ivf_index(spark, sf_dir)
    sroot = ensure_ivf_index(spark, sf_dir)
    tassign = read_ivf_assign(spark, troot)
    counts = tassign.agg(
        F.count(F.lit(1)).alias("n_assigned"),
        F.count_distinct("vec_id").alias("n_distinct_vecs"),
        (F.count_distinct("centroid_id") <= N_SEED).alias("lists_bounded"),
    )
    tm = mean_cos(troot).withColumnRenamed("_m", "_tm")
    sm = mean_cos(sroot).withColumnRenamed("_m", "_sm")
    return counts.crossJoin(tm).crossJoin(sm).select(
        "n_assigned",
        "n_distinct_vecs",
        "lists_bounded",
        (F.col("_tm") >= F.col("_sm") * (1 - F.lit(1e-6))).alias("trained_not_worse"),
    )


# =====================================================================
# Persisted PQ-encoded index — the compressed half of the ANN artifact
# story (codes are what a billion-vector deployment keeps resident;
# similarity_ivf_pq_topk re-encodes the corpus per query today)
# =====================================================================


def _pq_build_oracle() -> str:
    from rs_query_engine_spark.operators.ivf_index import PQ_NUM_SUB
    from rs_query_engine_spark.queries import _pq_cte_block

    cols = ", ".join(f"c{b}" for b in range(PQ_NUM_SUB))
    return f"""
    WITH {_pq_cte_block()}
    SELECT vec_id, {cols}, centroid_id FROM codes
    """


@register("similarity_pq_index_build", oracle=_pq_build_oracle())
def similarity_pq_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-and-read-back of the persisted PQ-ENCODED index
    (``operators/ivf_index.ensure_pq_index``): every corpus vector as
    its coarse-list assignment + 8 codebook codes — the ~64×
    compressed representation that IS the resident index at
    billion-vector scale — written once, partitioned by list, in the
    same map pass as the assignment (one corpus scan total). A
    hash-PASS proves the persisted codes round-trip exactly against
    the same generated codebook CTEs the live end-to-end oracle uses
    (``queries._pq_cte_block`` — shared, so they cannot drift).

    100-TB shape: encoding is the one-time cost; after it, ADC probes
    never read a raw corpus vector again (the codes scan is the whole
    corpus-side I/O, 64× smaller), and re-encoding per query — what
    the live ``similarity_ivf_pq_topk`` does — is gone."""
    from rs_query_engine_spark.operators.ivf_index import (
        PQ_NUM_SUB,
        ensure_pq_index,
        read_pq_codes,
    )

    root = ensure_pq_index(spark, sf_dir)
    return read_pq_codes(spark, root).select(
        "vec_id", *[f"c{b}" for b in range(PQ_NUM_SUB)], "centroid_id"
    )


def _pq_probe_oracle() -> str:
    # the persisted-index probe is hash-identical to the live
    # end-to-end pipeline — same generated oracle, by reference
    from rs_query_engine_spark.queries import _pq_adc_oracle_sql

    return _pq_adc_oracle_sql()


@register("similarity_pq_index_probe", oracle=_pq_probe_oracle())
def similarity_pq_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 (nprobe=2) against the PERSISTED PQ codes — the
    steady-state compressed search path: query vectors assign against
    the artifact's centroid table, build their per-subspace distance
    tables once, and rank the probed lists' stored codes by table
    lookups. Hash-identical to the live ``similarity_ivf_pq_topk``
    (same oracle): the compression/recall trade is unchanged — only
    the per-query corpus re-encoding is gone. PAIRING: this IS the
    production form of that query (~1.2–1.4 s vs 2.6 s at sf0.1); the
    live twin stays registered as the self-contained from-scratch
    cross-check, and their shared oracle makes agreement between them
    a build≡encode lifecycle invariant. The probe side (queries
    × nprobe with their lookup tables, a bounded ANN probe batch) is
    broadcast; the codes scan streams, partition-pruned by list at
    cluster scale."""
    from rs_query_engine_spark.operators.ivf_index import (
        ensure_pq_index,
        probe_pq_index,
    )

    root = ensure_pq_index(spark, sf_dir)
    q = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return probe_pq_index(spark, root, q, 10)


# =====================================================================
# Cosine RANGE search — the radius half of the ANN API
# =====================================================================

_RANGE_THRESH = 0.3  # parses to the identical double in both engines


@register(
    "similarity_range_search",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id % 100 = 0
    )
    SELECT q.query_id, corpus.vec_id,
           {_COS_SQL.format(a="corpus.v", b="q.qv")} AS cos
    FROM corpus, q
    WHERE {_COS_SQL.format(a="corpus.v", b="q.qv")} >= {_RANGE_THRESH}
      AND q.query_id <> corpus.vec_id
    """,
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (radius) search: every corpus vector with cosine ≥ 0.3 of
    each query vector — the ANN API's other half next to top-k
    (dedup-screening and recall-oriented retrieval want "everything
    this close", not a fixed k). Threshold 0.3 sits in this corpus's
    upper tail (max off-diagonal cosine ≈ 0.45), so matches are a
    sparse result, the realistic radius-query profile.

    Scale shape (operators/similarity.cosine_range_search): the
    bounded query batch broadcasts, the corpus streams MAP-ONLY with
    the threshold filter inside the scan stage — strictly less
    machinery than top-k (no per-query window, no shuffle at all).
    The corpus×corpus radius variant is the LSH-bucketed
    ``dedup_embedding_cosine``, never this broadcast shape."""
    from rs_query_engine_spark.operators.similarity import cosine_range_search

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return cosine_range_search(e, q, _RANGE_THRESH)


# =====================================================================
# TPC-H shape coverage: Q4 / Q8 / Q9 / Q11 / Q12 / Q15 / Q16 analogues
# — closing the set (all 22 dbgen queries now have a registered
# shape). Column stand-ins per query where this corpus lacks dbgen
# columns (no partsupp / commitdate / receiptdate / shipmode).
# =====================================================================


@register(
    "tpch_q4_shape",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-07-01'
      AND o.o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 SHAPE — order-priority checking (dbgen counts orders
    with a late lineitem, l_commitdate < l_receiptdate; this corpus
    has neither column, so "late" is l_shipdate more than 60 days
    after the order date — the same correlated-EXISTS topology with
    a cross-table predicate). One quarter of orders, grouped by
    priority.

    Scale shape: the EXISTS decorrelates to a LEFT SEMI join on
    o_orderkey with the lateness predicate riding the join condition
    — lineitem is never aggregated or widened, the semi join emits
    each order at most once (no fan-out), the date filter is pushed
    to the orders scan, and the 5-group aggregate is map-side
    partial. No hints: both sides are SF-proportional, AQE decides."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01")
        & (F.col("o_orderdate") < "1996-10-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q8_shape",
    oracle="""
    WITH base AS (
        SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(14,4)) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN region r   ON n1.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END)
                AS DOUBLE) AS nation_volume,
           CAST(SUM(volume) AS DOUBLE) AS total_volume,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END)
                AS DOUBLE)
               / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM base GROUP BY o_year ORDER BY o_year
    """,
)
def tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 SHAPE — national market share: NATION_7's fraction of
    ECONOMY-part revenue sold into ASIA, per order-year (dbgen Q8
    minus partsupp: the supplier-nation attribution joins supplier
    directly, same 8-table star otherwise). The share divides two
    decimal-exact sums cast to double — deterministic; both sums are
    also emitted for auditability.

    Scale shape: the canonical multi-fact star — lineitem joins
    orders on the shuffle key, customer/supplier sized by AQE,
    nation/region FIXED-cardinality and broadcast; the p_type filter
    is pushed into the part scan, the date window into orders; the
    per-year aggregate is map-side partial into ≤ 2 groups."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf_dir, "supplier")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("supp_nation")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(14,4)"
    )
    base = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_nationkey"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == n1["n_nationkey"])
        .join(F.broadcast(r), n1["n_regionkey"] == r["r_regionkey"])
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.sum(
        F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(
            F.lit(0).cast("decimal(14,4)")
        )
    ).cast("double")
    total_vol = F.sum("volume").cast("double")
    return (
        base.groupBy("o_year")
        .agg(
            nation_vol.alias("nation_volume"),
            total_vol.alias("total_volume"),
        )
        .select(
            "o_year",
            "nation_volume",
            "total_volume",
            (F.col("nation_volume") / F.col("total_volume")).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


@register(
    "tpch_q9_shape",
    oracle="""
    SELECT n.n_name AS nation, EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - p.p_retailprice * l.l_quantity
                    AS DECIMAL(16,4))) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 SHAPE — product-type profit by nation and year (dbgen
    subtracts ps_supplycost×quantity; no partsupp here, so cost is
    p_retailprice×quantity — same arithmetic shape: revenue minus a
    part-priced cost, same %-LIKE part filter, same
    supplier→nation attribution). Profit terms are exact-grid doubles
    (2-dec price × integral quantity), summed on a DECIMAL(16,4)
    grid, cast to double.

    Scale shape: the LIKE filter cannot prune the part scan's rows at
    planning time but drops ~2/3 of parts before the join; lineitem
    joins part/supplier/orders all on their natural shuffle keys;
    nation broadcasts; the (25 nations × years) aggregate is
    map-side partial. No hints otherwise — AQE sizes part/supplier."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(16,4)")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            profit.alias("_profit"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("_profit").cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "tpch_q11_shape",
    oracle="""
    WITH pv AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(16,2))) AS val
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
        GROUP BY l.l_partkey
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS value
    FROM pv
    WHERE val > (SELECT SUM(val) * 0.001 FROM pv)
    ORDER BY value DESC, l_partkey
    """,
)
def tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 SHAPE — important stock identification: per-part
    traded value through NATION_3's suppliers, keeping parts above
    0.1% of the national total (dbgen computes ps_supplycost×ps_availqty
    over partsupp; the same GROUP-BY + HAVING-against-scalar-subquery
    topology runs here on lineitem's extendedprice×quantity). The
    threshold comparison is decimal-exact on both sides (sum × an
    exact decimal literal); only the OUTPUT casts to double.

    Scale shape: ONE aggregation pass feeds both the per-part values
    and the global threshold — the threshold is an empty-partition
    window SUM over the already-reduced pv (part-cardinality, ≪
    lineitem; a single-partition pass over it is cheap by
    construction), so lineitem is scanned once IN THE STATIC PLAN
    (the scalar-subquery/cross-join form only deduplicates via AQE
    runtime exchange reuse — plan-test-pinned here instead); nation
    broadcasts into the supplier probe; supplier itself is
    AQE-sized."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(16,2)")
    pv = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("val"))
    )
    w = Window.partitionBy()
    return (
        pv.withColumn(
            "_thresh",
            F.sum("val").over(w) * F.lit("0.001").cast("decimal(4,3)"),
        )
        .filter(F.col("val") > F.col("_thresh"))
        .select("l_partkey", F.col("val").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@register(
    "tpch_q12_shape",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
)
def tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 SHAPE — shipping-mode priority mix (dbgen buckets
    late-received lineitems by l_shipmode and splits orders into
    high/low priority with conditional sums; no shipmode/receiptdate
    here, so the same conditional-aggregation topology runs per
    l_returnflag over a one-year ship window). Conditional SUMs of
    0/1 ints are exact.

    Scale shape: ONE fact-fact equi-join on the orderkey shuffle key
    with the year filter pushed to the lineitem scan (pruning before
    the shuffle), then a 3-group map-side-partial aggregate; the
    priority CASE rides the join projection — no second pass. DuckDB
    SUM(INTEGER) yields HUGEINT, so the oracle casts to BIGINT (the
    repo-standard type-family fix)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "tpch_q15_shape",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(14,4)))
                   AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 SHAPE — top supplier: the supplier(s) whose one-
    quarter revenue equals the maximum (dbgen's revenue view + scalar
    MAX subquery, verbatim topology — every column it needs exists
    here). The MAX and the equality compare exact decimals; only the
    output casts to double, so ties surface identically in both
    engines.

    Scale shape: one filtered pass over lineitem into a per-supplier
    map-side-partial aggregate; the scalar MAX is an empty-partition
    window over that same (tiny, supplier-cardinality) result, so
    lineitem is scanned ONCE in the static plan — measured: the
    scalar-subquery/cross-join form gets NO exchange reuse here even
    at AQE runtime (the broadcast side executes as a separate job
    before stage-reuse matching), i.e. it genuinely scans lineitem
    twice; the window form is pinned by a plan test. The supplier
    join attaches names after the filter has cut to the winners."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(14,4)"
                )
            ).alias("total_rev")
        )
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        rev.withColumn("_mx", F.max("total_rev").over(Window.partitionBy()))
        .filter(F.col("total_rev") == F.col("_mx"))
        .join(s, F.col("supplier_no") == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_shape",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 14, 23, 45, 19, 3, 36, 9)
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 SHAPE — parts/supplier relationship: how many
    distinct eligible suppliers ship each (brand, type, size) combo,
    excluding a blocklisted supplier set (dbgen's
    '%Customer%Complaints%' comment scan; the stand-in blocklist is
    suppliers with negative account balance — no comment column). The
    part-supplier relation is lineitem (no partsupp), same NOT-IN +
    COUNT-DISTINCT topology.

    Scale shape: the NOT IN compiles to a LEFT ANTI join against the
    (tiny, broadcast) blocklist — safe because s_suppkey is non-null,
    otherwise NOT IN's NULL semantics would differ; the brand/type/
    size filters push into the part scan; COUNT(DISTINCT) shuffles
    once on the group key with the distinct handled by Spark's
    two-phase expand — no row explosion beyond the distinct pairs."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 14, 23, 45, 19, 3, 36, 9))
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


# =====================================================================
# Warehouse maintenance — TPC-H refresh-function analogues (dbgen's
# RF1 insert / RF2 delete batches, the OLTP-ish face of the
# warehouse: spec §2.27-2.28). The reference has no mutation path at
# all (`src/datasource/memory_table.rs` tables are write-once), so
# these define the Spark-first semantics: copy-on-write via set
# operations — insert-if-absent is a LEFT ANTI + UNION, delete is a
# LEFT ANTI against the delete-key feed, cascaded in one pass.
# =====================================================================

# The refresh batch: a deterministic 1/97 orderkey slice (dbgen draws
# SF*1500 keys; a modulus is the content-stable analogue, same spirit
# as BATCH_MOD for the index batches).
RF_MOD = 97
RF_REM = 3


@register(
    "maintenance_rf1_insert",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS DOUBLE)
               AS sum_totalprice
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def maintenance_rf1_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H RF1 analogue — idempotent batch INSERT (upsert): the
    incoming feed is the ``o_orderkey % {RF_MOD} == {RF_REM}`` slice,
    the warehouse base deliberately already contains HALF of it
    (every feed key ``≡ {RF_REM} (mod {2 * RF_MOD})`` is missing, the
    rest are present), so a naive UNION would double-count. The merge
    is insert-if-absent: feed LEFT ANTI base on the key, then UNION
    ALL — the MERGE WHEN NOT MATCHED half of SQL MERGE, which Spark
    has no built-in for over parquet.

    The oracle is the recovery INVARIANT, not a re-description of the
    merge: base ∪ feed covers the full table by construction, so the
    merged per-status counts and decimal-exact totalprice sums must
    equal the same aggregates over plain ``orders`` — any duplicate
    insert or dropped row breaks it.

    Scale shape: insert-if-absent against a 100-TB base is ONE
    shuffle anti-join on the upsert key (both sides hash-partitioned;
    the feed side is tiny so AQE broadcasts it), never a base
    rewrite-and-compare; the union is metadata-only on top. Partial
    aggregation handles the verification sums map-side."""
    o = _t(spark, sf_dir, "orders")
    feed = o.filter(F.col("o_orderkey") % RF_MOD == RF_REM)
    base = o.filter(F.col("o_orderkey") % (2 * RF_MOD) != RF_REM)
    fresh = feed.join(base.select("o_orderkey"), "o_orderkey", "left_anti")
    merged = base.unionByName(fresh)
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(14,4)"))
            .cast("double")
            .alias("sum_totalprice"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "maintenance_rf2_delete",
    oracle=f"""
    SELECT
      (SELECT COUNT(*) FROM orders
        WHERE o_orderkey % {RF_MOD} <> {RF_REM}) AS orders_remaining,
      (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey % {RF_MOD} <> {RF_REM}) AS lineitem_remaining,
      CAST((SELECT SUM(CAST(o_totalprice AS DECIMAL(14,4))) FROM orders
             WHERE o_orderkey % {RF_MOD} <> {RF_REM}) AS DOUBLE)
          AS sum_totalprice_remaining,
      (SELECT COUNT(*) FROM lineitem l
        WHERE l.l_orderkey % {RF_MOD} <> {RF_REM}
          AND NOT EXISTS (
              SELECT 1 FROM orders o
              WHERE o.o_orderkey = l.l_orderkey
                AND o.o_orderkey % {RF_MOD} <> {RF_REM}
          )) AS orphans
    """,
)
def maintenance_rf2_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H RF2 analogue — batch DELETE with cascade: the delete
    feed is a KEY TABLE (the ``% {RF_MOD} == {RF_REM}`` orderkeys —
    in production it arrives as a feed, so the plan must treat it as
    data, not a pushable predicate), anti-joined out of ``orders``
    and cascaded to ``lineitem`` in the same pass. Output is the
    post-delete audit: remaining counts, the decimal-exact remaining
    totalprice, and the referential-integrity check that the cascade
    left NO orphan lineitems (a lineitem whose order was deleted but
    whose lines survived — the bug cascades exist to prevent).

    The oracle recomputes all four from the raw tables with the
    delete expressed as NOT-predicate / NOT EXISTS — the orphan count
    is genuinely computed on both sides, not asserted as a literal.

    Scale shape: delete-by-key from a 100-TB fact pair is two
    anti-joins against the (small) key feed — AQE broadcasts it, so
    neither fact table shuffles; the orphan audit is the one honest
    key-shuffle (remaining lineitem anti remaining orders), which is
    the audit's cost, not the delete's."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    del_keys = o.filter(F.col("o_orderkey") % RF_MOD == RF_REM).select("o_orderkey")
    rem_o = o.join(del_keys, "o_orderkey", "left_anti")
    rem_li = li.join(
        del_keys.withColumnRenamed("o_orderkey", "l_orderkey"),
        "l_orderkey",
        "left_anti",
    )
    a = rem_o.agg(
        F.count(F.lit(1)).alias("orders_remaining"),
        F.sum(F.col("o_totalprice").cast("decimal(14,4)"))
        .cast("double")
        .alias("sum_totalprice_remaining"),
    )
    b = rem_li.agg(F.count(F.lit(1)).alias("lineitem_remaining"))
    c = rem_li.join(
        rem_o.select("o_orderkey"),
        rem_li["l_orderkey"] == F.col("o_orderkey"),
        "left_anti",
    ).agg(F.count(F.lit(1)).alias("orphans"))
    return a.crossJoin(b).crossJoin(c).select(
        "orders_remaining",
        "lineitem_remaining",
        "sum_totalprice_remaining",
        "orphans",
    )


# =====================================================================
# Watermarked LATE-data semantics — actual out-of-order arrival across
# micro-batches (stream_append_finalized pins finalization timing but
# its whole corpus arrives in ONE batch, so the late-DROP path never
# executes; this is the remaining untested watermark semantics)
# =====================================================================


@register(
    "stream_late_data_drop",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ), m AS (SELECT MAX(ts) AS mx FROM e),
    a1 AS (SELECT e.* FROM e, m
           WHERE ts > mx - INTERVAL 5 DAY AND ts <= mx - INTERVAL 3 DAY),
    a2 AS (SELECT e.* FROM e, m
           WHERE ts > mx - INTERVAL 3 DAY AND ts <= mx - INTERVAL 2 DAY),
    b AS (SELECT e.* FROM e, m WHERE ts <= mx - INTERVAL 5 DAY),
    c AS (SELECT e.* FROM e, m WHERE ts > mx - INTERVAL 2 DAY),
    wa AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM a1),
    wf AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM c),
    accepted AS (
        SELECT ts, event_type FROM a1
        UNION ALL SELECT ts, event_type FROM a2
        UNION ALL SELECT ts, event_type FROM c
        UNION ALL SELECT b.ts, b.event_type FROM b, wa
        WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wa.w
    ),
    agg AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events
        FROM accepted GROUP BY 1, 2
    )
    SELECT g.window_start, g.event_type, g.n_events
    FROM agg g, wf
    WHERE g.window_start + INTERVAL 1 HOUR <= wf.w
    """,
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics under real out-of-order arrival:
    the corpus replays as four micro-batches whose arrival order
    disagrees with event time (``ensure_late_feed``: on-time feed in
    two batches → LATE feed whose event times are the oldest →
    catch-up feed), and the 84-hour watermark delay is chosen so the
    late batch STRADDLES the watermark standing when it arrives —
    rows whose 1-hour window still ends after the watermark are
    aggregated, older rows are dropped, and both outcomes are visible
    in the finalized output (the dropped rows' windows DO get
    emitted, with counts that exclude them).

    The oracle replays Spark's watermark arithmetic exactly in SQL,
    including the one-batch LAG of the late-event filter behind the
    eviction watermark (measured; see the ``ensure_late_feed`` layout
    comment): the filter standing when the late batch (batch 2)
    arrives derives from batch 0's data — the millisecond-floored max
    event time minus the delay; a late row survives iff its window
    end exceeds that; append mode emits a window once the FINAL
    watermark (advanced by the catch-up batch plus the trailing
    no-data batch) passes its end. Late-batch rows land in state only
    while un-finalized, so nothing is double-emitted — the oracle's
    four-way union is disjoint by construction.

    At 100 TB this is the landing-zone contract: state is bounded by
    the lateness horizon (windows × types inside 84 h), not corpus
    size, and the drop rule makes reprocessing idempotent — a replayed
    old file can never mutate finalized downstream partitions."""
    from rs_query_engine_spark.streaming.events import (
        LATE_DELAY,
        ensure_late_feed,
        run_stream_to_memory,
    )

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    agg = (
        stream.withWatermark("ts", LATE_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    # state_partitions=2 (r19, guide §2.2/§5): every state partition
    # costs a store instance whose per-micro-batch commit + task
    # machinery is the dominant cost of this bounded replay (state is
    # a few thousand rows; the 4-file feed fixes the batch count).
    # Sized to state volume, not the shuffle default: 8→2 measured
    # faster across interleaved pairs for the whole late-feed family,
    # rows identical at sf0.001/0.01/0.1 (plans/r19/stream_pairs.txt).
    # At 100 TB the same principle sizes partitions UP with key
    # cardinality — the knob stays per-query, which is the point.
    return run_stream_to_memory(
        agg, "stream_late_data_drop", output_mode="append",
        state_partitions=2,
    )


@register(
    "maintenance_ivm_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def maintenance_ivm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance — the maintained daily rollup
    (``operators/ivm.py``): per-(day, event_type) count + decimal-
    exact value sum, where the HISTORY (everything older than the
    recorded 2-day cutoff) comes from the persisted partials artifact
    and only the DELTA slice of events is scanned at refresh time
    (the cutoff is stored in the artifact and applied as a literal,
    so it pushes into the events scan — plan-tested).

    The oracle is the full direct aggregate over raw events: because
    COUNT and the decimal SUM are commutative monoids, merged
    partials must equal the direct aggregate EXACTLY — the invariant
    that makes incremental maintenance trustworthy at all. Any
    double-count across the cutoff boundary, dropped partial, or
    float non-associativity breaks the hash.

    At 100 TB: the history is aggregated once ever (O(history) paid
    at build, amortized across every refresh); each refresh costs
    O(delta) scan + a days×types-sized merge — the partials table is
    metadata-scale (30 days × a handful of types) and stays so under
    any corpus growth because the GRAIN, not the corpus, bounds it."""
    from rs_query_engine_spark.operators.ivm import refreshed_rollup

    return refreshed_rollup(spark, sf_dir)


@register(
    "maintenance_ivm_retract",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE user_id % 31 <> 7
    GROUP BY 1, 2
    """,
)
def maintenance_ivm_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRACTABLE view maintenance — erase a user set (the
    ``user_id % 31 == 7`` GDPR/erasure feed) from the maintained
    daily rollup without re-aggregating the history
    (``operators/ivm.py:retracted_rollup``): COUNT and the decimal
    SUM form abelian groups, so the erasure is a negated third
    partials leg merged into the same reduce; fully-erased groups
    net to zero and drop.

    The oracle is the direct aggregate over the corpus MINUS the
    victims — the maintained-view-equals-recompute invariant under
    deletion, the retraction twin of ``maintenance_ivm_rollup``'s
    insert-side invariant (and the rollup face of what
    ``maintenance_rf2_delete`` pins for raw tables). A double-sum
    rollup could not pass this: float subtraction reorders the
    reduction; the decimal leg makes retraction exact.

    At 100 TB: history partials untouched; the victim scan is the
    only corpus read (selective pushed predicate — cluster by the
    victim key so row-group stats prune it), and the merge is
    days×types-sized."""
    from rs_query_engine_spark.operators.ivm import retracted_rollup

    return retracted_rollup(spark, sf_dir, F.col("user_id") % 31 == 7)


@register(
    "maintenance_ivm_merge",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def maintenance_ivm_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE generation of the maintained rollup
    (``operators/ivm.py:ensure_merged_rollup_partials``): the delta is
    absorbed into a NEW partials artifact built from the base
    generation plus the delta scan — base partials re-reduced, raw
    history never re-aggregated — and the recorded cutoff advances to
    the corpus max, leaving the next refresh's delta empty. Reading
    the merged generation back and reducing it must equal the direct
    aggregate over raw events (the merged-generation ≡ fresh-build
    invariant, the same one the LSH/IVF merges pin): any drop or
    double-absorb of a boundary-day partial breaks the hash.

    At 100 TB this is rollup compaction cadence: refreshes stay
    O(delta) between merges; a merge is O(partials + delta) — never
    O(history) — and resets the delta to empty."""
    from rs_query_engine_spark.operators.ivm import (
        ensure_merged_rollup_partials,
        read_rollup_partials,
    )

    root = ensure_merged_rollup_partials(spark, sf_dir)
    return (
        read_rollup_partials(spark, root)
        .groupBy("day", "event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("val_sum").cast("double").alias("total_value"),
        )
    )


@register(
    "stream_ivm_maintenance",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS day,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_ivm_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the rollup — the landing-zone
    listener keeping the maintained view current per micro-batch:
    each arriving file (the 4-tier out-of-order feed of
    ``ensure_late_feed`` — reused deliberately, maintenance must be
    arrival-order-proof) reduces to its own day-partials inside
    ``foreachBatch`` and appends batch-id-partitioned to the partials
    store; the view is the re-reduce over all generations. Because
    partials form a commutative monoid, the result is invariant to
    micro-batch boundaries AND arrival order — streamed maintenance
    over out-of-order arrivals equals the one-shot direct aggregate,
    which is exactly what the oracle states. (Contrast with
    ``stream_late_data_drop``: a WATERMARKED aggregate must drop late
    rows to bound state; foreachBatch partial-maintenance has no
    per-key state to bound — its state is the partials store itself —
    so late data folds in exactly.)

    At 100 TB: per-batch cost is O(batch) + a days×types-sized write;
    the checkpoint makes crash recovery replay only unconsumed files,
    and batch-id partitioning makes retries idempotent
    (overwrite-by-partition)."""
    import os

    from rs_query_engine_spark.operators.ivm import day_partials
    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.streaming.events import (
        ensure_late_feed,
        run_stream_to_parquet,
    )

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    run_root = scratch_dir(spark, "streamivm", feed, fresh=True)
    out, ckpt = os.path.join(run_root, "out"), os.path.join(run_root, "ckpt")
    # the shared idempotent sink (batch-id-partitioned dynamic
    # overwrite + checkpoint) with the partials reduce as its
    # per-batch transform — one implementation of the exactly-once
    # pattern, not a copy
    # state_partitions=2 (r19, guide §2.2/§5): no stateful operator in
    # this stream — the knob only scopes the per-batch day_partials
    # groupBy (≤150 day×type rows/batch) and the partials-store file
    # fan-out (2 files/batch instead of 8). Identity-checked at 3 SFs.
    run_stream_to_parquet(
        stream, out, ckpt, transform_fn=day_partials, state_partitions=2
    )
    return (
        spark.read.parquet(out)
        .groupBy("day", "event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("val_sum").cast("double").alias("total_value"),
        )
    )



# ---------------------------------------------------------------------
# Shared watermark-replay SQL for the stream-stream family over the
# 4-file late feed -- the measured arithmetic lives HERE exactly once
# (a missed hand-copy would silently diverge one oracle's semantics
# from its siblings). Each query's oracle appends only its SELECT and,
# where append-mode emission applies, its wf closure clause. The lag
# rules the fragments encode: late filter for batch N = watermark from
# data through N-2 (batches 0/1 unfiltered, late tier vs w0, catch-up
# vs w1); watermark = min over the two sides' ms-floored max minus the
# 84h delay.
# ---------------------------------------------------------------------

_SS_PROLOGUE = """
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, event_id
        FROM events
    ), m AS (SELECT MAX(ts) AS mx FROM e),
    t AS (SELECT e.*, CASE
            WHEN ts <= mx - INTERVAL 5 DAY THEN 2
            WHEN ts <= mx - INTERVAL 3 DAY THEN 0
            WHEN ts <= mx - INTERVAL 2 DAY THEN 1
            ELSE 3 END AS tier
          FROM e, m),
    -- global watermark = min over the two sides' (ms-floored max - delay)
    w0 AS (SELECT LEAST(
             (SELECT date_trunc('milliseconds', MAX(ts)) FROM t
               WHERE tier = 0 AND event_type = 'view'),
             (SELECT date_trunc('milliseconds', MAX(ts)) FROM t
               WHERE tier = 0 AND event_type = 'purchase')
           ) - INTERVAL 84 HOUR AS w),
    w1 AS (SELECT LEAST(
             (SELECT date_trunc('milliseconds', MAX(ts)) FROM t
               WHERE tier IN (0, 1) AND event_type = 'view'),
             (SELECT date_trunc('milliseconds', MAX(ts)) FROM t
               WHERE tier IN (0, 1) AND event_type = 'purchase')
           ) - INTERVAL 84 HOUR AS w),"""

_SS_ACC = """
    acc AS (
        SELECT * FROM t, w0, w1
        WHERE (tier <> 2 OR ts > w0.w) AND (tier <> 3 OR ts > w1.w)
    )"""


def _ss_wf(shift: str = "") -> str:
    """The FINAL min-of-sides watermark CTE (closure/emission rules).
    ``shift`` subtracts a downstream operator's propagated state delay
    (the chained pipeline passes ``" - INTERVAL 24 HOUR"``)."""
    return (
        """    wf AS (SELECT LEAST(
             (SELECT date_trunc('milliseconds', MAX(ts)) FROM t
               WHERE event_type = 'view'),
             (SELECT date_trunc('milliseconds', MAX(ts)) FROM t
               WHERE event_type = 'purchase')
           ) - INTERVAL 84 HOUR"""
        + shift
        + " AS w),"
    )


@register(
    "stream_stream_join_late",
    oracle=f"""{_SS_PROLOGUE}{_SS_ACC}
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM acc v JOIN acc p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
    """,
)
def stream_stream_join_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM inner join under real out-of-order arrival — the
    purchase-attribution join (every purchase matched to the same
    user's views in the preceding 24 h) replayed over the 4-file
    late feed, both sides watermarked at 84 h. Unlike the keyed-dedup
    state (whose stored timestamp is partition-order-dependent — see
    tests/unit/test_streaming_dedup_expiry.py), emitted JOIN PAIRS
    are a set, deterministic given batch boundaries, so this gets an
    exact oracle.

    Measured semantics the oracle replays (probed like
    ``stream_late_data_drop``): each side's late filter drops rows by
    their RAW event time (not shifted by the join bounds) against the
    GLOBAL watermark — the min over both sides' ms-floored max event
    time minus the delay — lagging TWO batches behind arrival (the
    filter for batch N derives from data through batch N-2); state
    eviction uses the one-batch-lagged watermark against the
    condition-derived retention bounds (view_ts + 24 h / purchase_ts).
    Eviction provably NEVER changes an inner join's emitted set: a
    partner evicted at the end of batch M required f(M-1) > its
    retention bound >= the other endpoint's event time, and any later
    arrival at batch N is filtered against f(N-2) >= f(M-1) -- the
    late filter always kills the pair first, so eviction is purely a
    memory bound and acceptance alone decides (pinned in
    tests/unit/test_stream_join_eviction.py). Late-tier pairs
    straddling the standing watermark surface BOTH outcomes: the
    newer endpoint joins state from earlier batches, the older one is
    dropped and its pairs never form (63 of 80 pairs at sf0.001).

    At 100 TB: join state is bounded by the retention bounds times
    arrival rate, not corpus size; both sides hash-partition on
    user_id, the same shuffle as the batch join."""
    from rs_query_engine_spark.streaming.events import (
        ensure_late_feed,
        run_stream_to_memory,
        view_purchase_late_join,
    )

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    # the SAME builder ensure_join_checkpoint checkpoints — the
    # state-inspection query's 'identical operator' claim is
    # structural, not copy-paste parity
    joined = view_purchase_late_join(stream)
    # state_partitions=2: join state is ~4k rows/side; 4 stores ×
    # partitions commit per batch — see the stream_late_data_drop
    # note (r19 pairs: median ratio 0.78, 6/6 wins)
    return run_stream_to_memory(
        joined, "stream_stream_join_late", output_mode="append",
        state_partitions=2,
    )


@register(
    "stream_stream_left_outer_late",
    oracle=f"""{_SS_PROLOGUE}
    -- final watermark: the trailing no-data batch evicts with the
    -- min-of-sides watermark over ALL arrived data (late rows flow
    -- through the watermark node before the join filters them, so
    -- the max is over the raw sides)
{_ss_wf()}{_SS_ACC},
    v AS (SELECT * FROM acc WHERE event_type = 'view'),
    p AS (SELECT * FROM acc WHERE event_type = 'purchase')
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM v LEFT JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
    CROSS JOIN wf
    WHERE p.event_id IS NOT NULL
       OR v.ts + INTERVAL 24 HOUR < wf.w
    """,
)
def stream_stream_left_outer_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join under out-of-order arrival — the
    attribution join's other half: views that convert emit their pair
    immediately; views that DON'T convert must still come out exactly
    once, null-matched, and only once no future purchase can match —
    i.e. when the watermark passes ``view_ts + 24 h`` (probed: the
    null row flushes at the eviction that passes the bound, and a
    still-open view at stream end is withheld — correctly, its window
    is still live). The emitted set is deterministic: mid-stream
    null-emission and final-flush produce the same rows because a
    view nulled early can only have had late-filtered partners (the
    same filter-subsumes-eviction argument as the inner join, pinned
    in tests/unit/test_stream_join_eviction.py).

    The oracle extends the inner replay with the closure rule: keep
    unmatched accepted views whose bound precedes the FINAL
    watermark — the min-of-sides ms-floored max over ALL arrivals
    minus the delay (late rows flow through the watermark node before
    the join filters them, so the raw per-side max governs).

    At 100 TB this is the conversion-funnel contract: every view is
    accounted for exactly once — paired, expired-unmatched, or still
    open — with state bounded by the attribution window, the
    exactly-once property downstream funnel metrics rely on."""
    from rs_query_engine_spark.streaming.events import (
        LATE_DELAY,
        ensure_late_feed,
        run_stream_to_memory,
    )

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", LATE_DELAY)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", LATE_DELAY)
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("pu"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 24 HOURS")),
        "left_outer",
    ).select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")
    # state_partitions=2 — see the stream_late_data_drop note (r19
    # pairs: median 0.65, 6/6 ≤1.0)
    return run_stream_to_memory(
        joined, "stream_stream_left_outer_late", output_mode="append",
        state_partitions=2,
    )


@register(
    "stream_chained_stateful",
    oracle=f"""{_SS_PROLOGUE}
    -- the aggregate sits DOWNSTREAM of the join, so its eviction
    -- watermark is the global one minus the join's state delay (the
    -- 24 h condition bound): watermark propagation for chained
    -- stateful operators (SPARK-40925), measured at both SFs
{_ss_wf(" - INTERVAL 24 HOUR")}{_SS_ACC},
    pairs AS (
        SELECT p.ts AS pts
        FROM acc v JOIN acc p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
    ),
    agg AS (
        SELECT date_trunc('hour', pts) AS window_start,
               COUNT(*) AS n_conversions
        FROM pairs GROUP BY 1
    )
    SELECT g.window_start, g.n_conversions
    FROM agg g, wf
    WHERE g.window_start + INTERVAL 1 HOUR <= wf.w
    """,
)
def stream_chained_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators — a stream-stream attribution join
    feeding a watermarked windowed aggregation in ONE streaming query
    (hourly conversion counts), over the out-of-order feed. Multiple
    stateful operators per query is exactly what the
    ForLateEvents/ForEviction watermark split exists for
    (SPARK-40925): the join emits pairs as arrivals match, and the
    downstream aggregate finalizes an hour once the watermark passes
    its end — one trailing no-data batch flushes both (probed; pairs
    always exist by the last data batch since an inner join emits on
    arrival).

    The oracle chains the two replayed rules: join-level acceptance
    (per-side raw-ts late filters, two-batch lag) then append-mode
    window emission against the FINAL min-of-sides watermark MINUS
    the join's 24 h state delay — watermark propagation: the
    aggregate sits downstream of an operator whose buffered rows can
    be up to the condition bound older than the global watermark, so
    its eviction watermark is shifted by exactly that bound
    (measured: 34 vs the emitted 21 windows at sf0.01 without the
    shift). The
    aggregate's own late filter provably cannot drop a pair in this
    layout: a pair's window ends after its purchase's event time,
    which its acceptance already bounds above the standing filter.
    Windows past the final watermark (the catch-up tier's hours) are
    withheld — observable as the missing newest hours.

    At 100 TB: the funnel metric pipeline collapses two jobs and an
    intermediate landing table into one exactly-once streaming query;
    state = join buffers within the attribution window + one row per
    open hour."""
    from rs_query_engine_spark.streaming.events import (
        LATE_DELAY,
        ensure_late_feed,
        run_stream_to_memory,
    )

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("vu"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", LATE_DELAY)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", LATE_DELAY)
    )
    joined = views.join(
        purchases,
        (F.col("vu") == F.col("pu"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 24 HOURS")),
    )
    agg = (
        joined.groupBy(F.window("purchase_ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .select(F.col("w.start").alias("window_start"), "n_conversions")
    )
    # state_partitions=2 — TWO stateful operators (join + windowed
    # agg) double the per-partition store count; see the
    # stream_late_data_drop note (r19 pairs: median 0.82, 5/6 wins)
    return run_stream_to_memory(
        agg, "stream_chained_stateful", output_mode="append",
        state_partitions=2,
    )


@register(
    "stream_stream_full_outer_late",
    oracle=f"""{_SS_PROLOGUE}
{_ss_wf()}{_SS_ACC},
    v AS (SELECT * FROM acc WHERE event_type = 'view'),
    p AS (SELECT * FROM acc WHERE event_type = 'purchase')
    SELECT COALESCE(v.user_id, p.user_id) AS user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts
    FROM v FULL JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
    CROSS JOIN wf
    WHERE (v.event_id IS NOT NULL AND p.event_id IS NOT NULL)
       OR (p.event_id IS NULL AND v.ts + INTERVAL 24 HOUR < wf.w)
       OR (v.event_id IS NULL AND p.ts < wf.w)
    """,
)
def stream_stream_full_outer_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join under out-of-order arrival — the
    complete funnel ledger: converting pairs immediately, views that
    never convert null-matched once the watermark passes
    ``view_ts + 24 h``, and purchases with NO qualifying prior view
    (organic conversions) null-matched once the watermark passes
    ``purchase_ts`` — each side's closure bound is exactly its
    state-retention bound from the join condition (probed: an old
    orphan purchase null-emits at the flush, a fresh one is withheld
    because an admissible view could still arrive).

    The oracle is the inner replay plus BOTH closure rules against
    the final min-of-sides watermark. Every accepted event is
    accounted for exactly once — paired, closed-unmatched, or still
    open — the reconciliation invariant a revenue pipeline audits.

    At 100 TB: same state budget as the inner join (both sides
    bounded by their retention bounds); the outer rows are emitted
    from eviction, costing nothing extra."""
    from rs_query_engine_spark.streaming.events import (
        LATE_DELAY,
        ensure_late_feed,
        run_stream_to_memory,
    )

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("vu"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", LATE_DELAY)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("pu"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", LATE_DELAY)
    )
    joined = views.join(
        purchases,
        (F.col("vu") == F.col("pu"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 24 HOURS")),
        "full_outer",
    ).select(
        F.coalesce(F.col("vu"), F.col("pu")).alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
    )
    # state_partitions=2 — see the stream_late_data_drop note (r19
    # pairs: median 0.66, 5/6 wins)
    return run_stream_to_memory(
        joined, "stream_stream_full_outer_late", output_mode="append",
        state_partitions=2,
    )


@register(
    "maintenance_ivm_two_grain",
    oracle="""
    SELECT 'hour' AS grain,
           CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 2, 3
    UNION ALL
    SELECT 'day' AS grain,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 2, 3
    """,
)
def maintenance_ivm_two_grain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-GRAIN view maintenance from one stored table and one
    corpus touch (``operators/ivm.py:two_grain_rollup``): only the
    finest grain (hourly partials) is persisted; the refresh scans
    the delta once, and the daily grain is derived by re-reducing
    the refreshed hourly result — hours nest inside days, so the
    monoid re-reduce is associative across grain boundaries and the
    derived daily numbers must STILL equal the direct daily
    aggregate bit-for-bit, which is exactly what the two-armed
    oracle states (both arms are direct aggregates of raw events;
    neither arm mirrors the implementation).

    At 100 TB this is the serving-layer contract: N grains cost ONE
    history pass, one delta scan per refresh, and one stored table
    sized by the finest grain — adding a coarser grain is a
    metadata-scale re-reduce, not a pipeline."""
    from rs_query_engine_spark.operators.ivm import two_grain_rollup

    return two_grain_rollup(spark, sf_dir)
