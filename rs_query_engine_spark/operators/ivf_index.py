"""Persisted IVF index over the embeddings table — the ANN twin of
``operators/lsh_index.py`` (VERDICT r09 "what's missing" #3: every
IVF query recomputed the corpus→centroid assignment per run; the
assignment pass is exactly as cacheable as the LSH signatures).

Two parquet tables under one artifact root:

- ``assign``: (vec_id, v array<double>, n double, centroid_id) — the
  corpus assignment to its single nearest centroid, PARTITIONED BY
  ``centroid_id``: a probe for a query's ``nprobe`` lists reads only
  those directories (partition pruning — at cluster scale this is the
  table's bucketing/partition column and the probe is a pruned scan
  of ~nprobe/n_lists of the data). The vector and its norm are stored
  alongside so probe-time scoring is one dot fold per candidate —
  neither norms nor assignments are ever recomputed.
- ``cent``: (centroid_id, cv array<double>, cn double) — the centroid
  table (tiny; broadcast at probe time for query assignment).

Centroids are the deterministic seed set (``vec_id < N_SEED``) shared
with the live ``similarity_ivf_*`` queries, keeping every probe
oracle-expressible in DuckDB; production swaps in trained k-means
centers (``similarity.kmeans_centroids``) with no other change —
which is why the cache key digests the centroid RULE.

Cache keying / atomic install / deferred stale sweep: shared
``sources/artifacts.py`` machinery (reference analogue: the catalog
surface ``src/catalog.rs:16-42`` extended to a maintained artifact).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rs_query_engine_spark.operators.similarity import (
    IVF_PQ_NPROBE,
    PQ_NUM_CENTROIDS,
    PQ_NUM_SUB,
    PQ_SUB_DIM,
    assign_centroids,
    dot,
    norm_sq,
)
from rs_query_engine_spark.session import truncate_lineage
from rs_query_engine_spark.sources.artifacts import ensure_artifact

# Deterministic seed-centroid rule (corpus vectors vec_id < N_SEED) —
# FIXED cardinality at every scale factor, mirrored literally in the
# DuckDB oracles.
N_SEED = 8

# Completeness of an assign/cent index generation (the seed, base,
# merged, trained and compacted ones all share the layout).
_IVF_PARTS = ("assign/_SUCCESS", "cent/_SUCCESS")


def _ivf_params() -> str:
    """Everything the artifact CONTENT depends on: the centroid rule,
    the similarity (cosine with deterministic centroid-id tiebreak —
    digest the assignment helper's source so editing the formula
    re-keys the index), and the stored-norm convention."""
    import hashlib
    import inspect

    fam = hashlib.md5(inspect.getsource(assign_centroids).encode()).hexdigest()[:8]
    return f"ns={N_SEED}|metric=cos|fam={fam}"


def seed_centroids(e: DataFrame) -> DataFrame:
    """(centroid_id, centroid_vec) from the corpus seed rule."""
    return e.filter(F.col("vec_id") < N_SEED).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) and return the root of the persisted IVF index
    over ``{sf_dir}/embeddings``. One corpus scan + one broadcast
    cross-score against N_SEED centroids + one per-vector top-1
    window; the write is partitioned by list."""
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")

    def write(tmp: str) -> None:
        e = spark.read.parquet(src)
        _write_ivf(tmp, e, seed_centroids(e))

    return ensure_artifact(src, "ivfidx", _ivf_params(), _IVF_PARTS, write)


def _stored_centroids(cent: DataFrame) -> DataFrame:
    """(centroid_id, cv, cn) — the stored centroid table of every IVF
    and PQ index generation."""
    return cent.select(
        "centroid_id",
        F.col("centroid_vec").cast("array<double>").alias("cv"),
        F.sqrt(norm_sq(F.col("centroid_vec").cast("array<double>"))).alias("cn"),
    )


def _write_ivf(tmp: str, e: DataFrame, cent: DataFrame) -> None:
    """Shared write body for every IVF index generation built from
    corpus vectors: the assign/cent layout is defined HERE once, so a
    seed-centroid and a trained-centroid artifact can never drift
    schemas (their readers are shared too)."""
    assign = assign_centroids(e, cent).select(
        "vec_id", F.col("_v").alias("v"), F.col("_n").alias("n"), "centroid_id"
    )
    assign.write.partitionBy("centroid_id").parquet(os.path.join(tmp, "assign"))
    _stored_centroids(cent).coalesce(1).write.parquet(os.path.join(tmp, "cent"))


def read_ivf_assign(spark: SparkSession, root: str) -> DataFrame:
    # explicit column order (the partition column comes back last) and
    # an explicit bigint cast: partition-column type inference yields
    # `int` for small directory values, but the source vec_id — and
    # the DuckDB oracle's centroid_id — are bigint (the driver hash is
    # type-sensitive)
    return spark.read.parquet(os.path.join(root, "assign")).select(
        "vec_id", "v", "n", F.col("centroid_id").cast("bigint").alias("centroid_id")
    )


def read_ivf_centroids(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "cent")).select(
        "centroid_id", "cv", "cn"
    )


def probe_ivf_index(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` per ``(query_id, query_vec)`` query against the
    PERSISTED index: assign each query to its ``nprobe`` nearest
    centroids (centroid table read from the artifact — 8 rows,
    broadcast), then score only the probed lists' stored (v, n) rows. Corpus vectors, norms and
    assignments are never recomputed — per-probe cost is
    O(batch × probed-list sizes), independent of how many times the
    index is queried. The probe side (queries × nprobe, a bounded ANN
    probe batch) is broadcast; the corpus-side ``assign`` scan
    streams. Returns (query_id, vec_id, cos, rnk ≤ k).

    ``tombstones``: optional (vec_id) table of revoked vectors
    (``ensure_ivf_tombstones``) honored at probe time — revoked
    corpus rows are anti-joined out BEFORE scoring (assignments are
    per-vector independent, so filter-then-score equals a fresh index
    over the surviving corpus; the anti-join side is a tiny takedown
    list AQE broadcasts)."""
    scored = score_ivf_probe(spark, root, queries, nprobe=nprobe, tombstones=tombstones)
    return rank_ivf_topk(scored, k)


def score_ivf_probe(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    nprobe: int = 2,
    tombstones: DataFrame | None = None,
) -> DataFrame:
    """The SCORING prefix of ``probe_ivf_index`` — (query_id, vec_id,
    cos) for every candidate in the probed lists, before top-k
    ranking. Exposed so a caller that ranks the SAME probe batch more
    than once (e.g. the takedown audit's before/after differential)
    can stage this frame once instead of re-deriving the centroid
    assignment + list scan + dot products per ranking; because scoring
    is row-wise, a vec_id filter applied to this frame equals one
    applied to the index before scoring."""
    cent = read_ivf_centroids(spark, root).select(
        "centroid_id", F.col("cv").alias("centroid_vec")
    )
    q_assigned = assign_centroids(
        queries, cent, "query_id", "query_vec", nprobe=nprobe
    ).select(
        F.col("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
        F.col("centroid_id"),
    )
    assign = read_ivf_assign(spark, root)
    if tombstones is not None:
        assign = assign.join(tombstones.select("vec_id"), "vec_id", "left_anti")
    return assign.join(F.broadcast(q_assigned), "centroid_id").select(
        "query_id",
        "vec_id",
        F.try_divide(dot(F.col("v"), F.col("_qv")), F.col("n") * F.col("_qn")).alias(
            "cos"
        ),
    )


def rank_ivf_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-``k`` ranking over a ``score_ivf_probe`` frame — the suffix
    of ``probe_ivf_index``, split out for the same staging reason."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


# =====================================================================
# Merge path — incremental ingest of a NEW embedding batch into the
# persisted index without recomputing existing assignments (the ANN
# twin of ``lsh_index.ensure_merged_lsh_index``). Unlike the LSH merge
# (where the degeneracy cap makes merge ≠ fresh rebuild, a documented
# write-once trade), IVF assignment is per-vector independent given
# FIXED centroids — so merge-without-recompute is EXACTLY a fresh
# build over the union corpus, and the oracle states that directly.
# =====================================================================

# The ingest-batch stand-in feed, shared with the LSH index lifecycle
# (lsh_index.BATCH_MOD/BATCH_REM): a new embedding batch arrives with
# its documents.


def _batch_mod_rem() -> tuple[int, int]:
    from rs_query_engine_spark.operators.lsh_index import BATCH_MOD, BATCH_REM

    return BATCH_MOD, BATCH_REM


def ensure_base_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """The PRE-INGEST generation: assignments for the corpus MINUS the
    pending batch (``vec_id % BATCH_MOD != BATCH_REM``), against the
    same fixed seed-centroid table (the centroid RULE reads the source
    table, so centroids are identical across generations — learned
    structure fixed at build time, the contract that makes incremental
    merge exact)."""
    bm, br = _batch_mod_rem()
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")

    def write(tmp: str) -> None:
        e = spark.read.parquet(src)
        _write_ivf(tmp, e.filter(F.col("vec_id") % bm != br), seed_centroids(e))

    return ensure_artifact(
        src, "ivfbase", f"{_ivf_params()}|bm={bm}|br={br}", _IVF_PARTS, write
    )


def ensure_merged_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """MERGE the new batch into the index: assign ONLY the batch
    vectors against the base generation's PERSISTED centroid table,
    union with the persisted base assignments (never recomputed — the
    base side is a pure artifact read), and write a new immutable
    generation with a ``generation`` provenance column ('base' /
    'batch'). Because assignment is per-vector independent under fixed
    centroids, the merged index is EXACTLY a fresh full-corpus build —
    the oracle states the equality. Cost: O(batch × centroids) compute
    + one index-size write; the existing corpus is touched only as a
    columnar read-through.

    At 100 TB: this is the per-ingest-cycle maintenance step — the
    batch is a few GB against a corpus of TBs, so recomputing
    assignments (the ``ensure_ivf_index`` path) would be ~corpus/batch
    times more expensive than this merge."""
    bm, br = _batch_mod_rem()
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")

    def write(tmp: str) -> None:
        base = ensure_base_ivf_index(spark, sf_dir)
        cent = read_ivf_centroids(spark, base).select(
            "centroid_id", F.col("cv").alias("centroid_vec")
        )
        batch = spark.read.parquet(src).filter(F.col("vec_id") % bm == br)
        batch_assign = assign_centroids(batch, cent).select(
            "vec_id",
            F.col("_v").alias("v"),
            F.col("_n").alias("n"),
            F.lit("batch").alias("generation"),
            "centroid_id",
        )
        merged = (
            read_ivf_assign(spark, base)
            .select(
                "vec_id", "v", "n", F.lit("base").alias("generation"), "centroid_id"
            )
            .unionByName(batch_assign)
        )
        merged.write.partitionBy("centroid_id").parquet(os.path.join(tmp, "assign"))
        read_ivf_centroids(spark, base).coalesce(1).write.parquet(
            os.path.join(tmp, "cent")
        )

    return ensure_artifact(
        src, "ivfmrg", f"{_ivf_params()}|bm={bm}|br={br}", _IVF_PARTS, write
    )


def read_ivf_merged_assign(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "assign")).select(
        "vec_id",
        "v",
        "n",
        "generation",
        F.col("centroid_id").cast("bigint").alias("centroid_id"),
    )


# =====================================================================
# Delete path — the same takedown feed the LSH index honors (a revoked
# document's EMBEDDING must leave the ANN surface too), LSM-style:
# immutable assign/cent generations + a tiny tombstone table the probe
# anti-joins.
# =====================================================================


def _ivf_tomb_params() -> str:
    from rs_query_engine_spark.operators.lsh_index import REVOKE_MOD, REVOKE_REM

    return f"{_ivf_params()}|rm={REVOKE_MOD}|rr={REVOKE_REM}"


def ensure_ivf_tombstones(spark: SparkSession, sf_dir: str) -> str:
    """(vec_id) tombstones for the IVF index — the embeddings face of
    the revocation feed (``lsh_index.REVOKE_MOD/REVOKE_REM``: same
    ids, because revoking a document revokes its vector). Centroids
    are NOT retracted when a seed vector is revoked: a centroid is a
    learned partitioning structure, not corpus content — exactly as a
    trained k-means center derived from later-deleted points remains
    valid (and is mirrored by the oracle, which filters the corpus
    side only)."""
    from rs_query_engine_spark.operators.lsh_index import REVOKE_MOD, REVOKE_REM

    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")

    def write(tmp: str) -> None:
        spark.read.parquet(src).filter(
            F.col("vec_id") % REVOKE_MOD == REVOKE_REM
        ).select("vec_id").coalesce(1).write.parquet(os.path.join(tmp, "tombs"))

    return ensure_artifact(
        src, "ivftmb", _ivf_tomb_params(), ("tombs/_SUCCESS",), write
    )


def read_ivf_tombstones(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "tombs")).select("vec_id")


def ensure_trained_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """The PRODUCTION centroid rule: the same persisted-index build,
    but with TRAINED k-means centers (``similarity.kmeans_centroids``,
    seeded Spark-ML Lloyd's) instead of the deterministic seed set —
    the swap ``_ivf_params``' centroid-rule digest was designed for:
    nothing else changes (same assign/cent layout, same probes, same
    tombstone path). Values aren't oracle-expressible (Lloyd's is
    iterative), so the staged query verifies exact INVARIANTS instead;
    the artifact itself makes training a once-per-generation cost.
    Trains ``N_SEED`` centers, as many as the seed set has."""
    import hashlib
    import inspect

    from rs_query_engine_spark.operators.similarity import kmeans_centroids

    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    fam = hashlib.md5(
        (inspect.getsource(assign_centroids) + inspect.getsource(kmeans_centroids)).encode()
    ).hexdigest()[:8]

    def write(tmp: str) -> None:
        e = spark.read.parquet(src)
        _write_ivf(tmp, e, kmeans_centroids(e, N_SEED))

    return ensure_artifact(
        src, "ivftrn", f"k={N_SEED}|metric=cos|fam={fam}", _IVF_PARTS, write
    )


# =====================================================================
# Persisted PQ-encoded index — the COMPRESSED layout (the corpus side
# of IVF-PQ carries only (id, list, num_sub codes): ~64× smaller than
# raw vectors, which is the representation a billion-vector deployment
# actually keeps resident). ``similarity_ivf_pq_topk`` recomputes the
# encoding per query today; this persists it once.
# =====================================================================

def _pq_params() -> str:
    import hashlib
    import inspect

    from rs_query_engine_spark.operators.similarity import pq_codebook

    fam = hashlib.md5(
        (inspect.getsource(assign_centroids) + inspect.getsource(pq_codebook)).encode()
    ).hexdigest()[:8]
    return (
        f"ns={N_SEED}|sub={PQ_NUM_SUB}|k={PQ_NUM_CENTROIDS}|d={PQ_SUB_DIM}|fam={fam}"
    )


def ensure_pq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the persisted PQ-ENCODED index: every corpus
    vector's coarse-list assignment plus its ``PQ_NUM_SUB`` codebook
    codes, written partitioned by list — one corpus scan (assignment
    and encoding in the same map pass), after which probes touch ONLY
    codes: no raw corpus vector is ever read again. The centroid
    table is stored alongside for query-side assignment. Cache key
    digests the codebook and assignment sources, so editing either
    re-keys the artifact."""
    from rs_query_engine_spark.operators.similarity import _pq_dist_tables

    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")

    def write(tmp: str) -> None:
        e = spark.read.parquet(src)
        cent = seed_centroids(e)
        assigned = assign_centroids(e, cent).select(
            "vec_id", F.col("_v"), F.col("centroid_id")
        )
        codes = _pq_dist_tables(
            assigned,
            "vec_id", "_v", PQ_NUM_SUB, PQ_NUM_CENTROIDS, PQ_SUB_DIM,
            passthrough=("centroid_id",),
        ).select(
            F.col("_id").alias("vec_id"),
            *[
                (
                    F.array_position(F.col(f"_d{b}"), F.array_min(F.col(f"_d{b}")))
                    - 1
                ).cast("int").alias(f"c{b}")
                for b in range(PQ_NUM_SUB)
            ],
            "centroid_id",
        )
        codes.write.partitionBy("centroid_id").parquet(os.path.join(tmp, "codes"))
        _stored_centroids(cent).coalesce(1).write.parquet(os.path.join(tmp, "cent"))

    return ensure_artifact(
        src, "pqidx", _pq_params(), ("codes/_SUCCESS", "cent/_SUCCESS"), write
    )


def read_pq_codes(spark: SparkSession, root: str) -> DataFrame:
    return spark.read.parquet(os.path.join(root, "codes")).select(
        "vec_id",
        *[f"c{b}" for b in range(PQ_NUM_SUB)],
        F.col("centroid_id").cast("bigint").alias("centroid_id"),
    )


def probe_pq_index(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """ADC top-``k`` against the PERSISTED codes: assign each
    ``(query_id, query_vec)`` query to its ``IVF_PQ_NPROBE`` lists
    (centroids from the artifact, broadcast), build the query's
    per-subspace distance tables once, then rank the probed lists'
    STORED CODES by table lookups — per-candidate cost is
    ``PQ_NUM_SUB`` array indexes + adds, and the corpus side
    touched is the compressed codes scan only (partition-pruned by
    list at cluster scale). Same (adc, vec_id) tiebreak as the live
    ``ivf_pq_topk``, so results are hash-identical to it."""
    from rs_query_engine_spark.operators.similarity import _pq_dist_tables

    cent = read_ivf_centroids(spark, root).select(
        "centroid_id", F.col("cv").alias("centroid_vec")
    )
    q_assigned = assign_centroids(
        queries, cent, "query_id", "query_vec", nprobe=IVF_PQ_NPROBE
    ).select(F.col("query_id"), F.col("_v"), F.col("centroid_id"))
    q_tables = _pq_dist_tables(
        q_assigned.select("query_id", "_v").dropDuplicates(["query_id"]),
        "query_id", "_v", PQ_NUM_SUB, PQ_NUM_CENTROIDS, PQ_SUB_DIM,
    ).withColumnRenamed("_id", "query_id")
    # The probe-batch pipeline (centroid cross + top-nprobe rank,
    # derived TWICE — once as q_assigned, once re-derived under the
    # dedup feeding the distance tables — plus the codebook-literal
    # distance expressions) is a broadcast-expansion subtree consumed
    # by every downstream arm; stage it once so the ADC join broadcasts
    # stored rows instead of re-running the assignment/table pipeline
    # and re-carrying the literal-heavy expressions through analysis.
    # The staged frame is probe-batch-sized (queries × nprobe rows).
    probes = truncate_lineage(
        q_assigned.select("query_id", "centroid_id").join(q_tables, "query_id")
    )
    cand = read_pq_codes(spark, root).join(F.broadcast(probes), "centroid_id")
    adc = None
    for b in range(PQ_NUM_SUB):
        term = F.element_at(F.col(f"_d{b}"), F.col(f"c{b}") + 1)
        adc = term if adc is None else adc + term
    scored = cand.select("query_id", "vec_id", adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def ensure_compacted_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """COMPACTION generation: rewrite ``assign`` minus the tombstoned
    vectors — physical reclamation once the tombstone fraction is
    high, after which probes drop the anti-join entirely. Unlike LSH
    compaction (capped-then-filtered ≠ fresh build — a documented
    write-once trade), IVF assignment is per-vector independent, so
    the compacted index EQUALS a fresh build over the surviving
    corpus; the oracle states the equality. Cost: one index read +
    broadcast anti-join + partitioned write — the corpus embeddings
    are never re-read and no assignment is recomputed."""
    src = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")

    def write(tmp: str) -> None:
        base = ensure_ivf_index(spark, sf_dir)
        tombs = read_ivf_tombstones(spark, ensure_ivf_tombstones(spark, sf_dir))
        live = read_ivf_assign(spark, base).join(tombs, "vec_id", "left_anti")
        live.write.partitionBy("centroid_id").parquet(os.path.join(tmp, "assign"))
        read_ivf_centroids(spark, base).coalesce(1).write.parquet(
            os.path.join(tmp, "cent")
        )

    return ensure_artifact(src, "ivfcmp", _ivf_tomb_params(), _IVF_PARTS, write)
