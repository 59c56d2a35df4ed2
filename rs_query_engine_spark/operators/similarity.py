"""Similarity search over embedding columns (north-star ops): exact
brute-force cosine top-k, and an IVF-style partition-pruned variant as
the scale path.

Design for 100 TB:
- **Brute force** is a broadcast of the (small) query set against the
  (huge) corpus — a map-only cross join, no corpus shuffle; per-row
  work is a codegen'd array fold. Correct baseline, O(corpus ×
  queries).
- **IVF**: corpus vectors are assigned once to their nearest centroid
  (a broadcastable centroid table) — at scale this becomes the
  *partitioning/bucketing column* of the stored table; a query then
  probes only its own centroid's bucket (``nprobe=1`` here), turning
  top-k into a partition-pruned scan of ~1/n_centroids of the data.
- All vector math uses ``zip_with``/``transform``/``aggregate`` on
  ``array<double>`` — JVM-side, no Python. A Pandas-UDF/BLAS path is
  the next speed tier when matrices get wide (see operators/multimodal
  for the Arrow plumbing pattern).

Determinism: the cosine formula is spelled identically in the DuckDB
oracle (sequential fold, ``dot / (sqrt(na) * sqrt(nb))``) — verified
bit-exact on the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rs_query_engine_spark.sources.corpus import spread


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm_sq(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity. Zero vectors yield NULL (``try_divide``)
    rather than an ANSI divide-by-zero error — NULL similarity sorts
    last under ``desc`` ranking, so degenerate vectors drop out of
    top-k naturally (DuckDB division-by-zero likewise yields NULL)."""
    return F.try_divide(dot(a, b), F.sqrt(norm_sq(a)) * F.sqrt(norm_sq(b)))


def _as_double(c: Column) -> Column:
    return c.cast("array<double>")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast ``(query_id,
    query_vec)`` queries × the ``(vec_id, embedding)`` corpus, cosine,
    window rank. Returns (query_id, vec_id, cos, rnk≤k).

    Each side's norm is staged in its pre-join projection, so norm
    folds run once per VECTOR, not once per pair (the pair expression
    is then one dot fold + one multiply + one divide — identical FP
    ops in the same order as ``cosine()``, so results are
    bit-identical). Projections below a join are never inlined across
    it, which is what pins the staging."""
    c = spread(corpus).select(
        F.col("vec_id"),
        _as_double(F.col("embedding")).alias("_v"),
        F.sqrt(norm_sq(_as_double(F.col("embedding")))).alias("_n"),
    )
    q = queries.select(
        F.col("query_id"),
        _as_double(F.col("query_vec")).alias("_qv"),
        F.sqrt(norm_sq(_as_double(F.col("query_vec")))).alias("_qn"),
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.try_divide(dot(F.col("_v"), F.col("_qv")), F.col("_n") * F.col("_qn")).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """IVF build step: top-``nprobe`` nearest centroids per vector
    (argmax cosine, deterministic centroid-id tiebreak). ``nprobe=1``
    is the build-side assignment (each corpus vector lives in exactly
    one inverted list); ``nprobe>1`` is the probe-side assignment
    (a query searches its n closest lists, trading scan fraction for
    recall). ``centroids`` is a ``(centroid_id, centroid_vec)`` frame,
    broadcast; at scale the build assignment becomes the table's
    *bucketing column* so probes prune partitions."""
    c = spread(corpus).select(
        F.col(corpus_id),
        _as_double(F.col(corpus_vec)).alias("_v"),
        F.sqrt(norm_sq(_as_double(F.col(corpus_vec)))).alias("_n"),
    )
    cent = centroids.select(
        F.col("centroid_id"),
        _as_double(F.col("centroid_vec")).alias("_cv"),
        F.sqrt(norm_sq(_as_double(F.col("centroid_vec")))).alias("_cn"),
    )
    scored = c.crossJoin(F.broadcast(cent)).select(
        corpus_id,
        "_v",
        "_n",
        "centroid_id",
        F.try_divide(dot(F.col("_v"), F.col("_cv")), F.col("_n") * F.col("_cn")).alias(
            "_cc"
        ),
    )
    w = Window.partitionBy(corpus_id).orderBy(F.col("_cc").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .select(corpus_id, "_v", "_n", "centroid_id")
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 1,
) -> DataFrame:
    """IVF top-k over a ``(vec_id, embedding)`` corpus and
    ``(query_id, query_vec)`` queries: corpus vectors live in their
    single nearest-centroid list; each query probes its ``nprobe``
    closest lists and ranks only within them — the searched fraction
    is ~nprobe/n_centroids (approximate by construction; recall grows
    with nprobe)."""
    assigned = assign_centroids(corpus, centroids)
    q_assigned = assign_centroids(
        queries, centroids, "query_id", "query_vec", nprobe=nprobe
    ).select(
        F.col("query_id"),
        F.col("_v").alias("_qv"),
        F.col("_n").alias("_qn"),
        F.col("centroid_id"),
    )
    scored = assigned.join(F.broadcast(q_assigned), "centroid_id").select(
        "query_id",
        "vec_id",
        F.try_divide(dot(F.col("_v"), F.col("_qv")), F.col("_n") * F.col("_qn")).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def kmeans_centroids(
    corpus: DataFrame,
    k: int,
    max_iter: int = 20,
) -> DataFrame:
    """Train IVF centroids with seeded Spark-ML k-means and return them
    as a (centroid_id, centroid_vec) DataFrame ready for
    :func:`assign_centroids` / :func:`ivf_topk`.

    The trained centers come back to the driver (k × dim doubles —
    tiny) and are re-emitted as a SQL VALUES relation: a LocalRelation
    has correct (small) stats, whereas ``createDataFrame`` local tables
    carry unknown-size stats and can flip broadcast decisions.
    At 100 TB you train on a sample (k-means cost is per-point) and
    the centers still fit on the driver — IVF centroid counts are
    ~√n ≤ a few hundred thousand."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(_as_double(F.col("embedding"))).alias("features")
    )
    model = KMeans(k=k, seed=42, maxIter=max_iter).fit(feats)
    rows = ", ".join(
        "({}, array({}))".format(
            i, ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in center)
        )
        for i, center in enumerate(model.clusterCenters())
    )
    return corpus.sparkSession.sql(
        f"SELECT col1 AS centroid_id, col2 AS centroid_vec FROM (VALUES {rows})"
    )


# PQ geometry: PQ_NUM_SUB subspaces of PQ_SUB_DIM dims, each coded
# against PQ_NUM_CENTROIDS codebook centroids. The persisted PQ index
# (ivf_index) and the DuckDB oracle SQL generators (queries._pq_cte_block,
# _pq_oracle_sql) read these same constants; IVF_PQ_NPROBE is the
# coarse lists an IVF-PQ query probes on both sides.
PQ_NUM_SUB = 8
PQ_NUM_CENTROIDS = 16
PQ_SUB_DIM = 8
IVF_PQ_NPROBE = 2


def pq_codebook(
    num_sub: int = PQ_NUM_SUB,
    num_centroids: int = PQ_NUM_CENTROIDS,
    sub_dim: int = PQ_SUB_DIM,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebook:
    ``[subspace][centroid][dim]`` on a 2-decimal grid in [-1, 1],
    derived from md5 like :func:`...dedup.hyperplane_signs` — the
    oracle SQL embeds the IDENTICAL literals, and 2-decimal literals
    parse to the same double in every engine. Production trains the
    codebook per-subspace with k-means (see ``kmeans_centroids``);
    the fixed codebook keeps the coding/verification path
    engine-reproducible."""
    import hashlib

    def val(b: int, k: int, j: int) -> float:
        h = int(hashlib.md5(f"pq-{b}-{k}-{j}".encode()).hexdigest()[:8], 16)
        return (h % 201 - 100) / 100.0

    return [
        [[val(b, k, j) for j in range(sub_dim)] for k in range(num_centroids)]
        for b in range(num_sub)
    ]


def pq_codes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_sub: int = PQ_NUM_SUB,
    num_centroids: int = PQ_NUM_CENTROIDS,
    sub_dim: int = PQ_SUB_DIM,
) -> DataFrame:
    """Product-quantization encoding — the compression half of IVF-PQ,
    the standard billion-vector ANN layout: each vector splits into
    ``num_sub`` subvectors, each coded as its nearest codebook
    centroid, shrinking 64×8B doubles to 8 one-byte codes (64×
    smaller; search scans codes + per-query distance tables instead of
    raw vectors). Emits (id, codes as a comma-joined string, recon_err
    = the summed squared quantization error — the quality metric that
    drives codebook retraining).

    Map-only: every distance is a JVM-side fold over literal centroid
    arrays (one F.expr parse, no py4j literal churn — same rationale
    as the LSH band keys); argmin is ``array_position(d, array_min(d))``
    which ties to the smallest centroid id in both engines. No
    shuffle; at 100 TB this is a scan→project stage bounded by
    codegen throughput, exactly like the random projection."""
    base = _pq_dist_tables(df, id_col, vec_col, num_sub, num_centroids, sub_dim)
    code = [
        (F.array_position(F.col(f"_d{b}"), F.array_min(F.col(f"_d{b}"))) - 1).cast(
            "int"
        )
        for b in range(num_sub)
    ]
    err = None
    for b in range(num_sub):
        m = F.array_min(F.col(f"_d{b}"))
        err = m if err is None else err + m
    return base.select(
        F.col("_id"),
        F.concat_ws(",", *[c.cast("string") for c in code]).alias("codes"),
        err.alias("recon_err"),
    )


def _pq_dist_tables(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_sub: int,
    num_centroids: int,
    sub_dim: int,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(_id, *passthrough, _d0.._d{num_sub-1}): per-subspace arrays of
    squared distances to every codebook centroid — the shared kernel of
    PQ encoding (argmin per table) and ADC search (the query-side
    lookup tables ARE these arrays). ``passthrough`` columns ride along
    so callers can keep e.g. the coarse-list assignment without a
    self-join back on the id (a full corpus shuffle at scale)."""
    book = pq_codebook(num_sub, num_centroids, sub_dim)

    def dist_sql(b: int) -> str:
        # ONE nested codebook literal + a transform lambda per subspace
        # (not one fold per centroid): 16× fewer expression nodes, so
        # per-run analysis/optimization/codegen — the dominant cost of
        # a literal-heavy plan — stays flat as the codebook grows.
        # Element order of transform == literal order == centroid id
        # ascending, so the argmin-by-position code is unchanged.
        lits = ",".join(
            "array(" + ",".join(f"{x}D" for x in book[b][k]) + ")"
            for k in range(num_centroids)
        )
        return (
            f"transform(array({lits}), c -> "
            f"aggregate(zip_with(slice(_v, {b * sub_dim + 1}, {sub_dim}), "
            "c, (x, y) -> (x - y) * (x - y)), "
            "0.0D, (acc, x) -> acc + x))"
        )

    dists = [F.expr(dist_sql(b)) for b in range(num_sub)]
    return df.select(
        F.col(id_col).alias("_id"),
        *passthrough,
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).select(
        "_id", *passthrough, *[dists[b].alias(f"_d{b}") for b in range(num_sub)]
    )


def ivf_pq_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = IVF_PQ_NPROBE,
    num_sub: int = PQ_NUM_SUB,
    num_centroids: int = PQ_NUM_CENTROIDS,
    sub_dim: int = PQ_SUB_DIM,
) -> DataFrame:
    """IVF-PQ search — the billion-vector ANN layout end-to-end:
    corpus vectors live in coarse inverted lists (IVF) and are stored
    as PQ codes; a query probes its ``nprobe`` closest lists and ranks
    candidates by ASYMMETRIC DISTANCE (ADC): per subspace it builds a
    lookup table of squared distances to all codebook centroids once,
    then each candidate costs ``num_sub`` table lookups + adds — no
    raw-vector math per pair. Approximate twice over (list pruning ×
    code quantization); recall is bought with nprobe and a TRAINED
    codebook (production trains per-subspace k-means; the fixed
    codebook here keeps the path deterministic).

    Scale shape: the corpus side carries only (id, list, 8 codes) —
    the 64× compression is exactly what makes the candidate shuffle
    and the resident index small; query tables broadcast; ranking is
    the same per-query top-k window as ivf_topk."""
    assigned = assign_centroids(corpus, centroids).select(
        F.col("vec_id"), F.col("_v"), F.col("centroid_id")
    )
    # the coarse-list assignment rides through the code computation as
    # a passthrough column — one map-only pass over the corpus instead
    # of a self-join back on the id (a full corpus shuffle at scale)
    index = _pq_dist_tables(
        assigned,
        "vec_id", "_v", num_sub, num_centroids, sub_dim,
        passthrough=("centroid_id",),
    ).select(
        F.col("_id").alias("vec_id"),
        "centroid_id",
        *[
            (
                F.array_position(F.col(f"_d{b}"), F.array_min(F.col(f"_d{b}"))) - 1
            ).cast("int").alias(f"_c{b}")
            for b in range(num_sub)
        ],
    )

    q_assigned = assign_centroids(
        queries, centroids, "query_id", "query_vec", nprobe=nprobe
    ).select(F.col("query_id"), F.col("_v"), F.col("centroid_id"))
    q_tables = _pq_dist_tables(
        q_assigned.select("query_id", "_v").dropDuplicates(["query_id"]),
        "query_id", "_v", num_sub, num_centroids, sub_dim,
    ).withColumnRenamed("_id", "query_id")
    probes = q_assigned.select("query_id", "centroid_id").join(q_tables, "query_id")

    cand = index.join(F.broadcast(probes), "centroid_id")
    adc = None
    for b in range(num_sub):
        term = F.element_at(F.col(f"_d{b}"), F.col(f"_c{b}") + 1)
        adc = term if adc is None else adc + term
    scored = cand.select("query_id", "vec_id", adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float,
) -> DataFrame:
    """RANGE search (radius query) — the other half of the ANN API:
    all corpus vectors with cosine ≥ ``threshold`` per query, rather
    than a fixed top-k. Column names as in :func:`brute_force_topk`.
    Returns (query_id, vec_id, cos); self-matches (same id) are excluded.

    Same scale shape as :func:`brute_force_topk`: the bounded query
    batch is broadcast, the corpus streams map-only (per-row one dot
    fold against each query), and the threshold filter runs INSIDE the
    scan stage — no window, no shuffle at all (top-k at least shuffles
    the per-query survivors; range search emits matches where they are
    found). The LSH-bucketed variant for corpus×corpus radius search
    is ``dedup.embedding_lsh_pairs``."""
    c = spread(corpus).select(
        F.col("vec_id"),
        _as_double(F.col("embedding")).alias("_v"),
        F.sqrt(norm_sq(_as_double(F.col("embedding")))).alias("_n"),
    )
    q = queries.select(
        F.col("query_id"),
        _as_double(F.col("query_vec")).alias("_qv"),
        F.sqrt(norm_sq(_as_double(F.col("query_vec")))).alias("_qn"),
    )
    return (
        c.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "vec_id",
            F.try_divide(
                dot(F.col("_v"), F.col("_qv")), F.col("_n") * F.col("_qn")
            ).alias("cos"),
        )
        .filter((F.col("cos") >= threshold) & (F.col("query_id") != F.col("vec_id")))
    )
