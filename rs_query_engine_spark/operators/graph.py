"""Iterative graph operators. Dedup pipelines end with *cluster
consolidation*: near-dup PAIRS (from MinHash/SimHash/Jaccard) must
become connected components so each duplicate cluster keeps one
canonical document. No single SQL query expresses transitive closure,
so this is a driver-coordinated iteration over DataFrames — the one
place the engine loops (cf. SURVEY §2.6: the reference has no
iteration either; this is a beyond-reference north-star operator).

Algorithm: alternating min-label propagation ("small-star/large-star"
simplified): every node starts labeled with its own id; each round
joins labels across edges in both directions and takes the min; stop
when no label changes. Rounds are O(diameter) — near-dup clusters are
small and dense, so 2-4 rounds in practice.

Scale notes:
- each round is one shuffle join on node id (edges and labels hash-
  partitioned identically; no growth in state);
- convergence check is an aggregate (count of changed labels), cheap
  relative to the join;
- iterative lineage grows per round — ``localCheckpoint`` every round
  truncates it, keeping plans small and preventing recompute blowup
  (standard Spark iterative-algorithm hygiene);
- for trillion-edge graphs swap in the full large-star/small-star
  (alternating asymmetric propagation) which provably converges in
  O(log n) rounds; the per-round plumbing is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from rs_query_engine_spark.session import truncate_lineage


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components of an undirected ``(id_a, id_b)`` edge list.

    Returns (node, component) where component = min node id reachable.
    Nodes appearing only in edges are covered; isolated nodes are the
    caller's union (they are their own component by definition).
    """
    e = edges.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
    # undirected: propagate both ways each round
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    sym = sym.transform(truncate_lineage)

    # Size the iteration's partitioning to the materialized edge count
    # (known after the checkpoint; counting checkpointed data is
    # metadata-cheap). Near-dup edge lists are tiny relative to the
    # corpus — without this, every round inherits the corpus-sized
    # partition count and pays per-task scheduling + checkpoint-block
    # overhead far exceeding the actual work (measured 2.5× round
    # latency at sf0.1). coalesce never *increases* partitions, so a
    # genuinely large edge list keeps its parallelism.
    n_edges = sym.count()
    p = max(1, int(n_edges // 1_000_000) + 1)
    # coalesce on the checkpointed frame is a narrow op over the stored
    # blocks — no second checkpoint (which would pin a duplicate copy
    # of the edge list in the block manager for the session lifetime)
    sym = sym.coalesce(p)

    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .coalesce(p)
        .transform(truncate_lineage)
    )

    changed = 0
    for _ in range(max_iterations):
        # candidate label for each node: min over neighbors' labels
        neighbor_min = (
            sym.join(labels, sym["d"] == labels["node"])
            .groupBy("s")
            .agg(F.min("comp").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["s"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
                ).alias("comp"),
                (F.col("n_comp") < F.col("comp")).alias("_changed"),
            )
        ).coalesce(p).transform(truncate_lineage)
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        # 1-hop min-label needs O(diameter) rounds; a chain longer than
        # max_iterations would silently split clusters (under-dropping
        # dupes downstream). Surface it instead of returning bad labels.
        import warnings

        warnings.warn(
            f"connected_components: not converged after {max_iterations} "
            f"rounds ({changed} labels still changing) — raise "
            "max_iterations or switch to large-star/small-star",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def connected_components_star(edges: DataFrame, max_iterations: int = 50) -> DataFrame:
    """Connected components via alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Same contract as :func:`connected_components` —
    (node, comp) with comp = min reachable id — but converges in
    O(log n) rounds regardless of graph diameter, so a million-hop
    duplicate chain costs ~20 rounds, not a million. This is the
    100-TB default; the 1-hop variant above remains for small dense
    graphs where its single shuffle per round wins.

    Per round: large-star hooks every node's larger neighbors onto its
    local minimum (one groupBy + one join), small-star re-points every
    larger->smaller edge at the minimum (same shape). The edge set
    monotonically flattens into stars rooted at component minima;
    convergence is detected by an (count, xor-hash) signature of the
    edge set going stable — one cheap aggregate per round, same cost
    class as the 1-hop variant's changed-label count.
    """
    e = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(truncate_lineage)
    )
    n_edges = e.count()
    if n_edges == 0:
        return e.select(F.col("u").alias("node"), F.col("v").alias("comp"))
    p = max(1, int(n_edges // 1_000_000) + 1)
    e = e.coalesce(p)

    def _signature(df: DataFrame) -> tuple:
        # order-insensitive edge-set fingerprint: count + sums of two
        # independent bounded hashes (mod 2^31 keeps the BIGINT sum
        # ANSI-safe up to ~4e9 edges per partition-sum; two hashes make
        # a changed-set collision vanishingly unlikely, which matters
        # because a false "stable" would stop early with bad labels)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(2**31))).alias("h1"),
            F.sum(F.pmod(F.xxhash64("v", "u"), F.lit(2**31))).alias("h2"),
        ).first()
        return (row["n"], row["h1"], row["h2"])

    prev_sig = None
    for _ in range(max_iterations):
        # -- large-star: for each node u, m = min(N(u) ∪ {u});
        #    emit (v, m) for every neighbor v > u.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: edges now point larger->smaller (u > v).
        #    For each u, m = min of its smaller neighbors; re-point
        #    every neighbor (and u itself) at m.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        e = small.coalesce(p).transform(truncate_lineage)
        sig = _signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        import warnings

        warnings.warn(
            f"connected_components_star: not converged after "
            f"{max_iterations} rounds — pathological input or "
            "max_iterations too low",
            RuntimeWarning,
            stacklevel=2,
        )
    # converged edge set is a union of stars (node -> component min);
    # roots appear only on the right side, so add their self-labels
    return e.select(F.col("u").alias("node"), F.col("v").alias("comp")).union(
        e.select(F.col("v").alias("node"), F.col("v").alias("comp")).distinct()
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Consolidate ``(id_a, id_b)`` near-dup pairs into clusters:
    (doc_id, cluster_id, cluster_size) with cluster_id = min doc id in
    the component — the keep-candidate under a keep-smallest policy. Components come
    from the O(log n)-round large-star/small-star propagation
    (diameter-proof, the scale default).
    """
    comp = connected_components_star(pairs)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
    )


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int,
) -> DataFrame:
    """Multi-source BFS over an undirected ``(id_a, id_b)`` edge list:
    (node, dist) with dist = hop count from the NEAREST seed, bounded by
    ``max_depth``. ``seeds`` is a one-column frame of start nodes
    (emitted at dist 0 even when isolated).

    Frontier expansion, not transitive closure: each round joins only
    the NEW frontier against the edges and anti-joins already-settled
    nodes away, so a node is visited exactly once (its first — hence
    minimal — level) and per-round work is proportional to the
    frontier, not to everything reached so far. ``truncate_lineage``
    caps the plan per round (the connected-components pattern);
    partitioning is sized to the edge list, which for near-dup graphs
    is tiny relative to the corpus. Rounds = max_depth: at 100 TB the
    depth bound is what makes blast-radius queries predictable —
    O(depth) shuffles over frontier-sized frames, never a full
    closure."""
    e = edges.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
    sym = e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    sym = sym.transform(truncate_lineage)
    n_edges = sym.count()
    p = max(1, int(n_edges // 1_000_000) + 1)
    sym = sym.coalesce(p)

    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
        .coalesce(p)
        .transform(truncate_lineage)
    )
    frontier = dist
    for k in range(1, max_depth + 1):
        nxt = (
            sym.join(frontier, sym["d"] == frontier["node"])
            .select(F.col("s").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(k).cast("int"))
            .coalesce(p)
            .transform(truncate_lineage)
        )
        if nxt.count() == 0:
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    return dist


def min_label_propagation(
    nodes: DataFrame,
    edges: DataFrame,
    rounds: int,
    node_col: str = "doc_id",
) -> DataFrame:
    """BOUNDED synchronous min-label propagation: exactly ``rounds``
    iterations of ``label(v) ← min(label(v), min over in-neighbors'
    labels)`` from the identity labeling — the fixed-budget variant
    of :func:`connected_components` (which runs the same recurrence
    to convergence). ``edges`` ``(src, dst)`` is DIRECTED as given (pass
    both directions for the undirected semantics the dedup graph wants);
    nodes absent from ``edges`` keep their own id, so the output is a
    total ``(node_col, label)`` labeling of ``nodes``.

    After k rounds a node's label is the minimum node id within k
    hops — precisely 'how far has this identity traveled', the
    partial-cluster preview / influence-radius semantics
    (property-pinned in tests/unit/test_properties.py against a
    Python k-hop BFS reference).

    Scale shape: each round is one edges⋈labels equi-join plus a
    min-aggregate, every one hash-partitioned on the same vertex id
    (AQE reuses the exchange); cost is rounds × O(|E|) with no
    frontier state and no convergence check — the budget IS the
    bound. Lineage is cut per round (``truncate_lineage``) exactly
    like the converging iteration."""
    labels = nodes.select(
        F.col(node_col), F.col(node_col).alias("label")
    )
    # materialize the edge list ONCE: it is re-joined every round, and
    # without the cut each round would recompute its whole upstream
    # (for the dedup graph, the full shingle+block+verify pipeline)
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d")).transform(
        truncate_lineage
    )
    for _ in range(rounds):
        nbr = (
            e.join(
                labels.select(
                    F.col(node_col).alias("s"), F.col("label").alias("nl")
                ),
                "s",
            )
            .groupBy(F.col("d").alias(node_col))
            .agg(F.min("nl").alias("nbr_min"))
        )
        labels = (
            labels.join(nbr, node_col, "left")
            .select(
                node_col,
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
            .transform(truncate_lineage)
        )
    return labels


def block_label_propagation(blocked: DataFrame, rounds: int) -> DataFrame:
    """:func:`min_label_propagation` over the blocked n-gram Jaccard
    graph, run inside each blocking bucket. ``blocked`` is the cut
    ``(_id, _blk, _sh)`` projection of
    :func:`~rs_query_engine_spark.operators.dedup.blocked_shingles`;
    two documents are neighbours when they share ``_blk`` and their
    shingle Jaccard is ``>= NGRAM_JACCARD_THRESHOLD`` — the edge rule of
    :func:`~rs_query_engine_spark.operators.dedup.ngram_jaccard_pairs`.
    Output: ``(doc_id, label)`` for every row of ``blocked``, label =
    the minimum id within ``rounds`` hops.

    Every edge joins two documents of one bucket, so every k-hop
    neighbourhood, and every label it propagates, stays inside that
    bucket. One ``groupBy("_blk")`` collects each bucket; each
    position's neighbour list is built once, by filtering the bucket's
    positions through the Jaccard rule, and the rounds run as one
    ``aggregate`` over the bucket's label array. Documents without
    shingles have no neighbours and keep their own id through a
    shuffle-free branch over the same cut. No join, no per-round
    lineage cut, one shuffle on the block key; Jaccard work per bucket
    is quadratic in its size (each pair is tested from both ends),
    as in ``ngram_jaccard_pairs``."""
    from rs_query_engine_spark.operators.dedup import (
        NGRAM_JACCARD_THRESHOLD,
        shingle_jaccard,
    )

    # One SQL expression, not the Column API: every Column call is a
    # py4j round trip, and built call by call this operator took 0.23 s
    # to construct against 0.12 s (warm session, sf0.01, 4 cores).
    # Every bucket holds at least one document, so the sequence is never
    # empty.
    adj = f"""transform(docs, (d, i) -> filter(sequence(0, size(docs) - 1),
        k -> k != i AND {shingle_jaccard('d._sh', 'docs[k]._sh')}
             >= {NGRAM_JACCARD_THRESHOLD!r}D))"""
    # synchronous rounds: every new label reads the previous array; the
    # neighbour lists ride in the state so they are built once
    labels = f"""aggregate(array_repeat(0, {int(rounds)}),
        named_struct('lbl', transform(docs, d -> d._id), 'adj', {adj}),
        (st, r) -> named_struct(
            'lbl', transform(st.lbl, (l, k) ->
                least(l, array_min(transform(st.adj[k], j -> st.lbl[j])))),
            'adj', st.adj),
        st -> transform(st.lbl, (l, k) ->
            named_struct('doc_id', docs[k]._id, 'label', l)))"""
    has_sh = F.size("_sh") > 0
    linked = (
        blocked.filter(has_sh)
        .groupBy("_blk")
        .agg(F.collect_list(F.struct("_id", "_sh")).alias("docs"))
        .select(F.explode(F.expr(labels)).alias("r"))
        .select("r.*")
    )
    alone = blocked.filter(~has_sh).select(
        F.col("_id").alias("doc_id"), F.col("_id").alias("label")
    )
    return linked.unionByName(alone)


def integer_mass_diffusion(
    seeds: DataFrame,
    edges: DataFrame,
    rounds: int,
    init_mass: int,
    node_col: str = "doc_id",
) -> DataFrame:
    """EXACT-INTEGER mass diffusion — the weighted twin of
    :func:`min_label_propagation` (and the decayed counterpart of
    :func:`bfs_levels`'s 0/1 reachability): every seed starts with
    ``init_mass`` integer units; each synchronous round a node offers
    half its mass (integer-floored), splits the offer EQUALLY among
    its out-neighbors (per-neighbor share = ``offer // degree``), and
    keeps everything division remainders leave behind. All arithmetic
    is integer floor-div, so the result is deterministic,
    engine-portable, and oracle-checkable — the personalized-
    PageRank-style proximity weight without the float dot that makes
    real PageRank hash-fragile across engines. TOTAL MASS IS
    CONSERVED exactly (property-pinned): nothing leaks, nothing is
    minted, which is what makes the output auditable as a
    'contamination budget' (takedown blast radius with decay, related-
    document ranking by hop-discounted proximity).

    ``edges`` ``(src, dst)`` is directed as given (pass both directions
    for undirected semantics). Nodes reachable but absent from ``seeds``
    enter with mass 0. Output: ``(node_col, mass)`` for every node
    that ever held mass, including seeds that diffused to zero.

    Scale shape: degrees materialize once (one aggregate over the
    edge list, lineage-cut, re-joined every round); each round is an
    edges⋈mass equi-join plus one hash aggregate, all partitioned on
    the vertex id; cost is rounds × O(|E|) with no frontier state.
    Choose ``init_mass`` a power of two ≥ 2^rounds so early rounds
    don't floor to zero."""
    e = edges.select(F.col("src").alias("s"), F.col("dst").alias("d")).transform(
        truncate_lineage
    )
    deg = e.groupBy(F.col("s").alias(node_col)).agg(
        F.count(F.lit(1)).alias("deg")
    ).transform(truncate_lineage)
    mass = seeds.select(F.col(node_col)).distinct().select(
        node_col, F.lit(init_mass).cast("bigint").alias("mass")
    )
    for _ in range(rounds):
        m = mass.join(deg, node_col, "left").select(
            node_col,
            "mass",
            F.coalesce("deg", F.lit(0)).alias("deg"),
            # integer div, NOT float /2: mass beyond 2^53 must not round
            F.expr("mass div 2").cast("bigint").alias("offer"),
        )
        m = m.select(
            node_col,
            "deg",
            F.when(F.col("deg") > 0, F.expr("offer div deg"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("per_nbr"),
            "mass",
        )
        kept = m.select(
            node_col,
            (F.col("mass") - F.col("per_nbr") * F.col("deg")).alias("mass"),
        )
        sent = (
            e.join(
                m.select(
                    F.col(node_col).alias("s"),
                    F.col("per_nbr").alias("share"),
                ).filter(F.col("share") > 0),
                "s",
            )
            .groupBy(F.col("d").alias(node_col))
            .agg(F.sum("share").alias("mass"))
        )
        mass = (
            kept.unionByName(sent)
            .groupBy(node_col)
            .agg(F.sum("mass").alias("mass"))
            .transform(truncate_lineage)
        )
    return mass
