"""Property-based cross-validation (hypothesis): operators must agree
with independent reference implementations on randomized inputs —
pandas ``merge_asof`` for the as-of join, plain groupBy for the salted
aggregate. Bounded example counts keep Spark round-trips cheap."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from rs_query_engine_spark.operators.joins import asof_join
from rs_query_engine_spark.operators.skew import salted_aggregate

KEYS = ("a", "b", "c")

# (key, ts) pairs with unique ts per key on the right side — ties on
# right_ts are documented as caller-resolved, so the property holds on
# tie-free right inputs
left_rows = st.lists(
    st.tuples(st.sampled_from(KEYS), st.integers(0, 50)), min_size=0, max_size=25
)
right_rows = st.lists(
    st.tuples(st.sampled_from(KEYS), st.integers(0, 50)),
    min_size=0,
    max_size=25,
    unique_by=lambda t: (t[0], t[1]),
)


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(lrows=left_rows, rrows=right_rows, direction=st.sampled_from(["backward", "forward"]))
def test_asof_matches_pandas_merge_asof(sp, lrows, rrows, direction):
    ldf = sp.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)] or [("zz", 0, -1)],
        "k string, lts long, lid long",
    )
    rdf = sp.createDataFrame(
        [(k, t, float(t) * 2) for (k, t) in rrows] or [("zz", 99, 0.0)],
        "k string, rts long, rv double",
    )
    got = {
        r["lid"]: (r["rts"], r["rv"])
        for r in asof_join(
            ldf, rdf, by=["k"], left_ts="lts", right_ts="rts", direction=direction
        ).collect()
    }

    lp = ldf.toPandas().sort_values("lts").reset_index(drop=True)
    rp = rdf.toPandas().sort_values("rts").reset_index(drop=True)
    want_df = pd.merge_asof(
        lp, rp, left_on="lts", right_on="rts", by="k", direction=direction
    )
    want = {
        int(r.lid): (
            None if pd.isna(r.rts) else int(r.rts),
            None if pd.isna(r.rv) else float(r.rv),
        )
        for r in want_df.itertuples()
    }
    assert got == want


@settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(KEYS), st.integers(-100, 100)),
        min_size=1,
        max_size=40,
    ),
    num_salts=st.sampled_from([1, 3, 8]),
)
def test_salted_aggregate_is_invisible(sp, rows, num_salts):
    df = sp.createDataFrame(
        [(i, k, float(v)) for i, (k, v) in enumerate(rows)],
        "uid long, k string, v double",
    )
    got = salted_aggregate(
        df,
        keys=["k"],
        aggs={"s": ("sum", "v"), "n": ("count", "v"), "lo": ("min", "v"), "hi": ("max", "v")},
        uniquifier=["uid"],
        num_salts=num_salts,
    )
    want = df.groupBy("k").agg(
        F.sum("v").alias("s"),
        F.count("v").alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


edge_lists = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=60,
)


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(edges=edge_lists)
def test_connected_components_star_matches_union_find(sp, edges):
    """Large-star/small-star labels must equal a plain Python
    union-find ground truth on random graphs (self-loops dropped, the
    operator's contract)."""
    from rs_query_engine_spark.operators.graph import connected_components_star

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # ground truth: node -> min id of its component
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    truth = {n: comp_min[find(n)] for n in parent}

    df = sp.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["comp"]
        for r in connected_components_star(df).collect()
    }
    assert got == truth


def test_freq_items_exact_heavy_hitter_set(sp):
    """The sketch's no-false-negative guarantee plus the exact-count
    back-join means the query returns EXACTLY the true heavy-hitter
    set (items with frequency strictly above the support threshold),
    with exact counts."""
    from rs_query_engine_spark.queries import agg_freq_items

    sf_dir = "/root/testdata/sf0.001"
    got = {(r["item"], r["exact_cnt"]) for r in agg_freq_items(sp, sf_dir).collect()}
    ev = sp.read.parquet(f"{sf_dir}/events.parquet")
    total = ev.count()
    truth = {
        (r["event_type"], r["count"])
        for r in ev.groupBy("event_type").count().collect()
        if r["count"] / total > 0.1
    }
    assert got == truth


def test_unigram_logprob_matches_duckdb_within_tolerance(sp):
    """text_unigram_logprob has no oracle hash (ln + float mean are
    order/libm dependent); gate values against DuckDB at 1e-9
    relative instead."""
    import duckdb

    from rs_query_engine_spark.queries import text_unigram_logprob

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["cross_entropy"], r["n_tokens"])
        for r in text_unigram_logprob(sp, sf_dir).collect()
    }
    con = duckdb.connect()
    ref = con.execute(
        rf"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
            FROM read_parquet('{sf_dir}/documents.parquet')
        ), vocab AS (
            SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
        ), tot AS (SELECT SUM(cnt) AS total FROM vocab)
        SELECT doc_id, AVG(-ln(CAST(cnt AS DOUBLE) / total)) AS ce, COUNT(*) AS n
        FROM toks JOIN vocab USING (tok), tot
        GROUP BY doc_id
        """
    ).fetchall()
    assert len(ref) == len(got)
    for doc_id, ce, n in ref:
        sce, sn = got[doc_id]
        assert sn == n
        assert abs(sce - ce) <= 1e-9 * max(1.0, abs(ce))


# --- interval overlap vs brute force -----------------------------------

intervals = st.lists(
    st.tuples(st.integers(0, 200), st.integers(1, 40)),  # (lo, length)
    min_size=0,
    max_size=12,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(left=intervals, right=intervals)
def test_interval_overlap_matches_bruteforce(spark, left, right):
    """Grid-cell interval join must return exactly the pairs a nested
    loop over the half-open overlap predicate returns, for any bucket
    width (cells only generate candidates; the residual decides)."""
    from rs_query_engine_spark.operators.joins import interval_overlap_join

    ldf = spark.createDataFrame(
        [(i, lo, lo + ln) for i, (lo, ln) in enumerate(left)] or [(-1, 0, 0)],
        "lid long, llo long, lhi long",
    ).filter(F.col("lid") >= 0)
    rdf = spark.createDataFrame(
        [(i, lo, lo + ln) for i, (lo, ln) in enumerate(right)] or [(-1, 0, 0)],
        "rid long, rlo long, rhi long",
    ).filter(F.col("rid") >= 0)
    got = {
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            ldf, rdf, "llo", "lhi", "rlo", "rhi", 16
        ).collect()
    }
    want = {
        (i, j)
        for i, (llo, lln) in enumerate(left)
        for j, (rlo, rln) in enumerate(right)
        if llo < rlo + rln and rlo < llo + lln
    }
    assert got == want


# --- containment pairs vs brute force ----------------------------------

VOCAB = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
doc_texts = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=3, max_size=12).map(" ".join),
    min_size=2,
    max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=doc_texts)
def test_containment_matches_bruteforce(spark, texts):
    """Prefix-filtered containment must find EXACTLY the pairs a
    brute-force all-pairs shingle comparison finds (the pigeonhole
    probe guarantee is exact, not probabilistic, when no shingle is
    df-capped)."""
    from rs_query_engine_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(docs, "doc_id", "text").collect()
    }

    def sh(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    want = {}
    for a, ta in enumerate(texts):
        for b, tb in enumerate(texts):
            if a == b or not sh(ta):
                continue
            c = len(sh(ta) & sh(tb)) / len(sh(ta))
            if c >= 0.8:
                want[(a, b)] = c
    assert set(got) == set(want)
    for k, v in got.items():
        assert abs(v - want[k]) < 1e-12


def test_winnowing_shared_substring_guarantee(sp):
    """Winnowing's defining property: two documents sharing a
    substring of >= w+k-1 tokens (here 4+3-1 = 6) must share at least
    one selected fingerprint. Build the (doc, fp) selection with the
    same ``winnow`` helper the registry query summarises."""
    import pyspark.sql.functions as F

    from rs_query_engine_spark.functions.text import winnow

    shared = "alpha bravo charlie delta echo foxtrot"  # 6 shared tokens
    docs = sp.createDataFrame(
        [
            (1, "one two three " + shared + " four five six"),
            (2, "seven eight " + shared + " nine ten eleven twelve"),
            (3, "totally different words everywhere in this text here"),
        ],
        "doc_id long, text string",
    )
    sel = (
        docs.select("doc_id", F.explode(winnow(F.col("text"), 3, 4)).alias("fp"))
        .distinct()
        .collect()
    )
    fps = {}
    for r in sel:
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared 6-token substring must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])


def _winnow_summary(text: str, k: int = 3, w: int = 4):
    """Plain-Python winnowing ground truth: (n_fps, fp_min, fp_max) of
    the minima of every ``w`` consecutive md5-hashed word ``k``-grams,
    or None when the text has fewer than ``w`` grams."""
    import hashlib
    import re

    toks = re.split(r"\s+", text.lower())
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    fps = [min(hs[i : i + w]) for i in range(len(hs) - w + 1)]
    return (len(set(fps)), min(fps), max(fps)) if fps else None


# a small vocabulary, so repeated grams (and repeated window minima)
# are common; 0 tokens is the empty text
winnow_docs = st.lists(
    st.lists(st.sampled_from(VOCAB[:4]), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(texts=winnow_docs)
def test_winnowing_query_matches_bruteforce(sp, tmp_path_factory, texts):
    """The registered ``text_winnowing_fingerprints`` query, run over a
    documents table of 0-12 token texts, must return exactly the
    per-doc (n_fps, fp_min, fp_max) of a Python brute force, and no
    row for a doc with fewer than 4 grams."""
    from rs_query_engine_spark import queries as registry

    sf = str(tmp_path_factory.mktemp("winnow"))
    sp.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_fps"], r["fp_min"], r["fp_max"])
        for r in registry.queries()["text_winnowing_fingerprints"](sp, sf).collect()
    }
    want = {
        i: s for i, s in enumerate(map(_winnow_summary, texts)) if s is not None
    }
    assert got == want


def _khop_min(adj: dict, start: int, rounds: int) -> int:
    """The minimum node id within ``rounds`` hops of ``start`` in the
    undirected adjacency ``adj`` (plain Python BFS ground truth)."""
    seen = {start}
    frontier = {start}
    for _ in range(rounds):
        frontier = {m for n in frontier for m in adj[n]} - seen
        if not frontier:
            break
        seen |= frontier
    return min(seen)


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(edges=edge_lists, rounds=st.integers(1, 4))
def test_min_label_propagation_is_k_hop_min(sp, edges, rounds):
    """After exactly k synchronous rounds, a node's label must be the
    minimum node id within k hops of it (undirected) — computed here
    by a plain Python BFS ground truth on random graphs. Also pins
    totality (isolated nodes keep their own id) and monotonicity
    (label <= own id)."""
    from rs_query_engine_spark.operators.graph import min_label_propagation

    nodes = sorted({n for e in edges for n in e} | {99})  # 99: isolated
    adj: dict = {n: set() for n in nodes}
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)

    want = {n: _khop_min(adj, n, rounds) for n in nodes}

    ndf = sp.createDataFrame([(n,) for n in nodes], "doc_id long")
    edf = sp.createDataFrame(
        [(a, b) for a, b in edges if a != b]
        + [(b, a) for a, b in edges if a != b]
        or [(99, 99)],  # createDataFrame needs >=1 row; self-loop is inert
        "src long, dst long",
    )
    got = {
        r["doc_id"]: r["label"]
        for r in min_label_propagation(
            ndf, edf, rounds=rounds, node_col="doc_id"
        ).collect()
    }
    assert got == want
    assert all(lbl <= n for n, lbl in got.items())


SHINGLE_VOCAB = tuple(f"s{k}" for k in range(8))
# a random (possibly empty) shingle set, or a window of two adjacent
# shingles: windows one step apart have Jaccard 1/3 and two apart 0, so
# they chain into paths that take several rounds to cross
shingle_sets = st.one_of(
    st.frozensets(st.sampled_from(SHINGLE_VOCAB), max_size=3),
    st.integers(0, 6).map(lambda k: frozenset(SHINGLE_VOCAB[k : k + 2])),
)


@st.composite
def blocked_docs(draw):
    """``(_id, _blk, _sh)`` rows of a random block-partitioned corpus:
    blocks of 1-6 documents, ids a random permutation. Every example
    also holds a singleton block, a shingle-less document in a
    populated block, one in a block of its own, and a block whose
    windows chain into a 5-hop path (longer than any round budget)."""
    blocks = draw(
        st.lists(
            st.lists(shingle_sets, min_size=1, max_size=6),
            min_size=1,
            max_size=5,
        )
    )
    blocks[0] = blocks[0] + [frozenset()]
    blocks += [
        [frozenset(SHINGLE_VOCAB[:2])],
        [frozenset()],
        [frozenset(SHINGLE_VOCAB[k : k + 2]) for k in range(6)],
    ]
    ids = draw(st.permutations(range(sum(map(len, blocks)))))
    rows = [(f"b{bi}", sorted(sh)) for bi, blk in enumerate(blocks) for sh in blk]
    return [(i, blk, sh) for i, (blk, sh) in zip(ids, rows)]


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(docs=blocked_docs(), rounds=st.integers(1, 4))
def test_block_label_propagation_matches_global_and_k_hop_min(sp, docs, rounds):
    """The block-local operator must give the labels of
    :func:`min_label_propagation` over the same blocked Jaccard edges
    (both directions, every document a node) and of the Python k-hop
    BFS, on random block-partitioned graphs with singleton blocks,
    isolated nodes and documents with no shingles."""
    from rs_query_engine_spark.operators.graph import (
        block_label_propagation,
        min_label_propagation,
    )

    adj: dict = {i: set() for i, _, _ in docs}
    for i, bi, si in docs:
        for j, bj, sj in docs:
            a, b = set(si), set(sj)
            if i < j and bi == bj and a and b and len(a & b) / len(a | b) >= 0.3:
                adj[i].add(j)
                adj[j].add(i)
    want = {n: _khop_min(adj, n, rounds) for n in adj}

    blocked = sp.createDataFrame(docs, "_id long, _blk string, _sh array<string>")
    got = {
        r["doc_id"]: r["label"]
        for r in block_label_propagation(blocked, rounds=rounds).collect()
    }
    assert got == want

    ndf = sp.createDataFrame([(n,) for n in adj], "doc_id long")
    edf = sp.createDataFrame(
        [(a, b) for a in adj for b in adj[a]] or [(0, 0)],  # self-loop is inert
        "src long, dst long",
    )
    ref = {
        r["doc_id"]: r["label"]
        for r in min_label_propagation(ndf, edf, rounds=rounds).collect()
    }
    assert got == ref


@settings(
    max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)
@given(edges=edge_lists, rounds=st.integers(1, 3))
def test_integer_mass_diffusion_matches_reference_and_conserves(sp, edges, rounds):
    """Exact-integer diffusion must match a plain Python reference on
    random DIRECTED graphs (offer = mass//2, per-neighbor share =
    offer//deg, remainders stay), and total mass must be conserved
    bit-for-bit — the property that makes the output auditable as a
    contamination budget."""
    from rs_query_engine_spark.operators.graph import integer_mass_diffusion

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    seeds = sorted({a for a, _ in edges})[:3] + [99]  # 99: isolated seed
    init = 1 << 10
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)

    mass = {s: init for s in seeds}
    for _ in range(rounds):
        nxt: dict = {}
        for n, m in mass.items():
            deg = len(adj.get(n, []))
            offer = m // 2
            share = offer // deg if deg else 0
            nxt[n] = nxt.get(n, 0) + m - share * deg
            for v in adj.get(n, []):
                if share:
                    nxt[v] = nxt.get(v, 0) + share
        mass = nxt

    sdf = sp.createDataFrame([(s,) for s in seeds], "doc_id long")
    edf = sp.createDataFrame(edges, "src long, dst long")
    got = {
        r["doc_id"]: r["mass"]
        for r in integer_mass_diffusion(
            sdf, edf, rounds=rounds, init_mass=init, node_col="doc_id"
        ).collect()
    }
    assert got == mass
    assert sum(got.values()) == init * len(seeds)  # conservation
