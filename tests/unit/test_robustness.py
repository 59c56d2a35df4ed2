"""Edge-input hardening: every operator must behave on empty inputs,
single rows, and degenerate text — the failure modes that surface at
100 TB as one poisoned partition, not in happy-path demos. Plus the
pandas-UDF registration surface."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from rs_query_engine_spark.engine import Engine
from rs_query_engine_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    simhash,
)
from rs_query_engine_spark.operators.graph import connected_components
from rs_query_engine_spark.operators.joins import asof_join, range_join_bands


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_empty_and_degenerate_text(spark):
    d = _docs(
        spark,
        [(1, ""), (2, "one two"), (3, "a b c d e f"), (4, "a b c d e f")],
    )
    pairs = minhash_lsh_pairs(d, "doc_id", "text").collect()
    # docs 3/4 identical → one pair at jaccard 1.0; empty/short docs
    # (no complete 3-gram) must neither crash nor pair with each other
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [(3, 4, 1.0)]


def test_minhash_signature_empty_text_is_sentinel(spark):
    d = _docs(spark, [(1, "")])
    sig = d.select(minhash_signature(F.col("text")).alias("s")).collect()[0]["s"]
    assert sig == [2**33] * 16


def test_minhash_empty_frame(spark):
    d = _docs(spark, []).filter(F.lit(False))
    assert minhash_lsh_pairs(d, "doc_id", "text").count() == 0


def test_exact_dedup_empty(spark):
    d = _docs(spark, []).filter(F.lit(False))
    assert exact_dedup(d, "doc_id", "text").count() == 0


def test_simhash_empty_text(spark):
    d = _docs(spark, [(1, "")])
    out = d.select(simhash(F.col("text")).alias("h")).collect()
    assert out[0]["h"] is not None  # defined (split('') → [''], hashable)


def test_asof_empty_right(spark):
    left = spark.createDataFrame([("a", 1, 10)], "k string, ts int, v int")
    right = spark.createDataFrame([], "k string, rts int, rv int")
    rows = asof_join(left, right, by=["k"], left_ts="ts", right_ts="rts").collect()
    assert len(rows) == 1 and rows[0]["rv"] is None


def test_range_join_empty_bands(spark):
    facts = spark.createDataFrame([(1.0,)], "v double")
    bands = spark.createDataFrame([], "band string, lo double, hi double")
    assert range_join_bands(facts, bands, "v", "lo", "hi", 10.0).count() == 0


def test_connected_components_empty(spark):
    e = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(e).count() == 0


def test_connected_components_star_empty(spark):
    from rs_query_engine_spark.operators.graph import connected_components_star

    e = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(e).count() == 0


def test_connected_components_star_matches_onehop(spark):
    """Both algorithms must produce identical (node, comp) labelings on
    a multi-component graph with cycles, chains, and singles-by-edge."""
    import random

    from rs_query_engine_spark.operators.graph import connected_components_star

    rng = random.Random(7)
    edges = []
    # 10 components of ~12 nodes each, random internal wiring
    for c in range(10):
        base = c * 100
        nodes = [base + i for i in range(12)]
        for n in nodes[1:]:  # spanning connection
            edges.append((rng.choice(nodes), n))
        for _ in range(8):  # extra cycles
            edges.append((rng.choice(nodes), rng.choice(nodes)))
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    one = {(r["node"], r["comp"]) for r in connected_components(e).collect()}
    star = {(r["node"], r["comp"]) for r in connected_components_star(e).collect()}
    assert star == one
    # every component labeled by its min id
    comps = {c for _, c in star}
    assert comps == {c * 100 for c in range(10)}


def test_connected_components_star_long_chain(spark):
    """A 120-hop chain: 1-hop min-label needs 120 rounds (exhausts its
    default budget and warns); large-star/small-star converges in
    O(log n) rounds and labels the whole chain correctly."""
    import warnings

    from rs_query_engine_spark.operators.graph import connected_components_star

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    rows = connected_components_star(e, max_iterations=15).collect()
    assert {r["comp"] for r in rows} == {0}
    assert {r["node"] for r in rows} == set(range(121))

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        connected_components(e, max_iterations=5).collect()
    assert any("not converged" in str(w.message) for w in caught)


def test_register_pandas_udf_sql_and_builder(spark):
    eng = Engine(spark)
    eng.register_pandas_udf("double_it", lambda s: s * 2, "double")
    eng.catalog.register_memory("nums", [(1.0,), (2.5,)], "x double")
    via_sql = eng.sql("SELECT double_it(x) AS y FROM nums ORDER BY y").collect()
    assert [r["y"] for r in via_sql] == [2.0, 5.0]
    via_builder = (
        eng.table("nums").project(F.expr("double_it(x)").alias("y")).collect()
    )
    assert sorted(r["y"] for r in via_builder) == [2.0, 5.0]


def test_cosine_zero_vector_is_null_not_error(spark):
    from rs_query_engine_spark.operators.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(10, [1.0, 0.0])], "query_id long, query_vec array<double>"
    )
    rows = brute_force_topk(corpus, queries, k=3).collect()
    by_vec = {r["vec_id"]: r["cos"] for r in rows}
    assert by_vec[2] is None  # zero vector → NULL, no crash
    # NULL ranks last: top hit is the exact match
    top = min(rows, key=lambda r: r["rnk"])
    assert top["vec_id"] == 1 and abs(top["cos"] - 1.0) < 1e-12


def test_sampling_deterministic_and_bounded(spark):
    from rs_query_engine_spark.operators.sorts import sample_fraction

    df = spark.range(0, 10000)
    a = sample_fraction(df, 0.1, seed=7).count()
    b = sample_fraction(df, 0.1, seed=7).count()
    assert a == b  # deterministic for fixed seed + partitioning
    assert 700 < a < 1300  # ~10%


def test_hash_sampling_deterministic_and_join_consistent(spark):
    from rs_query_engine_spark.operators.sorts import (
        sample_hash,
        sample_stratified_hash,
    )

    df = spark.range(0, 10000).withColumn("s", (F.col("id") % 2 == 0).cast("string"))
    a = sample_hash(df, F.col("id"), 10)
    # deterministic across invocations AND repartitioning (content
    # hash, not an RNG stream over partitions)
    ids_a = {r["id"] for r in a.collect()}
    ids_b = {r["id"] for r in sample_hash(df.repartition(7), F.col("id"), 10).collect()}
    assert ids_a == ids_b
    assert 700 < len(ids_a) < 1300  # ~10%
    # nested rates: the 5% sample is a subset of the 10% sample
    ids_5 = {r["id"] for r in sample_hash(df, F.col("id"), 5).collect()}
    assert ids_5 <= ids_a
    # join-consistency: sampling another table by the same key keeps
    # exactly the matching rows — the property RNG sampling lacks
    other = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    ids_other = {r["id"] for r in sample_hash(other, F.col("id"), 10).collect()}
    assert ids_other == ids_a

    strat = sample_stratified_hash(
        df, "s", F.col("id"), {"true": 100, "false": 2}, default_pct=0
    )
    counts = {r["s"]: r["count"] for r in strat.groupBy("s").count().collect()}
    assert counts["true"] == 5000  # keep ALL of the "rare" class
    assert counts.get("false", 0) < 250  # ~2% of 5000


def test_chunk_spans_edges(spark):
    from rs_query_engine_spark.functions.text import chunk_spans

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),   # 7 tokens → chunks at 1, 4 (size 3, stride 3... see call)
            (2, "x"),               # single token → one chunk
            (3, ""),                # empty → split('') = [''] → one 1-token chunk
        ],
        "id long, text string",
    )
    rows = (
        df.select("id", F.explode(chunk_spans("text", chunk_size=3, stride=2)).alias("c"))
        .select("id", "c.chunk_start", "c.n_tokens", "c.chunk_text")
        .collect()
    )
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append((r["chunk_start"], r["n_tokens"], r["chunk_text"]))
    # 7 tokens, size 3, stride 2 → starts 1,3,5,7; tail chunk short
    assert by_id[1] == [
        (1, 3, "a b c"),
        (3, 3, "c d e"),
        (5, 3, "e f g"),
        (7, 1, "g"),
    ]
    assert by_id[2] == [(1, 1, "x")]
    assert by_id[3] == [(1, 1, "")]
    # overlap property: consecutive chunks share size-stride tokens
    assert by_id[1][0][2].split()[2:] == by_id[1][1][2].split()[:1]


def test_chunking_is_map_only(spark):
    """The chunker must never shuffle — scan-bound at 100 TB."""
    from rs_query_engine_spark.functions.text import chunk_spans

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        df.select("doc_id", F.explode(chunk_spans("text")).alias("c"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_tfidf_topk_terms(spark):
    from rs_query_engine_spark.functions.text import tfidf_topk_terms

    df = spark.createDataFrame(
        [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry durian")],
        "id long, text string",
    )
    rows = tfidf_topk_terms(df, "id", "text", k=1).collect()
    best = {r["id"]: r["term"] for r in rows}
    # doc 1: apple tf=2,df=1 → 6.0 beats banana 1*3/2=1.5
    # doc 2: banana and cherry tie at 1.5 → term-order tiebreak → banana
    # doc 3: durian df=1 → 3.0 beats cherry 1.5
    assert best == {1: "apple", 2: "banana", 3: "durian"}
    assert all(r["rnk"] == 1 for r in rows)


def test_topk_per_group_partial_equivalence(spark):
    """partial=True must return exactly the plain window's rows —
    local top-k is a superset of global top-k under any partitioning."""
    from rs_query_engine_spark.operators.sorts import top_k_per_group

    df = (
        spark.range(0, 5000)
        .withColumn("g", (F.col("id") % 3).cast("string"))
        .withColumn("v", F.col("id") * 37 % 1001)
        .repartition(13)
    )
    order = [F.col("v").desc(), F.col("id")]
    plain = top_k_per_group(df, ["g"], order, 5)
    part = top_k_per_group(df, ["g"], order, 5, partial=True)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, part.collect()))


def test_approx_distinct_error_bound(spark):
    """The query reports the 3·rsd bound as the hashable ``approx_ok``
    boolean; this test re-derives the RAW HLL estimate and gates its
    value so a sketch regression can't hide behind the flag."""
    from pyspark.sql import functions as F

    from rs_query_engine_spark.queries import queries
    from rs_query_engine_spark.sources.corpus import load_table

    rows = queries()["agg_approx_distinct"](spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r["approx_ok"] for r in rows)
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    raw = {
        r["l_returnflag"]: (r["approx"], r["exact"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
            F.count_distinct("l_partkey").alias("exact"),
        )
        .collect()
    }
    for flag, (approx, exact) in raw.items():
        assert exact > 0
        assert abs(approx - exact) <= max(1, 3 * 0.02 * exact), (flag, approx, exact)
    # and the exact column in the query output matches truth
    for r in rows:
        assert r["exact_parts"] == raw[r["l_returnflag"]][1]


def test_approx_percentile_error_bound(spark):
    """At accuracy=10000 the sketch's rank error is ≤ 1/10000, which on
    this corpus keeps the approx within 1% of the exact value (generous
    bound — observed error is far smaller). Exact percentiles are
    recomputed here rather than carried in the query, so the registered
    query stays sketch-only (the point of the scale path)."""
    from pyspark.sql import functions as F

    from rs_query_engine_spark.queries import queries
    from rs_query_engine_spark.sources.corpus import load_table

    approx = {
        r["l_returnflag"]: r
        for r in queries()["agg_approx_percentile"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in load_table(spark, "/root/testdata/sf0.001", "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", 0.5).alias("exact_p50"),
            F.percentile("l_extendedprice", 0.95).alias("exact_p95"),
        )
        .collect()
    }
    assert approx and set(approx) == set(exact)
    for flag, r in approx.items():
        for a, e in [
            (r["approx_p50"], exact[flag]["exact_p50"]),
            (r["approx_p95"], exact[flag]["exact_p95"]),
        ]:
            assert e > 0
            assert abs(a - e) <= 0.01 * e, (flag, a, e)


def test_upsert_latest_semantics(spark):
    from rs_query_engine_spark.operators.setops import upsert_latest

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10), (3, "c", 10)], "k long, v string, ver long"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 20),   # newer version wins
         (3, "c2", 10),   # same version: update side wins the tie
         (4, "d", 5)],    # new key inserted
        "k long, v string, ver long",
    )
    out = {r["k"]: (r["v"], r["ver"]) for r in upsert_latest(
        base, updates, ["k"], "ver").collect()}
    assert out == {1: ("a", 10), 2: ("b2", 20), 3: ("c2", 10), 4: ("d", 5)}


def test_global_sort_order_is_total(spark):
    """The driver's hash compare is order-insensitive, so assert the
    actual global order here: collected rows must be sorted by
    (o_totalprice desc, o_orderkey)."""
    from rs_query_engine_spark.queries import queries

    rows = queries()["sort_global_order"](spark, "/root/testdata/sf0.001").collect()
    assert len(rows) > 100
    keys = [(-r["o_totalprice"], r["o_orderkey"]) for r in rows]
    assert keys == sorted(keys)


def test_quantize_int8_error_bound(spark):
    """Dequantized values must be within scale/2 of the original (the
    defining property of symmetric round-to-nearest quantization), and
    every quantized level must fit int8's [-127, 127]."""
    from rs_query_engine_spark.queries import queries

    rows = queries()["embedding_quantize_int8"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    from rs_query_engine_spark.sources.corpus import load_table

    orig = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, "/root/testdata/sf0.001", "embeddings").collect()
    }
    for r in rows:
        v, scale = orig[r["vec_id"]], r["scale"]
        q = [int(s) for s in r["q"].split(",")]
        assert all(-127 <= qi <= 127 for qi in q)
        for x, qi in zip(v, q):
            assert abs(qi * scale - x) <= scale / 2 + 1e-12


def test_redact_pii_removes_all_patterns(spark):
    """After redaction no email/phone/url survives, and the audit
    count matches the injected PII (3 items per doc)."""
    from rs_query_engine_spark.queries import queries

    rows = queries()["text_redact_pii"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        t = r["clean_text"]
        assert "@" not in t and "+1-555-" not in t and "http://" not in t
        assert "[EMAIL]" in t and "[PHONE]" in t and "[URL]" in t
        assert r["n_pii"] == 3


def test_chunk_spans_empty_and_single_token_text(spark):
    """The span machinery must emit exactly one (possibly empty) span
    for degenerate docs — never zero rows (which would silently drop
    the doc from reassembly) and never a crash on empty token arrays."""
    from rs_query_engine_spark.functions.text import chunk_spans

    df = _docs(spark, [(1, ""), (2, "one"), (3, "  ")])
    out = (
        df.select("doc_id", F.explode(chunk_spans(F.col("text"), 20, 20)).alias("c"))
        .groupBy("doc_id")
        .count()
        .collect()
    )
    assert {r["doc_id"]: r["count"] for r in out} == {1: 1, 2: 1, 3: 1}


def test_quality_pipeline_reasons_on_degenerate_docs(spark):
    """Degenerate docs must flow through the gate with reason codes,
    not NaNs/errors: a one-word doc is short + lowstop but its ratios
    stay finite (division by token count, never by zero — zero-token
    docs are filtered before the ratios)."""
    import math

    from rs_query_engine_spark import queries as q

    rows = [r for r in q.text_quality_pipeline(spark, "/root/testdata/sf0.001").collect()]
    assert rows
    for r in rows:
        assert math.isfinite(r["stop_ratio"]) and math.isfinite(r["distinct_ratio"])


def test_domain_mixture_rates_bounded(spark):
    """Every resampling rate must be in (0, 1] — a rate above 1 would
    mean upsampling (not supported by a keep-filter), a rate of 0
    would silently drop a whole domain."""
    from rs_query_engine_spark import queries as q

    rates = {
        r["source"]: r["rate"]
        for r in q.text_domain_mixture(spark, "/root/testdata/sf0.001")
        .select("source", "rate")
        .distinct()
        .collect()
    }
    assert rates and all(0.0 < v <= 1.0 for v in rates.values())


def test_hll_sketch_merge_error_bound(spark):
    """The merged-sketch estimate must be within 5% of the true
    per-source distinct count (HLL lgK=12 typical error ~1.6%). The
    registry query reports this bound as the ``est_ok`` boolean (the
    hashable form); this test re-derives the RAW estimate and gates
    its value so a sketch regression can't hide behind the boolean."""
    from rs_query_engine_spark.queries import queries
    from rs_query_engine_spark.sources.corpus import load_table

    import pyspark.sql.functions as F

    rows = queries()["agg_hll_sketch_merge"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert all(r["est_ok"] for r in rows)
    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    est = {
        r["source"]: r["est"]
        for r in d.groupBy("source", "lang")
        .agg(F.expr("hll_sketch_agg(md5(text))").alias("sk"))
        .groupBy("source")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"))
        .collect()
    }
    truth = {
        r["source"]: r["nd"]
        for r in d.groupBy("source")
        .agg(F.count_distinct(F.md5("text")).alias("nd"))
        .collect()
    }
    for src, t in truth.items():
        assert abs(est[src] - t) <= max(1, 0.05 * t), (src, est[src], t)
    # the exact merge-structure columns agree with truth
    for r in rows:
        assert r["exact_docs"] == truth[r["source"]]
