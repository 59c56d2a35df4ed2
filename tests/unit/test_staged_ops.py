"""Semantic + plan-shape tests for the ``queries_staged`` operators.

Value-level parity is covered by ``tests/oracle/test_oracle_parity.py``;
these tests pin the properties the oracle compare can NOT express —
split disjointness, sketch one-sidedness and mergeability, Z-order
locality vs a naive layout, nucleus mass coverage — and the physical
plan shapes whose survival at 100 TB is each operator's point.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rs_query_engine_spark import queries_staged as staged
from rs_query_engine_spark.queries import oracle_sql
from rs_query_engine_spark.plans.explain import explain_str

SF_DIR = "/root/testdata/sf0.001"


# --- registration ------------------------------------------------------


def test_staged_activation_is_import_order_safe_and_lazy():
    # a query module imported FIRST (it imports queries.py for its
    # helpers) must leave the registry whole
    import subprocess
    import sys

    code = (
        "import rs_query_engine_spark.queries_staged as s\n"
        "import rs_query_engine_spark.queries as q\n"
        "live = q.queries()\n"
        "assert live['sample_split_assign'] is s.sample_split_assign\n"
        "assert 'sample_split_assign' in q.oracle_sql()\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True)


def test_staged_flag_consistent_with_registry():
    # queries_staged is in queries._QUERY_MODULES, so queries() serves
    # its queries
    from rs_query_engine_spark import queries as registry

    assert "queries_staged" in registry._QUERY_MODULES
    assert registry.queries()["sample_split_assign"] is staged.sample_split_assign


# --- sample_split_assign ------------------------------------------------


def test_split_assign_disjoint_and_covering(spark):
    res = staged.sample_split_assign(spark, SF_DIR)
    total = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    per = {r["split"]: r["n"] for r in res.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    # one split per doc: partition, not sample
    assert sum(per.values()) == total
    assert res.select("doc_id").distinct().count() == total
    # 90/5/5 targets within hash-bucket tolerance
    assert per["train"] > per["val"] and per["train"] > per["test"]
    assert set(per) == {"train", "val", "test"}


def test_split_assign_is_map_only(spark):
    plan = explain_str(staged.sample_split_assign(spark, SF_DIR))
    assert "Exchange" not in plan  # pure scan projection — no shuffle


def test_split_assign_stable_under_corpus_growth(spark):
    # a doc's split must not depend on which other docs are present:
    # recompute on a filtered half-corpus and compare assignments
    full = {
        r["doc_id"]: r["split"]
        for r in staged.sample_split_assign(spark, SF_DIR).collect()
    }
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % 2 == 0
    )
    from rs_query_engine_spark.operators.sorts import _hash_pct

    b = _hash_pct(F.col("doc_id"))
    split = (
        F.when(b < 90, F.lit("train"))
        .when(b < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    half = {
        r["doc_id"]: r["split"]
        for r in d.select("doc_id", split.alias("split")).collect()
    }
    assert all(full[k] == v for k, v in half.items())


# --- sample_topp_nucleus ------------------------------------------------


def test_topp_nucleus_covers_target_mass(spark):
    kept = staged.sample_topp_nucleus(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    totals = {
        r["source"]: r["m"]
        for r in docs.groupBy("source").agg(F.sum("n_chars").alias("m")).collect()
    }
    kept_mass = {
        r["source"]: r["m"]
        for r in kept.groupBy("source").agg(F.sum("n_chars").alias("m")).collect()
    }
    for src, tot in totals.items():
        # nucleus semantics: kept mass reaches the 80% target, and
        # removing the LAST kept doc (the threshold-crosser) drops
        # below it — i.e. the prefix is minimal
        assert kept_mass[src] * 100 >= 80 * tot
    # minimality via the query's own cum_mass: every kept doc's
    # PREDECESSOR mass is strictly below the target
    rows = kept.select("source", "n_chars", "cum_mass").collect()
    assert all(
        (r["cum_mass"] - r["n_chars"]) * 100 < 80 * totals[r["source"]]
        for r in rows
    )


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_topp_nucleus_single_window_exchange(spark):
    plan = _physical(staged.sample_topp_nucleus(spark, SF_DIR))
    # both frames (running + total) share one partition/order spec →
    # one Window operator over one hashpartitioning exchange
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


# --- text_quality_calibrate --------------------------------------------


def test_quality_calibrate_percentiles_well_formed(spark):
    rows = staged.text_quality_calibrate(spark, SF_DIR).collect()
    assert all(0.0 <= r["pctl"] <= 1.0 for r in rows)
    assert all(0 <= r["decile"] <= 9 for r in rows)
    # per source: exactly one pctl==0 (the unique minimum under the
    # doc_id tiebreak) and one pctl==1
    from collections import Counter

    lo = Counter(r["source"] for r in rows if r["pctl"] == 0.0)
    hi = Counter(r["source"] for r in rows if r["pctl"] == 1.0)
    srcs = {r["source"] for r in rows}
    assert all(lo[s] == 1 and hi[s] == 1 for s in srcs)


def test_quality_calibrate_single_window_exchange(spark):
    plan = _physical(staged.text_quality_calibrate(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan


# --- text_dsir_weights --------------------------------------------------


def test_dsir_weights_bounds_and_target_ordering(spark):
    res = staged.text_dsir_weights(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang"
    )
    rows = res.join(docs, "doc_id").collect()
    assert all(0.0 <= r["weight"] <= 1.0 for r in rows)
    assert all(r["tgt_mass"] <= r["all_mass"] for r in rows)
    # the signal exists: English docs score higher on average than
    # non-English (their vocabulary concentrates in target buckets)
    en = [r["weight"] for r in rows if r["lang"] == "en"]
    rest = [r["weight"] for r in rows if r["lang"] != "en"]
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_dsir_feature_table_is_broadcast(spark):
    plan = explain_str(staged.text_dsir_weights(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # ≤1024-row stats side
    assert "CartesianProduct" not in plan


# --- agg_countmin_heavy -------------------------------------------------


def test_countmin_overestimates_never_under(spark):
    rows = staged.agg_countmin_heavy(spark, SF_DIR).collect()
    assert rows, "heavy-hitter set must be non-empty on the corpus"
    assert all(r["overcount"] >= 0 for r in rows)
    assert all(r["cm_est"] >= r["exact_n"] for r in rows)


def test_countmin_sketch_merges_cellwise(spark):
    # sketch(A ∪ B) == cellwise-merge(sketch(A), sketch(B)) — the
    # property that lets per-partition/day sketches roll up without
    # re-scanning raw data
    from rs_query_engine_spark.functions.text import tokens
    from rs_query_engine_spark.operators.sketches import countmin_sketch

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    whole = countmin_sketch(tok.select("t"), "t")
    a = countmin_sketch(tok.filter(F.col("doc_id") % 2 == 0).select("t"), "t")
    b = countmin_sketch(tok.filter(F.col("doc_id") % 2 == 1).select("t"), "t")
    merged = (
        a.unionByName(b)
        .groupBy("row", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_countmin_probe_join_is_broadcast(spark):
    plan = explain_str(staged.agg_countmin_heavy(spark, SF_DIR))
    # the ≤192-cell grid and the 1-row total are broadcast; nothing
    # shuffles proportional to corpus size except the token aggregates
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# --- layout_zorder_cluster ----------------------------------------------


def test_zorder_key_interleaves_bits(spark):
    from rs_query_engine_spark.operators.layout import zorder_key

    df = spark.range(1).select(
        zorder_key(F.lit(0b1010), F.lit(0b0110), bits=4).alias("z")
    )
    # x=1010, y=0110 → z bits (y3 x3 y2 x2 y1 x1 y0 x0) = 0b01101100
    assert df.collect()[0]["z"] == 0b01101100


def test_zorder_bounds_both_dimension_spans(spark):
    rows = staged.layout_zorder_cluster(spark, SF_DIR).collect()
    # 8-bit keys, 256 files ⇒ each file covers a 16×16 tile: both
    # dimension spans are bounded by 16 in EVERY file — the property
    # that makes min/max pruning work on either column (a sorted
    # layout bounds one dimension and leaves the other full-range)
    assert all(r["max_x"] - r["min_x"] <= 15 for r in rows)
    assert all(r["max_y"] - r["min_y"] <= 15 for r in rows)


def test_zorder_stats_plan_is_scan_plus_one_agg(spark):
    df = staged.layout_zorder_cluster(spark, SF_DIR)
    plan = _physical(df)
    # map-only bit math + one partial/final hash aggregate pair; the
    # only exchange is the 256-group aggregation shuffle
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan and "partial_max" in plan
    assert "Sort" not in plan.replace("SortMergeJoin", "")


# --- join_asof_nearest --------------------------------------------------


def test_asof_nearest_matches_bruteforce_argmin(spark):
    # semantics oracle: pair-explode all (purchase, error) pairs per
    # user, argmin |Δt| within tolerance with backward preference —
    # the O(n·m) definition the windowed operator must reproduce
    res = {
        r["event_id"]: (r["p_event_id"], r["matched_side"], r["dist_us"])
        for r in staged.join_asof_nearest(spark, SF_DIR).collect()
    }
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    e = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("e_ts")
    )
    p = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("p_event_id"))
    )
    import collections

    by_user = collections.defaultdict(list)
    for r in p.collect():
        by_user[r["user_id"]].append((r["p_ts"], r["p_event_id"]))
    tol = 3_600_000_000
    for r in e.collect():
        best = None
        for p_ts, p_eid in by_user.get(r["user_id"], []):
            d_us = int((r["e_ts"] - p_ts).total_seconds() * 1_000_000)
            side = "b" if d_us >= 0 else "f"
            dist = abs(d_us)
            if dist > tol:
                continue
            # nearest; tie prefers backward
            key = (dist, 0 if side == "b" else 1)
            if best is None or key < best[0]:
                best = (key, p_eid, side, dist)
        got = res[r["event_id"]]
        want = (best[1], best[2], best[3]) if best else (None, None, None)
        assert got == want, f"event {r['event_id']}: {got} != {want}"


def test_asof_nearest_single_exchange(spark):
    # operator in isolation: union + ONE key-partitioned exchange;
    # both direction frames resolve in window passes over it — never
    # a join, never a pair explosion
    from rs_query_engine_spark.operators.joins import asof_join_nearest

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    left = ev.select("event_id", "user_id", F.col("ts").cast("timestamp"))
    right = ev.select(
        "user_id",
        F.col("ts").cast("timestamp").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    out = asof_join_nearest(
        left, right, by=["user_id"], left_ts="ts", right_ts="r_ts",
        tolerance_us=60_000_000,
    )
    plan = _physical(out)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan
    # the full query adds exactly one more exchange: the right-side
    # per-(key, ts) dedup groupBy
    full = _physical(staged.join_asof_nearest(spark, SF_DIR))
    assert full.count("Exchange hashpartitioning") == 2
    assert "Join" not in full and "CartesianProduct" not in full


# --- events_sequence_pattern ---------------------------------------------


def test_sequence_pattern_consistency(spark):
    rows = staged.events_sequence_pattern(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    assert len(rows) == n_users
    for r in rows:
        # a positive pattern match implies at least one purchase
        if r["signup_then_purchase"]:
            assert r["n_purchases"] >= 1
    # spot-check one user against a hand-built sequence
    uid = rows[0]["user_id"]
    seq = ",".join(
        x["event_type"]
        for x in sorted(
            ev.filter(F.col("user_id") == uid).collect(),
            key=lambda x: (x["ts"], x["event_id"]),
        )
    )
    import re

    want = bool(re.search(r"(^|,)signup(,[^,]+)*,purchase(,|$)", seq))
    got = [r for r in rows if r["user_id"] == uid][0]["signup_then_purchase"]
    assert got == want
    assert [r for r in rows if r["user_id"] == uid][0][
        "n_purchases"
    ] == seq.split(",").count("purchase")


# --- agg_itemset_pairs ---------------------------------------------------


def test_itemset_pairs_rule_invariants(spark):
    rows = staged.agg_itemset_pairs(spark, SF_DIR).collect()
    assert rows, "support threshold must keep some pairs on this corpus"
    for r in rows:
        assert r["part_a"] < r["part_b"]
        assert r["support"] >= 3
        assert r["support"] <= min(r["n_a"], r["n_b"])
        assert 0.0 < r["confidence"] <= 1.0
        assert r["lift"] > 0.0


def test_itemset_pairs_no_corpus_self_join(spark):
    df = staged.agg_itemset_pairs(spark, SF_DIR)
    # the item-count side is deliberately NOT force-broadcast (it
    # grows with the catalog); at this size AQE must still pick
    # broadcast at runtime — assert on the executed adaptive plan
    df.collect()
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- dedup_minhash_estimate ----------------------------------------------


def test_minhash_estimate_identities(spark):
    rows = staged.dedup_minhash_estimate(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["jaccard"] <= 1.0
        assert 0.0 <= r["est_jaccard"] <= 1.0
        # estimate is a multiple of 1/16 and err is the exact residual
        assert abs(r["est_jaccard"] * 16 - round(r["est_jaccard"] * 16)) == 0
        assert r["err"] == r["est_jaccard"] - r["jaccard"]
    # the sketch is informative on this corpus: mean absolute error
    # well under the k=16 standard deviation bound (~0.125)
    mae = sum(abs(r["err"]) for r in rows) / len(rows)
    assert mae < 0.25


# --- graph_triangle_count ------------------------------------------------


def test_triangle_count_matches_bruteforce(spark):
    from rs_query_engine_spark.operators.dedup import minhash_lsh_pairs

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    edges = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(d, "doc_id", "text").collect()
    }
    import collections

    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = collections.Counter()
    for a, b in edges:
        for c in adj[a] & adj[b]:
            if b < c:  # (a<b by construction) count each triangle once
                for n in (a, b, c):
                    want[n] += 1
    rows = staged.graph_triangle_count(spark, SF_DIR).collect()
    got = {r["node"]: r["n_tri"] for r in rows}
    assert {n for n, t in got.items() if t} == set(want)
    assert all(got[n] == t for n, t in want.items())
    for r in rows:
        assert r["deg"] >= 1
        if r["clustering_coeff"] is not None:
            assert 0.0 <= r["clustering_coeff"] <= 1.0
        else:
            assert r["deg"] == 1


def test_triangle_plan_no_cartesian(spark):
    plan = _physical(staged.graph_triangle_count(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- sample_importance_resample -----------------------------------------


def test_importance_resample_is_weight_consistent(spark):
    weights = {
        r["doc_id"]: r["weight"]
        for r in staged.text_dsir_weights(spark, SF_DIR).collect()
    }
    kept = staged.sample_importance_resample(spark, SF_DIR).collect()
    assert kept
    import hashlib

    for r in kept:
        assert weights[r["doc_id"]] == r["weight"]
        u = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16) % 1_000_000
        assert u < r["weight"] * 1_000_000.0  # the keep rule, replayed
    # roughly weight-proportional: kept fraction within a loose band of
    # the mean weight (hash buckets are uniform)
    frac = len(kept) / len(weights)
    mean_w = sum(weights.values()) / len(weights)
    assert abs(frac - mean_w) < 0.15


# --- sql_entry_window ----------------------------------------------------


def test_sql_entry_window_topk_shape(spark):
    rows = staged.sql_entry_window(spark, SF_DIR).collect()
    import collections

    per = collections.Counter(r["o_custkey"] for r in rows)
    assert max(per.values()) <= 3
    assert all(1 <= r["rn"] <= 3 for r in rows)
    df = staged.sql_entry_window(spark, SF_DIR)
    plan = _physical(df)
    # both window functions share the o_custkey partitioning
    assert plan.count("Exchange hashpartitioning") == 1


# --- similarity_matryoshka_recall ---------------------------------------


def test_matryoshka_recall_well_formed_and_self_match(spark):
    rows = staged.similarity_matryoshka_recall(spark, SF_DIR).collect()
    n_queries = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") % 100 == 0)
        .count()
    )
    assert len(rows) == n_queries
    for r in rows:
        assert 0 <= r["n_common"] <= 10
        assert r["recall"] == r["n_common"] / 10.0
        # the query itself has cosine 1.0 under BOTH dims, so top-10
        # sets always share at least the self-match
        assert r["n_common"] >= 1


def test_matryoshka_full_dim_side_is_exact_topk(spark):
    # the 64-dim side must equal the registered exact brute-force
    # baseline's id set (same machinery, so a drift means a bug)
    from rs_query_engine_spark import queries as registry

    base = {
        (r["query_id"], r["vec_id"])
        for r in registry.queries()["similarity_bruteforce_topk"](
            spark, SF_DIR
        ).collect()
    }
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from rs_query_engine_spark.operators.similarity import brute_force_topk

    c = e.select("vec_id", F.slice("embedding", 1, 64).alias("embedding"))
    q = c.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    t64 = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(c, q, 10).collect()
    }
    assert t64 == base


# --- events_markov_transitions -------------------------------------------


def test_markov_transitions_rows_normalize(spark):
    rows = staged.events_markov_transitions(spark, SF_DIR).collect()
    import collections

    by_prev = collections.defaultdict(list)
    for r in rows:
        assert r["n"] >= 1
        assert 0.0 < r["prob"] <= 1.0
        by_prev[r["prev_type"]].append(r)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    # every non-first event contributes exactly one transition
    assert sum(r["n"] for r in rows) == n_events - n_users
    for prev, rs in by_prev.items():
        assert abs(sum(r["prob"] for r in rs) - 1.0) < 1e-12


# --- text_langid_confusion ----------------------------------------------


def test_langid_confusion_is_a_partition_of_the_corpus(spark):
    rows = staged.text_langid_confusion(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert sum(r["n"] for r in rows) == docs.count()
    import collections

    frac_sum = collections.Counter()
    for r in rows:
        frac_sum[r["lang"]] += r["frac"]
    assert all(abs(s - 1.0) < 1e-12 for s in frac_sum.values())


# --- text_tokenizer_fertility -------------------------------------------


def test_tokenizer_fertility_totals(spark):
    rows = staged.text_tokenizer_fertility(spark, SF_DIR).collect()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    langs = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert {r["lang"] for r in rows} == langs
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert r["n_words"] > 0 and r["n_bpe"] > 0
        assert r["fertility"] == r["n_bpe"] / r["n_words"]


# --- events_resample_interp ---------------------------------------------


def test_resample_interp_values_bounded_and_exact_on_events(spark):
    rows = staged.events_resample_interp(spark, SF_DIR).collect()
    assert rows
    ev = {
        (r["user_id"], r["ts"]): r["value"]
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("value"))
        .collect()
    }
    n_interior = 0
    for r in rows:
        if r["v_interp"] is None:
            # only leading grid points (before the first event) are null
            assert r["prev_ts"] is None
            continue
        if (r["user_id"], r["grid_ts"]) in ev:
            # grid point ON an event takes the event value exactly
            assert r["v_interp"] == ev[(r["user_id"], r["grid_ts"])]
        else:
            lo = ev[(r["user_id"], r["prev_ts"])]
            hi = ev[(r["user_id"], r["next_ts"])]
            assert min(lo, hi) - 1e-9 <= r["v_interp"] <= max(lo, hi) + 1e-9
            n_interior += 1
    assert n_interior > 0


def test_resample_interp_hour_aligned_events_match_oracle(spark, tmp_path):
    # regression: an event at EXACTLY a grid timestamp must be seen by
    # BOTH direction frames (DuckDB ASOF is inclusive both ways); the
    # single-copy union excluded it from the forward frame, diverging
    # on next_ts for interior on-grid events and returning NULL at the
    # trailing boundary. The corpus has no hour-aligned events, so pin
    # the case synthetically.
    import datetime

    import duckdb

    rows = [
        (1, datetime.datetime(2024, 1, 1, 10, 30), 7, "view", 1.0, "{}"),
        (2, datetime.datetime(2024, 1, 1, 12, 0), 7, "view", 5.0, "{}"),
        (3, datetime.datetime(2024, 1, 1, 14, 0), 7, "view", 9.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    got = sorted(
        (r["user_id"], r["grid_ts"], r["prev_ts"], r["next_ts"], r["v_interp"])
        for r in staged.events_resample_interp(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    want = sorted(
        (u, g.replace(tzinfo=None), p and p.replace(tzinfo=None),
         n and n.replace(tzinfo=None), v)
        for u, g, p, n, v in con.execute(
            oracle_sql()["events_resample_interp"]
        ).fetchall()
    )
    assert got == want
    by_grid = {g: (p, n, v) for _, g, p, n, v in got}
    noon = datetime.datetime(2024, 1, 1, 12, 0)
    two = datetime.datetime(2024, 1, 1, 14, 0)
    # interior on-grid event: takes the event value, next_ts == itself
    assert by_grid[noon] == (noon, noon, 5.0)
    # trailing on-grid event (== max ts): value, not NULL
    assert by_grid[two] == (two, two, 9.0)


def test_resample_interp_grid_rows_never_sorted_or_shuffled(spark):
    # round-6 segment rewrite: interior grid points are generated
    # map-only from each event segment (sequence explode AFTER the
    # event-level lag window + broadcast anchor join) — grid rows
    # must never enter a sort/shuffle, and the only join is the
    # broadcast of the 1-row-per-user grid anchor
    plan = _physical(staged.events_resample_interp(spark, SF_DIR))
    # the event-level lag window + broadcast anchor join ran once at
    # checkpoint time; everything downstream of the checkpoint scans
    # is map-only: Generate (the sequence explode) + Project + Union,
    # with NO exchange, sort, or join touching a single grid row
    assert "Generate explode(sequence" in plan
    assert "Exchange" not in plan
    assert "Sort" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


# --- graph_hierarchy_rollup ----------------------------------------------


def test_hierarchy_rollup_invariants(spark):
    rows = {r["doc_id"]: r for r in staged.graph_hierarchy_rollup(spark, SF_DIR).collect()}
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }
    assert set(rows) == set(docs)
    # root subtree covers the whole corpus
    assert rows[0]["depth"] == 0
    assert rows[0]["subtree_docs"] == len(docs)
    assert rows[0]["subtree_chars"] == sum(docs.values())
    # python reference rollup over the heap tree
    import collections

    sub_docs = collections.Counter()
    sub_chars = collections.Counter()
    for d, ch in docs.items():
        h = d + 1
        while h >= 1:
            sub_docs[h] += 1
            sub_chars[h] += ch
            if h == 1:
                break
            h >>= 1
    for d, r in rows.items():
        h = d + 1
        assert r["subtree_docs"] == sub_docs[h]
        assert r["subtree_chars"] == sub_chars[h]
        assert r["depth"] == h.bit_length() - 1


# --- remaining plan shapes ----------------------------------------------


def test_markov_transitions_matrix_state_is_bounded(spark):
    plan = _physical(staged.events_markov_transitions(spark, SF_DIR))
    # lag window on user_id, matrix aggregation with map-side partials,
    # broadcast row totals — never a sort-merge join on the matrix
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hierarchy_rollup_single_rollup_shuffle(spark):
    plan = _physical(staged.graph_hierarchy_rollup(spark, SF_DIR))
    # ancestor explosion is map-side; the rollup is one partial/final
    # hash aggregate; no recursion, no cartesian
    assert "partial_sum" in plan and "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_stream_static_dim_join_is_broadcast(spark):
    # inspect the BATCH twin of the streaming plan (streaming physical
    # plans aren't exposed pre-start): same join, static side broadcast
    from rs_query_engine_spark.sources.corpus import load_table

    ev = load_table(spark, SF_DIR, "events")
    dim = load_table(spark, SF_DIR, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("_nk"), "n_name"
    )
    df = ev.withColumn("_nk", F.col("user_id") % 25).join(
        F.broadcast(dim), "_nk"
    )
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# --- stream_static_enrich ----------------------------------------------


def test_stream_static_enrich_matches_batch(spark):
    from rs_query_engine_spark.sources.corpus import load_table

    res = staged.stream_static_enrich(spark, SF_DIR)
    ev = load_table(spark, SF_DIR, "events")
    dim = load_table(spark, SF_DIR, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("_nk"), "n_name"
    )
    batch = (
        ev.withColumn("_nk", F.col("user_id") % 25)
        .join(dim, "_nk")
        .groupBy("n_name")
        .agg(
            F.count("event_id").alias("n_events"),
            F.sum(F.col("value").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    assert sorted(map(tuple, res.collect())) == sorted(
        map(tuple, batch.collect())
    )
