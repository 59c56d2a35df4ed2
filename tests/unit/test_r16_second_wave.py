"""Micro-fixture semantics pins for the r16 second-wave queries and
``text_contamination_check``.

The oracle parity tests verify these queries against DuckDB on the
driver corpus; these tests pin the SEMANTIC conventions on hand-built
corpora where the expected answer is computable by eye — the
properties that a corpus regeneration could otherwise silently stop
exercising (tie conventions, dominance rules, order independence,
exact formulas)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from rs_query_engine_spark.queries import queries

_T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _write(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(tmp_path / f"{name}.parquet")
    )
    return str(tmp_path)


_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)
_DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)
_ORD_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string,"
    " o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


def _ev(eid, sec, typ, val=1.0, user=1):
    return (eid, _T0 + dt.timedelta(seconds=sec), user, typ, val, "{}")


def test_concurrency_peak_back_to_back_does_not_double_count(
    spark, tmp_path
):
    # type "a": the second interval starts EXACTLY when the first ends
    # (half-open [s, s+1800s)) -> peak must be 1, not 2; type "b": two
    # genuinely overlapping intervals -> peak 2.
    sf = _write(
        spark,
        tmp_path,
        "events",
        [
            _ev(1, 0, "a"),
            _ev(2, 1800, "a"),
            _ev(3, 0, "b"),
            _ev(4, 60, "b"),
        ],
        _EV_SCHEMA,
    )
    got = {
        r["event_type"]: (r["n_intervals"], r["peak_concurrent"])
        for r in queries()["events_concurrency_peak"](spark, sf).collect()
    }
    assert got == {"a": (2, 1), "b": (2, 2)}


def test_twap_weights_by_holding_time(spark, tmp_path):
    # value 10 held 100s, value 20 held 300s, final reading unweighted:
    # TWAP = (10*100 + 20*300) / 400 = 17.5 exactly.
    sf = _write(
        spark,
        tmp_path,
        "events",
        [
            _ev(1, 0, "a", 10.0),
            _ev(2, 100, "a", 20.0),
            _ev(3, 400, "a", 99.0),
        ],
        _EV_SCHEMA,
    )
    [r] = queries()["events_time_weighted_avg"](spark, sf).collect()
    assert r["n_segments"] == 2
    assert r["duration_us"] == 400_000_000
    assert r["twap"] == 17.5


def test_pareto_frontier_dominance_and_strictness(spark, tmp_path):
    # size 10 achieves vocab 3 (best of two docs); size 20/vocab 2 is
    # dominated by the smaller, richer size; size 30/vocab 4 extends
    # the frontier. n_docs counts ALL docs at the size.
    docs = [
        (1, "a b c", "en", "s", 10),
        (2, "a a", "en", "s", 10),
        (3, "a b", "en", "s", 20),
        (4, "a b c d", "en", "s", 30),
    ]
    sf = _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    got = sorted(
        tuple(r)
        for r in queries()["quality_pareto_frontier"](spark, sf).collect()
    )
    assert got == [(10, 3, 2), (30, 4, 1)]


def test_gini_exact_formula(spark, tmp_path):
    # equal lengths -> 0; lengths [1, 3] -> (2*7 - 3*4) / (2*4) = 0.25.
    docs = [
        (1, "x", "en", "s1", 5),
        (2, "x", "en", "s1", 5),
        (3, "x", "en", "s1", 5),
        (4, "x", "en", "s2", 1),
        (5, "x", "en", "s2", 3),
    ]
    sf = _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    got = {
        r["source"]: (r["n_docs"], r["total_chars"], r["gini"])
        for r in queries()["quality_gini_concentration"](
            spark, sf
        ).collect()
    }
    assert got == {"s1": (3, 15, 0.0), "s2": (2, 4, 0.25)}


def test_boolean_search_requires_every_term(spark, tmp_path):
    docs = [
        (1, "vector stream spark vector", "en", "s", 26),
        (2, "vector stream vector stream", "en", "s", 27),  # no spark
        (3, "spark", "en", "s", 5),
    ]
    sf = _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    rows = queries()["text_boolean_search"](spark, sf).collect()
    assert [tuple(r) for r in rows] == [(1, 2, 1, 1)]


def test_path_ngrams_consecutive_only(spark, tmp_path):
    sf = _write(
        spark,
        tmp_path,
        "events",
        [
            _ev(1, 0, "A"),
            _ev(2, 10, "B"),
            _ev(3, 20, "C"),
            _ev(4, 30, "D"),
        ],
        _EV_SCHEMA,
    )
    got = sorted(
        tuple(r)
        for r in queries()["events_path_ngrams"](spark, sf).collect()
    )
    assert got == [("A", "B", "C", 1, 1), ("B", "C", "D", 1, 1)]


_ORD_ROWS = [
    (1, 10, "F", 100.0, _T0, "1-URGENT"),
    (2, 20, "O", 200.0, _T0, "1-URGENT"),
    (3, 30, "F", 300.0, _T0, "2-HIGH"),
]


def test_table_checksum_is_order_and_layout_independent(spark, tmp_path):
    sf_a = _write(
        spark, tmp_path / "a", "orders", _ORD_ROWS, _ORD_SCHEMA
    )
    sf_b = _write(
        spark, tmp_path / "b", "orders", _ORD_ROWS[::-1], _ORD_SCHEMA
    )
    q = queries()["maintenance_table_checksum"]
    a = sorted(tuple(r) for r in q(spark, sf_a).collect())
    b = sorted(tuple(r) for r in q(spark, sf_b).collect())
    assert a == b


def test_table_checksum_detects_a_changed_row(spark, tmp_path):
    mutated = [_ORD_ROWS[0], (2, 21, "O", 200.0, _T0, "1-URGENT"),
               _ORD_ROWS[2]]
    sf_a = _write(
        spark, tmp_path / "a", "orders", _ORD_ROWS, _ORD_SCHEMA
    )
    sf_b = _write(spark, tmp_path / "b", "orders", mutated, _ORD_SCHEMA)
    q = queries()["maintenance_table_checksum"]
    a = {r["o_orderpriority"]: tuple(r) for r in q(spark, sf_a).collect()}
    b = {r["o_orderpriority"]: tuple(r) for r in q(spark, sf_b).collect()}
    assert a["2-HIGH"] == b["2-HIGH"]  # untouched partition agrees
    assert a["1-URGENT"] != b["1-URGENT"]  # changed row flips both sums


def test_file_metadata_audit_reconciles_exact_bytes(spark, tmp_path):
    docs = [
        (7, "x", "en", "s", 1),
        (123, "x", "en", "s", 1),
        (5, "x", "de", "s", 1),
    ]
    sf = _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    got = {
        r["lang"]: (r["n_rows"], r["n_files"], r["file_bytes"])
        for r in queries()["source_file_metadata_audit"](
            spark, sf
        ).collect()
    }
    # en file: "7\n" + "123\n" = 6 bytes; de file: "5\n" = 2 bytes
    assert got == {"en": (2, 1, 6), "de": (1, 1, 2)}


def test_contamination_check_flags_a_near_copy_of_a_benchmark_doc(
    spark, tmp_path
):
    # doc 0 is a benchmark doc (doc_id % 97 == 0) with six distinct
    # 5-grams; doc 1 shares five of them. Doc 97 is an empty benchmark
    # doc: its gram array is empty, which the query drops through the
    # explode rather than a size filter, so it must add no rows.
    import duckdb

    from rs_query_engine_spark.queries import oracle_sql

    bench = "the quick brown fox jumps over the lazy dog today"
    docs = [
        (0, bench, "en", "s", len(bench)),
        (1, bench.replace("today", "again").title(), "en", "s", len(bench)),
        (97, "", "en", "s", 0),
    ]
    sf = _write(spark, tmp_path, "documents", docs, _DOC_SCHEMA)
    got = sorted(
        tuple(r)
        for r in queries()["text_contamination_check"](spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = sorted(con.execute(oracle_sql()["text_contamination_check"]).fetchall())
    assert got == [(1, 0, 5, 5 / 6)]
    assert got == want
