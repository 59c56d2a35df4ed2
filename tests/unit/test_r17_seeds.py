"""Micro-fixture semantics pins for the round-17 dormant queries (oracle parity
runs on the driver corpus; these pin the conventions on corpora where
the expected answer is computable by eye)."""

from __future__ import annotations

from rs_query_engine_spark.queries import dormant_queries

_DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def _docs(spark, tmp_path, rows):
    spark.createDataFrame(rows, _DOC_SCHEMA).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_weighted_median_follows_the_mass_not_the_count(spark, tmp_path):
    # s1: four 1-char docs + one 6-char giant -> the giant holds the
    # median CHARACTER (count median would say 1); s2: [2, 2] -> the
    # FIRST row crosses 2*cum >= total (lower-median convention).
    rows = [
        (1, "x", "en", "s1", 1),
        (2, "x", "en", "s1", 1),
        (3, "x", "en", "s1", 1),
        (4, "x", "en", "s1", 1),
        (5, "x", "en", "s1", 6),
        (6, "x", "en", "s2", 2),
        (7, "x", "en", "s2", 2),
    ]
    sf = _docs(spark, tmp_path, rows)
    got = {
        r["source"]: (
            r["n_docs"],
            r["total_chars"],
            r["median_chars"],
            r["median_doc"],
        )
        for r in dormant_queries()["agg_weighted_median_exact"](
            spark, sf
        ).collect()
    }
    assert got == {"s1": (5, 10, 6, 5), "s2": (2, 4, 2, 6)}


def test_systematic_pps_hits_telescope_to_exactly_k(spark, tmp_path):
    # one source, mass 1000, K=500 -> stride 2 chars: the 10-char docs
    # get 5 hits each, the 980-char giant absorbs the remaining 490 —
    # multiplicity, never a silent cap; Sigma hits == K exactly.
    rows = [
        (1, "x", "en", "s1", 10),
        (2, "x", "en", "s1", 10),
        (3, "x", "en", "s1", 980),
    ]
    sf = _docs(spark, tmp_path, rows)
    got = {
        r["doc_id"]: r["n_hits"]
        for r in dormant_queries()["sample_systematic_pps"](spark, sf).collect()
    }
    assert got == {1: 5, 2: 5, 3: 490}
    assert sum(got.values()) == 500


def test_systematic_pps_budgets_split_by_hamilton(spark, tmp_path):
    # masses 600/400 -> exact budgets 300/200 with no remainder step
    rows = [
        (1, "x", "en", "s1", 600),
        (2, "x", "en", "s2", 400),
    ]
    sf = _docs(spark, tmp_path, rows)
    got = {
        r["source"]: r["n_hits"]
        for r in dormant_queries()["sample_systematic_pps"](spark, sf).collect()
    }
    assert got == {"s1": 300, "s2": 200}


def test_funnel_latency_rank_selection(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )

    def ev(eid, sec, user, typ):
        return (eid, t0 + dt.timedelta(seconds=sec), user, typ, 1.0, "{}")

    rows = [
        ev(1, 0, 1, "view"), ev(2, 100, 1, "purchase"),
        ev(3, 0, 2, "view"), ev(4, 200, 2, "purchase"),
        ev(5, 0, 3, "view"), ev(6, 400, 3, "purchase"),
        ev(7, 0, 4, "view"),                      # never converts
        ev(8, 0, 5, "purchase"), ev(9, 10, 5, "view"),  # wrong order
    ]
    spark.createDataFrame(rows, ev_schema).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "events.parquet"))
    [r] = dormant_queries()["events_funnel_latency"](
        spark, str(tmp_path)
    ).collect()
    # gaps 100/200/400s: lower median rn=2 -> 200s, p90 rn=3 -> 400s
    assert tuple(r) == (
        3, 100_000_000, 200_000_000, 400_000_000, 400_000_000
    )
