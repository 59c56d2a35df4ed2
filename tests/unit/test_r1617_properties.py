"""Property-based cross-validation for the round-16 queries
(hypothesis): randomized mini-corpora written as parquet, the query
run against them, and the result checked against an independent
pure-Python brute-force reference — the same discipline as
``test_properties.py`` / ``test_staged_properties.py``, extended to
the sf_dir-shaped query surface. These pin the ALGORITHM (sweep-line,
interval union, dominance, rank-weighted Gini, time weighting) on
inputs the fixed driver corpus never produces — adversarial ties,
giant rows, single-row groups."""

from __future__ import annotations

import atexit
import datetime as dt
import itertools
import shutil
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rs_query_engine_spark.queries import queries

_T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
_WIN_S = 1800  # the 30-min activity window shared by the r16 seeds

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_counter = itertools.count()

# one reaped base dir for every generated mini-corpus: hypothesis
# drives _sf 8 examples × 5 tests per run, and per-example mkdtemp
# with no cleanup leaked the dirs across runs (ADVICE r14)
_PROP_BASE = tempfile.mkdtemp(prefix="rsqes_prop_base_")
atexit.register(shutil.rmtree, _PROP_BASE, True)


def _sf(spark, name, rows, schema):
    d = tempfile.mkdtemp(
        prefix=f"rsqes_prop_{next(_counter)}_", dir=_PROP_BASE
    )
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        f"{d}/{name}.parquet"
    )
    return d


_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)
_DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

# events: one type/user, small second offsets with deliberate ties
ev_times = st.lists(
    st.integers(0, 5000), min_size=1, max_size=12
)


@settings(**_SETTINGS)
@given(times=ev_times)
def test_concurrency_peak_matches_bruteforce(spark, times):
    rows = [
        (i, _T0 + dt.timedelta(seconds=s), 1, "a", 1.0, "{}")
        for i, s in enumerate(times)
    ]
    sf = _sf(spark, "events", rows, _EV_SCHEMA)
    [r] = queries()["events_concurrency_peak"](spark, sf).collect()
    # peak of a union of half-open [s, s+W) intervals occurs at some
    # interval start: count covers there
    peak = max(
        sum(1 for s2 in times if s2 <= s < s2 + _WIN_S) for s in times
    )
    assert r["n_intervals"] == len(times)
    assert r["peak_concurrent"] == peak


@settings(**_SETTINGS)
@given(times=ev_times)
def test_interval_coverage_matches_bruteforce(spark, times):
    rows = [
        (i, _T0 + dt.timedelta(seconds=s), 7, "a", 1.0, "{}")
        for i, s in enumerate(times)
    ]
    sf = _sf(spark, "events", rows, _EV_SCHEMA)
    [r] = queries()["events_interval_coverage"](spark, sf).collect()
    # merge [s, s+W) in sorted order
    islands = []
    for s in sorted(times):
        e = s + _WIN_S
        if islands and s <= islands[-1][1]:
            islands[-1][1] = max(islands[-1][1], e)
        else:
            islands.append([s, e])
    assert r["n_islands"] == len(islands)
    assert r["coverage_us"] == sum(e - s for s, e in islands) * 1_000_000


doc_points = st.lists(
    st.tuples(st.integers(1, 25), st.integers(1, 8)),
    min_size=1,
    max_size=14,
)


@settings(**_SETTINGS)
@given(pts=doc_points)
def test_pareto_frontier_matches_bruteforce(spark, pts):
    # vocab is derived from the text: v distinct tokens exactly
    rows = [
        (i, " ".join(f"w{j}" for j in range(v)), "en", "s", x)
        for i, (x, v) in enumerate(pts)
    ]
    sf = _sf(spark, "documents", rows, _DOC_SCHEMA)
    got = sorted(
        tuple(r)
        for r in queries()["quality_pareto_frontier"](
            spark, sf
        ).collect()
    )
    best: dict[int, int] = {}
    n_at: dict[int, int] = {}
    for x, v in pts:
        best[x] = max(best.get(x, 0), v)
        n_at[x] = n_at.get(x, 0) + 1
    expect = []
    run = -1
    for x in sorted(best):
        if best[x] > run:
            expect.append((x, best[x], n_at[x]))
        run = max(run, best[x])
    assert got == sorted(expect)


weights = st.lists(st.integers(1, 50), min_size=1, max_size=14)


@settings(**_SETTINGS)
@given(ws=weights)
def test_gini_matches_exact_formula(spark, ws):
    rows = [(i, "x", "en", "s", w) for i, w in enumerate(ws)]
    sf = _sf(spark, "documents", rows, _DOC_SCHEMA)
    [r] = queries()["quality_gini_concentration"](spark, sf).collect()
    xs = sorted(ws)
    n, s0 = len(xs), sum(xs)
    s1 = sum(i * x for i, x in enumerate(xs, start=1))
    assert r["gini"] == (2 * s1 - (n + 1) * s0) / (n * s0)


ev_vals = st.lists(
    st.tuples(st.integers(0, 5000), st.integers(0, 500)),
    min_size=2,
    max_size=12,
    unique_by=lambda t: t[0],  # distinct event times: dt>0 segments
)


@settings(**_SETTINGS)
@given(evs=ev_vals)
def test_twap_matches_bruteforce(spark, evs):
    # integer-valued doubles make the double->decimal cast exact, so
    # the Python reference needs no decimal-rounding emulation
    rows = [
        (i, _T0 + dt.timedelta(seconds=s), 1, "a", float(v), "{}")
        for i, (s, v) in enumerate(evs)
    ]
    sf = _sf(spark, "events", rows, _EV_SCHEMA)
    [r] = queries()["events_time_weighted_avg"](spark, sf).collect()
    seq = sorted(evs)
    num = sum(
        v * (seq[i + 1][0] - s) * 1_000_000
        for i, (s, v) in enumerate(seq[:-1])
    )
    dur = (seq[-1][0] - seq[0][0]) * 1_000_000
    assert r["n_segments"] == len(seq) - 1
    assert r["duration_us"] == dur
    assert r["twap"] == float(num) / float(dur)
