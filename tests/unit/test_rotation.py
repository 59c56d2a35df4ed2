"""Rotation-order guarantees for the driver's 50-row correctness
window (``queries.py:_rotation_order``).

The driver hashes only the first 50 ``queries()`` entries per round,
so the ordering IS the verification-coverage policy:

1. queries with no green driver row front-load (new registrations,
   regressions);
2. queries whose only green row was a rows-only ``no_oracle`` check
   but which NOW have an oracle registered also front-load — the hash
   check has never run for them (VERDICT r05 #2);
3. verified queries follow, oldest-green-first (staleness-aware).
"""

from rs_query_engine_spark import queries as registry


def test_unverified_and_newly_oracled_front_load():
    qs = {n: (lambda s, d: None) for n in ["a", "b", "c", "d"]}
    osql = {"a": "SELECT 1", "c": "SELECT 1", "d": "SELECT 1"}
    saved = (registry._GREEN_ROUND, registry._ROWS_ONLY_GREEN)
    try:
        # a: hash-green r2 → verified
        # b: rows-only green r4, still no oracle → verified (by design)
        # c: rows-only green r3, oracle NOW registered → UNVERIFIED
        # d: no driver row at all → UNVERIFIED
        registry._GREEN_ROUND = {"a": 2, "b": 4, "c": 3}
        registry._ROWS_ONLY_GREEN = {"b", "c"}
        order = registry._rotation_order(qs, osql)
        assert order == ["c", "d", "a", "b"]
    finally:
        registry._GREEN_ROUND, registry._ROWS_ONLY_GREEN = saved


def test_code_changed_round_demotes_stale_green_stamps():
    # a green stamp at or BEFORE the query's recorded rewrite round
    # verifies the old spelling → the query front-loads as unverified;
    # a stamp AFTER the rewrite round re-verifies it (self-expiring).
    qs = {n: (lambda s, d: None) for n in ["p", "q", "r"]}
    saved = (
        registry._GREEN_ROUND,
        registry._ROWS_ONLY_GREEN,
        registry._CODE_CHANGED_ROUND,
    )
    try:
        registry._GREEN_ROUND = {"p": 12, "q": 19, "r": 2}
        registry._ROWS_ONLY_GREEN = set()
        registry._CODE_CHANGED_ROUND = {"p": 18, "q": 18}
        # p: stamp 12 <= rewrite 18 → unverified, front-loads
        # q: stamp 19 > rewrite 18 → verified again
        # r: untouched, stamp 2 → verified, outranks q by staleness
        assert registry._rotation_order(qs, {}) == ["p", "r", "q"]
    finally:
        (
            registry._GREEN_ROUND,
            registry._ROWS_ONLY_GREEN,
            registry._CODE_CHANGED_ROUND,
        ) = saved


def test_r19_window_front_loads_rewritten_queries():
    # the live r19 window must contain every r18-rewritten query (the
    # VERDICT r18 #1 residual) and this round's stream rewrites — the
    # whole point of _CODE_CHANGED_ROUND. Uses live artifacts (rounds
    # ≤ 18 green everywhere), but the assertion is stable: any LATER
    # green row for these names postdates their recorded rewrite
    # rounds only if the driver actually re-verified them, which is
    # exactly when the assertion may relax.
    names = list(registry.queries())[:50]
    for n, rnd in registry._CODE_CHANGED_ROUND.items():
        if registry._GREEN_ROUND.get(n, 0) <= rnd:
            assert n in names, f"{n} (rewritten r{rnd}) missing from window"


def test_verified_ordering_is_oldest_green_first_then_registration():
    qs = {n: (lambda s, d: None) for n in ["x", "y", "z"]}
    saved = (registry._GREEN_ROUND, registry._ROWS_ONLY_GREEN)
    try:
        registry._GREEN_ROUND = {"x": 5, "y": 1, "z": 5}
        registry._ROWS_ONLY_GREEN = set()
        assert registry._rotation_order(qs, {}) == ["y", "x", "z"]
    finally:
        registry._GREEN_ROUND, registry._ROWS_ONLY_GREEN = saved


def _frozen_fixture(max_round: int):
    """(_GREEN_ROUND, _ROWS_ONLY_GREEN) computed from the FROZEN
    artifact set of rounds ≤ max_round. Driver artifacts are
    append-only (a round writes CORRECTNESS_r{N}.json once, never
    rewrites earlier ones), so this is a stable fixture: assertions
    about the round-(max_round+1) window composition stay true no
    matter how many later artifacts land (VERDICT r06 #2 / ADVICE r06
    — the previous live-artifact version of these tests self-expired
    the moment the driver wrote the next round's file)."""
    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = [
        p
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if int(p.rsplit("_r", 1)[1].split(".")[0]) <= max_round
    ]
    assert len(paths) == max_round, f"expected rounds 1..{max_round}, got {paths}"
    return registry._latest_green_rounds(paths)


def test_live_window_is_unverified_first_then_stalest():
    # property that holds for ANY artifact state (never self-expires):
    # the live window is exactly [all unverified] + [verified,
    # oldest-green-first] — i.e. no verified query outranks an
    # unverified one, and verified green-rounds are monotone.
    names = list(registry.queries())
    osql = registry.oracle_sql()
    green = registry._GREEN_ROUND
    rows_only = registry._ROWS_ONLY_GREEN

    def verified(n):
        return (
            n in green
            and not (n in rows_only and n in osql)
            and green[n] > registry._CODE_CHANGED_ROUND.get(n, 0)
        )

    flags = [verified(n) for n in names]
    first_verified = flags.index(True) if True in flags else len(names)
    assert all(flags[first_verified:]), "unverified query after a verified one"
    rounds = [green[n] for n in names[first_verified:]]
    assert rounds == sorted(rounds), "verified tail not oldest-green-first"


def _activation_round(fn) -> int:
    """Round a query went live, read from its module name:
    ``queries_staged_r{N}`` in round N, ``queries_staged`` in round 6,
    ``queries`` itself before any of them."""
    mod = fn.__module__.rsplit(".", 1)[1]
    if mod.startswith("queries_staged_r"):
        return int(mod[len("queries_staged_r"):])
    return 6 if mod == "queries_staged" else 0


def _without_pens_newer_than(qs: dict, fixture_round: int) -> dict:
    """Drop every query that went live AFTER the fixture round, so the
    window matches what that round's correctness check saw (ADVICE r07
    medium — otherwise a newer module front-loads into the frozen
    fixture and evicts the asserted rows)."""
    return {
        n: f for n, f in qs.items() if _activation_round(f) <= fixture_round + 1
    }


def test_round6_window_front_loaded_round6_targets_fixture():
    # round-6 composition, pinned against the FROZEN artifact set of
    # rounds ≤ 5 (what the driver saw entering round 6): the 4 queries
    # that gained oracles in round 5 plus the staged activations had to
    # sit inside the first 50 rotation slots.
    saved = (
        registry._GREEN_ROUND,
        registry._ROWS_ONLY_GREEN,
        registry._CODE_CHANGED_ROUND,
    )
    try:
        # the code-changed demotions are about the CURRENT code; a
        # historical-window fixture must not apply them
        registry._CODE_CHANGED_ROUND = {}
        registry._GREEN_ROUND, registry._ROWS_ONLY_GREEN = _frozen_fixture(5)
        qs, osql = registry._registered(), registry.oracle_sql()
        # queries activated after round 6 (r7, r8, ...) did not exist then
        qs = _without_pens_newer_than(qs, 5)
        names = registry._rotation_order(qs, osql)[:50]
        for n in [
            "agg_freq_items",
            "agg_hll_sketch_merge",
            "similarity_ivf_pq_topk",
            "agg_approx_distinct",
            "sample_split_assign",
            "join_asof_nearest",
            "agg_countmin_heavy",
            # the stalest verified rows (r01 multimodal pair) also made
            # the window — the staged front-load may not evict them
            "multimodal_byte_stats",
            "multimodal_frame_sample",
        ]:
            assert n in names, n
    finally:
        (
            registry._GREEN_ROUND,
            registry._ROWS_ONLY_GREEN,
            registry._CODE_CHANGED_ROUND,
        ) = saved


def test_round7_window_front_loads_staged_r7_fixture():
    # round-7 composition, pinned against the FROZEN artifact set of
    # rounds ≤ 6: every query that went live in round 7 front-loads
    # into the 50-row correctness window (no green row in rounds ≤ 6),
    # and the remaining re-check slots cover all 17 r3-stamped rows.
    saved = (
        registry._GREEN_ROUND,
        registry._ROWS_ONLY_GREEN,
        registry._CODE_CHANGED_ROUND,
    )
    try:
        registry._CODE_CHANGED_ROUND = {}
        registry._GREEN_ROUND, registry._ROWS_ONLY_GREEN = _frozen_fixture(6)
        green, _ = registry._GREEN_ROUND, registry._ROWS_ONLY_GREEN
        qs, osql = registry._registered(), registry.oracle_sql()
        # queries activated after round 7 (r8, ...) did not exist then
        qs = _without_pens_newer_than(qs, 6)
        names = registry._rotation_order(qs, osql)
        window = set(names[:50])
        r7 = [n for n, f in qs.items() if _activation_round(f) == 7]
        assert len(r7) == 18
        for n in r7:
            assert n in window, n
            assert n in osql, n
        r3_stamped = {n for n, rnd in green.items() if rnd == 3 and n in qs}
        assert r3_stamped <= window, r3_stamped - window
    finally:
        (
            registry._GREEN_ROUND,
            registry._ROWS_ONLY_GREEN,
            registry._CODE_CHANGED_ROUND,
        ) = saved
