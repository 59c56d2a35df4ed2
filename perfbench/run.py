#!/usr/bin/env python3
"""Benchmark entry point: one closed-loop run of one workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 2 --trace 0

Run from the root of a checkout of this repository. The run generates
its corpus, starts its own ``local[N]`` session (N = nproc, at most 4),
sets up, checks every workload query's output digest against
``perfbench/expected.json`` and then times whole closed-loop passes, at
least two and more until ``--seconds`` have passed. The last line of
stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
A fuller record of the run (facts, per-query times, set-up repetitions,
failures and, when traced, spans and per-query layer values) is written
under ``.perfbench_out/``. Progress and failures go to stderr.

``--record PATH`` writes the digests of this run (the check pass and a
second pass after timing, plus a DuckDB cross-check where the registry
has an oracle) instead of checking them.
"""

from __future__ import annotations

import argparse
import json
import signal
import statistics
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(harness.load_workloads()["workloads"]))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=harness.DEFAULT_SF,
                   help="corpus scale factor (default %(default)s)")
    p.add_argument("--queries", help="comma-separated subset of the workload")
    p.add_argument("--expected", default=str(HERE / "expected.json"),
                   help="recorded digests to check against")
    p.add_argument("--record", metavar="PATH",
                   help="write this run's digests to PATH instead of checking")
    p.add_argument("--out", help="run record path (default under .perfbench_out/)")
    return p.parse_args(argv)


def load_expected(path: str, sf: float) -> dict:
    with open(path) as f:
        rec = json.load(f)
    if rec["sf"] != sf:
        raise SystemExit(f"perfbench: {path} was recorded at sf{rec['sf']}, not sf{sf}")
    return rec["queries"]


def main(argv: list[str]) -> int:
    args = parse(argv)
    # a terminated run still stops its session and processes (Run.close)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (harness.CHECKOUT / "rs_query_engine_spark" / "__init__.py").is_file():
        print(f"perfbench: no rs_query_engine_spark package under {harness.CHECKOUT}",
              file=sys.stderr)
        return 2
    expected = None if args.record else load_expected(args.expected, args.sf)
    queries = args.queries.split(",") if args.queries else None
    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                      sf=args.sf, queries=queries, expected=expected)
    log = run.log
    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    try:
        conf = run.isolate()
        corpus = run.make_corpus()
        phase("corpus")
        start_s = run.start_session(conf)
        run.record_facts()
        if run.trace:
            from spans import Tracer

            run.tracer = Tracer(run.spark)
        phase("session")
        dirs = run.copies(corpus)
        sf_dir = dirs[-1]
        warm_s = run.warm_tables(sf_dir)
        setups = [run.build(d) for d in dirs]
        log(f"# setup: session {start_s:.3f}s, warm-up {warm_s:.3f}s, builds "
            + " ".join(f"{s['build_s']:.3f}s" for s in setups))
        setup_s = start_s + warm_s + statistics.median(s["build_s"] for s in setups)
        phase("setup")
        digests = run.check(sf_dir, recording=bool(args.record))
        phase("check")
        times = run.timed(sf_dir)
        phase("timed")
        if args.record:
            again = run.check(sf_dir, recording=True)
            write_record(args.record, args.sf, digests, again, run.spark, sf_dir)
        run.stop_session()
        phase("stop")
        metrics, facts = harness.end_to_end(times, setup_s)
        record = {"facts": run.facts | facts, "phase_s": phases, "setups": setups,
                  "session_start_s": start_s, "warm_s": warm_s, "times": times,
                  "digests": digests, "failures": run.failures}
        if run.trace:
            metrics, record["layers_by_query"], record["spans"] = traced_metrics(
                run, setups, start_s, warm_s)
    finally:
        # a second SIGTERM does not cut the stop short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        run.close()
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }
    record["result"] = result
    out = Path(args.out) if args.out else harness.OUT_ROOT / (
        f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json")
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, default=list))
    for name, m in metrics.items():
        log(f"# {name} = {m['value']:.6g} {m['unit']}")
    log(f"# run record: {out}  (process {time.perf_counter() - T_PROCESS:.1f}s)")
    print(json.dumps(result))
    return 0


def traced_metrics(run, setups, start_s, warm_s):
    import eventlog
    import layers

    records = run.tracer.records
    log_path = eventlog.find_log(run.dir / "eventlog")
    eventlog.attribute(eventlog.read(log_path), records)
    metrics, by_query = layers.per_layer(records, setups, start_s, warm_s, run.n)
    spans = [s for r in records if r["phase"] == "timed" and r.get("ok")
             for s in eventlog.span_tree(r)]
    return metrics, by_query, spans


def write_record(path: str, sf: float, first: dict, second: dict, spark, sf_dir: str) -> None:
    """Digests for ``expected.json``: ``hash`` mode when two passes
    agree, ``rows`` mode (row count only) when they do not; plus the
    DuckDB cross-check result where an oracle exists."""
    import oracle

    checked = oracle.cross_check(spark, sf_dir, sorted(first))
    queries = {}
    for name, (rows, h) in sorted(first.items()):
        same = second.get(name) == (rows, h)
        queries[name] = {"rows": rows, "hash": h if same else None,
                         "mode": "hash" if same else "rows",
                         "oracle": checked.get(name, "none")}
    Path(path).write_text(json.dumps({"sf": sf, "queries": queries}, indent=1) + "\n")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
