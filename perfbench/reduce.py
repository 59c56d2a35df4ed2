#!/usr/bin/env python3
"""Reduce traced run records to per-layer tables, or diff two runs.

    python3 perfbench/reduce.py                  # latest records per workload
    python3 perfbench/reduce.py A.json B.json    # those records
    python3 perfbench/reduce.py --diff A.json B.json

Without ``--diff`` it prints, for each workload, every per-layer metric
of the latest traced record (``-t1-``), the layer self times, and the
tracing overhead: traced ``trace.wall_s`` minus the untraced ``wall_s``
of the latest untraced record (``-t0-``) of the same workload. The same
content is written to ``.perfbench_out/layers.json``.

``--diff A B`` compares two records metric by metric (end-to-end or
per-layer, whichever they hold), with B's value as a ratio of A's, and
lists the queries whose per-query time or layer values moved most.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from harness import OUT_ROOT  # noqa: E402


def load(path: Path) -> dict:
    rec = json.loads(path.read_text())
    rec["_path"] = str(path)
    return rec


def latest() -> dict[tuple[str, int], Path]:
    """(workload, trace) -> newest record file."""
    found: dict[tuple[str, int], Path] = {}
    for p in sorted(OUT_ROOT.glob("*-s*-t[01]-*.json"), key=lambda p: p.stat().st_mtime):
        workload, rest = p.name.split("-s", 1)
        found[(workload, int(rest.split("-t", 1)[1][0]))] = p
    return found


def workload_of(rec: dict) -> str:
    return rec["facts"].get("workload") or Path(rec["_path"]).name.split("-s", 1)[0]


def layer_table(traced: dict, untraced: dict | None) -> dict:
    m = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
    table = {
        "record": traced["_path"],
        "layers": {k: v for k, v in m.items() if not k.startswith("self.")},
        "self_s": {k[5:-2]: v for k, v in m.items() if k.startswith("self.")},
    }
    if untraced is not None:
        base = untraced["result"]["metrics"]["wall_s"]["value"]
        table["overhead"] = {
            "untraced_record": untraced["_path"],
            "untraced_wall_s": base,
            "traced_wall_s": m["trace.wall_s"],
            "overhead_s": m["trace.wall_s"] - base,
            "overhead_frac": (m["trace.wall_s"] - base) / base,
        }
    return table


def show_table(workload: str, table: dict) -> None:
    print(f"== {workload}  ({table['record']})")
    for k, v in table["layers"].items():
        print(f"  {k:34s} {v:14.4f}")
    print("  self time per pass (s):")
    for k, v in sorted(table["self_s"].items(), key=lambda kv: -kv[1]):
        print(f"    {k:32s} {v:12.4f}")
    o = table.get("overhead")
    if o:
        print(f"  tracing overhead: {o['overhead_s']:+.3f}s "
              f"({100 * o['overhead_frac']:+.1f}%) over untraced wall_s {o['untraced_wall_s']:.3f}s")


def diff(a: dict, b: dict, top: int = 10) -> None:
    ma, mb = a["result"]["metrics"], b["result"]["metrics"]
    print(f"A = {a['_path']}\nB = {b['_path']}")
    print(f"  {'metric':34s} {'A':>14s} {'B':>14s} {'B/A':>8s}")
    for k in sorted(set(ma) | set(mb)):
        va = ma.get(k, {}).get("value")
        vb = mb.get(k, {}).get("value")
        ratio = f"{vb / va:8.3f}" if va and vb is not None else "       -"
        fa = "-" if va is None else f"{va:.4f}"
        fb = "-" if vb is None else f"{vb:.4f}"
        print(f"  {k:34s} {fa:>14s} {fb:>14s} {ratio}")
    qa = a["facts"].get("query_median_s", {})
    qb = b["facts"].get("query_median_s", {})
    moved = sorted(((qb[q] - qa[q], q) for q in set(qa) & set(qb)), key=lambda t: -abs(t[0]))
    if moved:
        print("  queries that moved most (median s, B - A):")
        for d, q in moved[:top]:
            print(f"    {q:44s} {qa[q]:8.3f} -> {qb[q]:8.3f} ({d:+.3f})")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("records", nargs="*", type=Path)
    p.add_argument("--diff", action="store_true", help="compare exactly two records")
    args = p.parse_args(argv)
    if args.diff:
        if len(args.records) != 2:
            p.error("--diff takes two records")
        diff(load(args.records[0]), load(args.records[1]))
        return 0
    if args.records:
        recs = [load(r) for r in args.records]
        traced = {workload_of(r): r for r in recs if "trace.wall_s" in r["result"]["metrics"]}
        untraced = {workload_of(r): r for r in recs if "wall_s" in r["result"]["metrics"]}
    else:
        newest = latest()
        traced = {w: load(p) for (w, t), p in newest.items() if t == 1}
        untraced = {w: load(p) for (w, t), p in newest.items() if t == 0}
    if not traced:
        print("no traced run records found", file=sys.stderr)
        return 1
    tables = {w: layer_table(r, untraced.get(w)) for w, r in sorted(traced.items())}
    for w, t in tables.items():
        show_table(w, t)
    OUT_ROOT.mkdir(exist_ok=True)
    (OUT_ROOT / "layers.json").write_text(json.dumps(tables, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
