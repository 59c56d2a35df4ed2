"""The benchmark's own test: every workload at sf0.001 on a few queries.

    python3 -m pytest perfbench/test_perfbench.py -q

For each workload it records digests with one seed, then checks that

- a run with another seed matches them (digests do not depend on the
  seed) and emits every end-to-end metric with its unit;
- a traced run emits every per-layer metric with its unit;
- a run against a deliberately corrupted digest counts the failure;
- no process of a run (its JVM names the run's work tree) outlives it.

Each case starts a fresh Spark session in a subprocess, as every
benchmark run does, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
SPEC = json.loads((CHECKOUT / "BENCHMARK.json").read_text())
SUBSETS = {
    "interactive": ["tpch_q3_shape", "join_bucketed_colocated", "string_functions"],
    "pipelines": ["udtf_lang_runs", "source_python_datasource", "stream_dedup_events"],
}
SF = "0.001"


def bench(tmp: Path, workload: str, seed: int, trace: int, *extra: str) -> dict:
    out = tmp / f"{workload}-{seed}-{trace}.json"
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--sf", SF,
           "--queries", ",".join(SUBSETS[workload]), "--out", str(out), *extra]
    proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not leftovers(), leftovers()
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    record = json.loads(out.read_text())
    assert record["result"] == result
    return record


def leftovers() -> list[str]:
    """Command lines of live processes that point into a run's work tree."""
    root = str(CHECKOUT / ".perfbench_work")
    out = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            cmd = (entry / "cmdline").read_bytes().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if root in cmd:
            out.append(cmd[:300])
    return out


def units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in SPEC[section]}


@pytest.mark.parametrize("workload", sorted(SUBSETS))
def test_workload(tmp_path: Path, workload: str) -> None:
    expected = tmp_path / "expected.json"
    first = bench(tmp_path, workload, 1, 0, "--record", str(expected))
    recorded = json.loads(expected.read_text())["queries"]
    assert sorted(recorded) == sorted(SUBSETS[workload])

    # another seed: same digests, every end-to-end metric with its unit
    second = bench(tmp_path, workload, 2, 0, "--expected", str(expected))
    assert second["result"]["correct"], second["failures"]
    assert second["digests"] == first["digests"]
    got = {k: v["unit"] for k, v in second["result"]["metrics"].items()}
    assert got == units("end_to_end")
    assert all(v["value"] > 0 for v in second["result"]["metrics"].values())

    # traced: every per-layer metric with its unit
    traced = bench(tmp_path, workload, 3, 1, "--expected", str(expected))
    assert traced["result"]["correct"], traced["failures"]
    got = {k: v["unit"] for k, v in traced["result"]["metrics"].items()}
    assert got == units("per_layer")
    assert traced["spans"], "traced run kept no spans"

    # a corrupted digest is a counted failure
    name = SUBSETS[workload][0]
    recorded[name]["rows"] += 1
    bad = tmp_path / "corrupt.json"
    bad.write_text(json.dumps({"sf": float(SF), "queries": recorded}))
    broken = bench(tmp_path, workload, 4, 0, "--expected", str(bad))
    assert not broken["result"]["correct"]
    assert broken["result"]["failed"] == 1
    assert name in broken["failures"][0]
