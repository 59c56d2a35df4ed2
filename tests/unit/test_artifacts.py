"""Unit tests for the shared artifact-install machinery
(``sources/artifacts.py``) — the crash/race paths the parity tests
never exercise (they only see successful installs)."""

from __future__ import annotations

import os

import pytest

from rs_query_engine_spark.sources import artifacts


def _complete(root: str) -> bool:
    return os.path.exists(os.path.join(root, "payload", "_DONE"))


def _write_ok(tmp: str) -> None:
    os.makedirs(os.path.join(tmp, "payload"))
    with open(os.path.join(tmp, "payload", "_DONE"), "w") as f:
        f.write("ok")


def test_failed_build_cleans_its_temp_dir(tmp_path):
    src = tmp_path / "src.parquet"
    src.write_text("x")
    root = artifacts.artifact_root(str(src), "testtag", "p=1")

    def boom(tmp: str) -> None:
        os.makedirs(os.path.join(tmp, "payload"))
        raise RuntimeError("disk full")

    with pytest.raises(RuntimeError):
        artifacts.install_artifact(root, "testtag", str(src), boom, _complete)
    # no temp debris, no partial install
    parent = os.path.dirname(root)
    leftovers = [
        d for d in os.listdir(parent) if d.startswith(os.path.basename(root))
    ]
    assert leftovers == []


def test_params_change_rekeys_artifact(tmp_path):
    src = tmp_path / "src.parquet"
    src.write_text("x")
    r1 = artifacts.artifact_root(str(src), "testtag", "nh=16")
    r2 = artifacts.artifact_root(str(src), "testtag", "nh=32")
    assert r1 != r2


def test_source_change_rekeys_and_sweep_reclaims_old_generation(
    tmp_path, monkeypatch
):
    """Two-phase deferred sweep (ADVICE r09): installing a new
    generation MARKS the old one (so a concurrent run mid-scan over it
    never loses files) and a later install REAPS it once the mark has
    aged past SWEEP_GRACE_SEC."""
    src = tmp_path / "src.parquet"
    src.write_text("generation-1")
    r1 = artifacts.artifact_root(str(src), "testtag", "p=1")
    artifacts.install_artifact(r1, "testtag", str(src), _write_ok, _complete)
    assert _complete(r1)
    # regenerate the source → new mtime/size → new root; installing it
    # MARKS (not deletes) the old generation of the SAME source
    src.write_text("generation-two!")
    r2 = artifacts.artifact_root(str(src), "testtag", "p=1")
    assert r2 != r1
    artifacts.install_artifact(r2, "testtag", str(src), _write_ok, _complete)
    assert _complete(r2)
    assert os.path.exists(os.path.join(r1, "swept.txt"))  # marked
    assert _complete(r1)  # but contents intact within the grace period
    # a DIFFERENT source's cache under the same tag survives the sweep
    other = tmp_path / "other.parquet"
    other.write_text("other")
    r3 = artifacts.artifact_root(str(other), "testtag", "p=1")
    artifacts.install_artifact(r3, "testtag", str(other), _write_ok, _complete)
    # with the grace period elapsed, the next install reaps r1 and
    # marks r2
    monkeypatch.setattr(artifacts, "SWEEP_GRACE_SEC", 0.0)
    src.write_text("generation-three!!")
    r4 = artifacts.artifact_root(str(src), "testtag", "p=1")
    artifacts.install_artifact(r4, "testtag", str(src), _write_ok, _complete)
    assert not os.path.exists(r1) and _complete(r4)
    assert os.path.exists(os.path.join(r2, "swept.txt"))
    assert _complete(r3)  # other source untouched, never marked
    assert not os.path.exists(os.path.join(r3, "swept.txt"))
    import shutil

    for r in (r2, r3, r4):
        shutil.rmtree(r, ignore_errors=True)


def test_rename_race_loser_uses_winner(tmp_path, monkeypatch):
    src = tmp_path / "src.parquet"
    src.write_text("x")
    root = artifacts.artifact_root(str(src), "testtag", "p=1")
    artifacts.install_artifact(root, "testtag", str(src), _write_ok, _complete)

    # simulate losing the rename race: rename fails but a complete
    # winner exists → no raise
    def failing_rename(a, b):
        raise OSError("Directory not empty")

    monkeypatch.setattr(os, "rename", failing_rename)
    artifacts.install_artifact(root, "testtag", str(src), _write_ok, _complete)
    assert _complete(root)
    monkeypatch.undo()

    # same failure with NO complete winner → re-raise (a real error
    # must not be swallowed as a race loss)
    import shutil

    shutil.rmtree(root)
    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError):
        artifacts.install_artifact(root, "testtag", str(src), _write_ok, _complete)
    monkeypatch.undo()
    shutil.rmtree(root, ignore_errors=True)


def test_revived_generation_clears_tombstone(tmp_path):
    """ADVICE r10 regression pin: a generation marked for sweep that
    becomes CURRENT again (source reverted to an earlier
    mtime_ns+size, e.g. fixtures restored from an archive) must shed
    its aged swept.txt on BOTH surfaces — the key computation
    (artifact_root, covering the ensure-complete fast path) and the
    sweep's keep branch — so a concurrent process's next install can
    never reap the actively-served artifact."""
    src = tmp_path / "src.parquet"
    src.write_text("generation-a")
    root_a = artifacts.artifact_root(str(src), "revtag", "p=1")
    artifacts.install_artifact(root_a, "revtag", str(src), _write_ok, _complete)
    assert _complete(root_a)

    # fake an aged tombstone from a stale period, then 'revert' the
    # source (same content, same forced mtime -> same key): the next
    # key computation must clear it
    tomb = os.path.join(root_a, "swept.txt")
    with open(tomb, "w") as f:
        f.write("0")
    st = os.stat(str(src))
    os.utime(str(src), ns=(st.st_atime_ns, st.st_mtime_ns))
    assert artifacts.artifact_root(str(src), "revtag", "p=1") == root_a
    assert not os.path.exists(tomb)

    # and via the sweep's keep branch: an install at the SAME key
    # (racing builder) must clear a tombstone re-planted meanwhile
    with open(tomb, "w") as f:
        f.write("0")
    artifacts._sweep_stale_generations("revtag", str(src), keep=os.path.basename(root_a))
    assert not os.path.exists(tomb)
    assert _complete(root_a)


def test_ensure_artifact_builds_once_and_rekeys_on_source_change(
    tmp_path, monkeypatch
):
    """``ensure_artifact`` is the one lifecycle entry point: a second
    call with the same inputs serves the installed root without
    running ``write``; a source change re-keys the artifact and marks
    the old generation for the deferred sweep under the same tag."""
    cache = tmp_path / "cache"
    cache.mkdir()
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(cache))
    src = tmp_path / "src.parquet"
    src.write_text("generation-1")
    calls = []

    def write(tmp: str) -> None:
        calls.append(tmp)
        _write_ok(tmp)

    def ensure() -> str:
        return artifacts.ensure_artifact(
            str(src), "enstag", "p=1", ("payload/_DONE",), write
        )

    r1 = ensure()
    assert len(calls) == 1 and _complete(r1)
    assert ensure() == r1
    assert len(calls) == 1, "a current artifact must not be rebuilt"

    src.write_text("generation-two!")
    r2 = ensure()
    assert r2 != r1 and len(calls) == 2 and _complete(r2)
    assert os.path.basename(r2).startswith("rsqes_enstag_")
    assert os.path.exists(os.path.join(r1, "swept.txt"))
    assert not os.path.exists(os.path.join(r2, "swept.txt"))


def test_only_artifacts_module_installs_artifacts():
    """Every builder goes through ``ensure_artifact``: no other package
    module computes a cache root or installs one by hand (a builder
    passing a different tag to the two calls would hide its stale
    generations from the sweep)."""
    import re
    from pathlib import Path

    pkg = Path(artifacts.__file__).resolve().parents[1]
    pat = re.compile(r"\b(install_artifact|artifact_root)\(")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "artifacts.py" or path.parent.name != "sources"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert offenders == []


class _StubSpark:
    """Just enough of a session for ``scratch_dir``: its app id."""

    def __init__(self, app_id: str) -> None:
        self.sparkContext = type("Ctx", (), {"applicationId": app_id})()


def test_scratch_dir_is_per_session_and_sweeps_earlier_sessions(
    tmp_path, monkeypatch
):
    """``scratch_dir`` keys a query's per-run directory by source and
    session: a re-run in the same session gets the same root (its
    files kept unless ``fresh``), a new session gets its own root and
    marks the earlier session's for the deferred sweep, and another
    source's directory under the same tag is left alone."""
    import hashlib

    cache = tmp_path / "cache"
    cache.mkdir()
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(cache))
    src, other = tmp_path / "corpus", tmp_path / "other"
    s1, s2 = _StubSpark("local-1"), _StubSpark("local-2")

    r1 = artifacts.scratch_dir(s1, "scrtag", str(src), fresh=False)
    digest = hashlib.md5(str(src).encode()).hexdigest()[:16]
    assert os.path.basename(r1) == f"rsqes_scrtag_{digest}_local-1"
    os.makedirs(os.path.join(r1, "out"))
    r_other = artifacts.scratch_dir(s1, "scrtag", str(other), fresh=False)

    assert artifacts.scratch_dir(s1, "scrtag", str(src), fresh=False) == r1
    assert os.path.isdir(os.path.join(r1, "out")), "fresh=False keeps files"
    assert artifacts.scratch_dir(s1, "scrtag", str(src), fresh=True) == r1
    assert os.listdir(r1) == ["source.txt"], "fresh=True empties the root"

    r2 = artifacts.scratch_dir(s2, "scrtag", str(src), fresh=False)
    assert r2 != r1
    assert os.path.exists(os.path.join(r1, "swept.txt"))
    assert not os.path.exists(os.path.join(r2, "swept.txt"))
    assert sorted(os.listdir(r_other)) == ["source.txt"]

    # the earlier session, still running, takes its root back
    artifacts.scratch_dir(s1, "scrtag", str(src), fresh=False)
    assert not os.path.exists(os.path.join(r1, "swept.txt"))


def test_customer_csv_artifact_rekeys_on_corpus_regen(spark, tmp_path):
    """The r12 migration pin: the shared customer-CSV copy (ONE
    artifact for the JVM reader and the whole Python DataSource
    family) must be keyed by the SOURCE parquet's mtime+size — an
    in-place corpus regen has to produce a NEW artifact whose content
    reflects the new data, never serve the old copy stale (the bug
    class the path-only `_SUCCESS` convention had)."""
    import shutil

    from rs_query_engine_spark.sources.pydatasource import ensure_customer_csv

    corpus = tmp_path / "corpus"
    corpus.mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/customer.parquet",
        corpus / "customer.parquet",
    )
    p1 = ensure_customer_csv(spark, str(corpus))
    n1 = spark.read.option("header", True).csv(p1).count()
    assert n1 == spark.read.parquet(str(corpus / "customer.parquet")).count()

    # regenerate the corpus IN PLACE: halve the table (new size+mtime)
    half = spark.read.parquet(str(corpus / "customer.parquet")).limit(
        n1 // 2
    )
    staging = tmp_path / "staging"
    half.coalesce(1).write.parquet(str(staging))
    part = next(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    os.replace(staging / part, corpus / "customer.parquet")

    p2 = ensure_customer_csv(spark, str(corpus))
    assert p2 != p1, "regen must re-key the artifact, not serve stale"
    assert (
        spark.read.option("header", True).csv(p2).count() == n1 // 2
    ), "the new artifact must reflect the regenerated corpus"
