"""Unit tests for the persisted LSH index artifact
(operators/lsh_index.py) — the cache-keying, atomic-install, and
stale-sweep mechanics that parity tests can't see (they only prove the
happy-path content), mirroring the scrutiny the ORC cache got in
ADVICE r06/r08."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from rs_query_engine_spark.operators import lsh_index as li

SF_DIR = "/root/testdata/sf0.001"


def _roots(tmpdir_parent=None):
    import tempfile

    parent = tmpdir_parent or tempfile.gettempdir()
    return [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if d.startswith("rsqes_lshidx_")
    ]


def test_index_is_cached_not_rebuilt(spark):
    root1 = li.ensure_lsh_index(spark, SF_DIR)
    mtime = os.path.getmtime(os.path.join(root1, "bands", "_SUCCESS"))
    root2 = li.ensure_lsh_index(spark, SF_DIR)
    assert root1 == root2
    assert os.path.getmtime(os.path.join(root2, "bands", "_SUCCESS")) == mtime


def test_index_excludes_batch_slice_and_caps_buckets(spark):
    root = li.ensure_lsh_index(spark, SF_DIR)
    bands = li.read_index_bands(spark, root)
    # no batch-slice doc may appear in the persisted postings
    leaked = bands.filter(
        F.col("doc_id") % li.BATCH_MOD == li.BATCH_REM
    ).count()
    assert leaked == 0
    # every (band, key) bucket respects the degeneracy cap
    oversized = (
        bands.groupBy("band", "key")
        .count()
        .filter(F.col("count") > li.MINHASH_MAX_BUCKET)
        .count()
    )
    assert oversized == 0
    # the signature table covers every banded doc (sigs ⊇ banded:
    # sigs deliberately RETAINS docs whose postings were all dropped
    # by the degeneracy cap — exact equality would be data-dependent
    # and fail on a corpus where some doc loses every bucket, despite
    # correct behavior; ADVICE r09)
    sigs = li.read_index_sigs(spark, root)
    uncovered = (
        bands.select("doc_id")
        .distinct()
        .join(sigs, "doc_id", "left_anti")
        .count()
    )
    assert uncovered == 0


def _whole(root: str) -> bool:
    return all(os.path.exists(os.path.join(root, p)) for p in li.INDEX_PARTS)


def test_index_digest_tracks_source_identity(spark, tmp_path):
    """A different source parquet (different mtime/size) must key a
    different artifact root — the path-only-key staleness bug the ORC
    cache had (ADVICE r06) must not recur here."""
    alt = tmp_path / "altsf"
    alt.mkdir()
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40).write.parquet(
        str(alt / "documents.parquet")
    )
    root_orig = li.ensure_lsh_index(spark, SF_DIR)
    root_alt = li.ensure_lsh_index(spark, str(alt))
    assert root_orig != root_alt
    # both stay installed: the stale sweep only removes other
    # GENERATIONS of the same source, never other sources' caches
    assert _whole(root_orig) and _whole(root_alt)
    # regenerating the alt source (new mtime) must re-key and sweep
    # the old generation
    shutil.rmtree(alt / "documents.parquet")
    spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(25).write.parquet(
        str(alt / "documents.parquet")
    )
    root_alt2 = li.ensure_lsh_index(spark, str(alt))
    assert root_alt2 != root_alt
    # old generation is MARKED for the deferred sweep (deleted only
    # after SWEEP_GRACE_SEC by a later install — ADVICE r09: immediate
    # rmtree races concurrent readers); full mark→reap lifecycle is
    # pinned in tests/unit/test_artifacts.py
    assert os.path.exists(os.path.join(root_alt, "swept.txt"))
    assert _whole(root_orig)  # unrelated source untouched
    for r in (root_alt, root_alt2):
        shutil.rmtree(r, ignore_errors=True)


def test_index_build_matches_inline_pipeline(spark):
    """The persisted artifact must equal the same pipeline computed
    inline — catches write/read lossiness (type narrowing, partition
    column round-trip) that a DuckDB oracle on raw text also catches,
    but localized to the storage layer."""
    root = li.ensure_lsh_index(spark, SF_DIR)
    persisted = li.read_index_bands(spark, root)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") % li.BATCH_MOD != li.BATCH_REM
    )
    inline = li._cap_buckets(li.band_postings(li.doc_signatures(docs)))
    assert persisted.exceptAll(inline).count() == 0
    assert inline.exceptAll(persisted).count() == 0


def test_merged_generation_contains_batch_and_respects_cap(spark):
    mroot = li.ensure_merged_lsh_index(spark, SF_DIR)
    merged = li.read_index_bands(spark, mroot)
    # batch docs (with shingles) are now in the index
    batch_rows = merged.filter(
        F.col("doc_id") % li.BATCH_MOD == li.BATCH_REM
    ).count()
    assert batch_rows > 0
    # merged-bucket cap holds
    oversized = (
        merged.groupBy("band", "key")
        .count()
        .filter(F.col("count") > li.MINHASH_MAX_BUCKET)
        .count()
    )
    assert oversized == 0
    # the merged signature table covers every posted doc
    sigs = li.read_index_sigs(spark, mroot)
    posted = merged.select("doc_id").distinct()
    assert posted.join(sigs, "doc_id", "left_anti").count() == 0
    # generations are separate artifacts: the base index is intact
    # and still batch-free
    base = li.ensure_lsh_index(spark, SF_DIR)
    assert base != mroot
    assert (
        li.read_index_bands(spark, base)
        .filter(F.col("doc_id") % li.BATCH_MOD == li.BATCH_REM)
        .count()
        == 0
    )


def test_probe_flags_exact_duplicate_and_admits_novel(spark, tmp_path):
    """Semantic check the hash-parity tests can't express: a batch doc
    that is an exact copy of an indexed doc MUST be rejected (all 16
    MinHash components agree), and a novel doc must be admitted."""
    base_text = "the quick brown fox jumps over the lazy dog again and again " * 5
    corpus = spark.createDataFrame(
        [(i, f"{base_text} corpus document number {i}") for i in range(10)],
        ["doc_id", "text"],
    )
    sigs = li.doc_signatures(corpus)
    bands = li._cap_buckets(li.band_postings(sigs))
    root = str(tmp_path / "idx")
    bands.write.partitionBy("band").parquet(os.path.join(root, "bands"))
    sigs.write.parquet(os.path.join(root, "sigs"))
    batch = spark.createDataFrame(
        [
            (100, f"{base_text} corpus document number 3"),  # exact dup of doc 3
            (101, "completely different content about spark query engines and parquet files with nothing shared"),
        ],
        ["doc_id", "text"],
    )
    res = {r["doc_id"]: r for r in li.probe_index(spark, root, batch).collect()}
    assert res[100]["admitted"] is False and res[100]["n_matches"] >= 1
    assert res[101]["admitted"] is True and res[101]["n_matches"] == 0


def test_probe_flags_near_duplicate_with_small_edit(spark, tmp_path):
    """A batch doc that differs from an indexed doc by one token in a
    long text shares almost all shingles — the banded probe must
    surface it and the signature gate must keep it (deterministic for
    these fixed strings and the production constants)."""
    body = " ".join(f"word{i}" for i in range(80))
    corpus = spark.createDataFrame([(1, body)], ["doc_id", "text"])
    sigs = li.doc_signatures(corpus)
    bands = li._cap_buckets(li.band_postings(sigs))
    root = str(tmp_path / "idx")
    bands.write.partitionBy("band").parquet(os.path.join(root, "bands"))
    sigs.write.parquet(os.path.join(root, "sigs"))
    edited = body.replace("word40", "EDITED")
    batch = spark.createDataFrame([(2, edited)], ["doc_id", "text"])
    row = li.probe_index(spark, root, batch).collect()[0]
    assert row["admitted"] is False and row["n_matches"] == 1
