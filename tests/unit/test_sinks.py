"""Sink round-trip tests: parquet (partitioned; pruning on re-read),
CSV (reference's format, written then re-registered through the
catalog), JSON."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from rs_query_engine_spark.catalog import Catalog
from rs_query_engine_spark.plans.explain import explain_str
from rs_query_engine_spark.sources.sinks import (
    write_csv,
    write_json,
    write_parquet,
)


@pytest.fixture
def small_df(spark):
    return spark.createDataFrame(
        [(1, "A", 10.0), (2, "A", 20.0), (3, "B", 30.0), (4, "B", 40.0)],
        "id bigint, flag string, val double",
    )


def test_parquet_partitioned_roundtrip_and_pruning(spark, small_df, tmp_path):
    path = str(tmp_path / "part_out")
    write_parquet(small_df, path, partition_by=["flag"], coalesce_files=1)
    back = spark.read.parquet(path)
    assert back.count() == 4
    assert {r["flag"] for r in back.select("flag").distinct().collect()} == {"A", "B"}
    # filter on the partition key must prune directories, not scan+filter
    pruned = back.filter(F.col("flag") == "A")
    plan = explain_str(pruned)
    assert "PartitionFilters: [isnotnull(flag" in plan
    assert pruned.count() == 2
    assert sorted(r["id"] for r in pruned.collect()) == [1, 2]


def test_csv_roundtrip_through_catalog(spark, small_df, tmp_path):
    path = str(tmp_path / "csv_out")
    write_csv(small_df, path, coalesce_files=1)
    cat = Catalog(spark)
    back = cat.register_csv("csv_back", path)  # header + inferred schema
    assert back.count() == 4
    row = {r["id"]: r["val"] for r in back.collect()}
    assert row[3] == 30.0
    # schema inference recovers numeric types (reference infers from
    # 3 rows, src/datasource/csv_table.rs:48; Spark scans the file)
    dtypes = dict(back.dtypes)
    assert dtypes["val"] == "double"


def test_json_roundtrip(spark, small_df, tmp_path):
    path = str(tmp_path / "json_out")
    write_json(small_df, path, coalesce_files=1)
    back = spark.read.json(path)
    assert back.count() == 4
    assert sorted(r["id"] for r in back.collect()) == [1, 2, 3, 4]


def test_bucketed_join_is_shuffle_free(spark):
    from rs_query_engine_spark.sources.sinks import write_bucketed_table

    left = spark.range(0, 1000).withColumn("v", F.col("id") % 7)
    right = spark.range(0, 1000).withColumn("w", F.col("id") % 5)
    write_bucketed_table(left, "bkt_left", ["id"], 4, sort_cols=["id"])
    write_bucketed_table(right, "bkt_right", ["id"], 4, sort_cols=["id"])
    joined = spark.table("bkt_left").join(spark.table("bkt_right"), "id")
    plan = explain_str(joined)
    # co-located buckets: the join needs NO exchange on either side
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() == 1000
    spark.sql("DROP TABLE bkt_left")
    spark.sql("DROP TABLE bkt_right")


def test_compact_files(spark, tmp_path):
    from rs_query_engine_spark.sources.sinks import compact_files

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    # 40 tiny files — the streaming-sink pathology
    spark.range(0, 40000).repartition(40).write.parquet(src)
    import os
    n_src = sum(f.endswith(".parquet") for f in os.listdir(src))
    assert n_src == 40
    compact_files(spark, src, dst, target_file_bytes=10**9)
    n_dst = sum(f.endswith(".parquet") for f in os.listdir(dst))
    assert n_dst == 1
    # content preserved
    assert spark.read.parquet(dst).count() == 40000


def test_quarantine_json_routes_disjointly_and_preserves_bytes(spark, tmp_path):
    """quarantine_json's contract: good ∪ dlq = input with nothing
    shared, the good side carries only parseable rows, and dlq lines
    are byte-identical to the malformed input (repairable)."""
    from rs_query_engine_spark.sources.sinks import quarantine_json

    raw = tmp_path / "raw"
    raw.mkdir()
    good_lines = [f'{{"k": {i}, "v": "x{i}"}}' for i in range(20)]
    bad_lines = ['{"k": 100, "v": "torn', "not json at all", '{"k": }', "null"]
    blank_lines = ["", "   "]  # ignored by design (NDJSON convention)
    (raw / "a.json").write_text(
        "\n".join(good_lines[:10] + bad_lines[:2] + blank_lines[:1]) + "\n"
    )
    (raw / "b.json").write_text(
        "\n".join(good_lines[10:] + bad_lines[2:] + blank_lines[1:]) + "\n"
    )

    quarantine_json(
        spark, str(raw), "k bigint, v string",
        str(tmp_path / "good"), str(tmp_path / "dlq"),
    )
    good = spark.read.parquet(str(tmp_path / "good"))
    # blank lines appear in NEITHER sink; 'null' goes to dlq; no
    # phantom all-null rows on the good side
    assert sorted(r["k"] for r in good.collect()) == list(range(20))
    dlq = sorted(
        r["value"] for r in spark.read.text(str(tmp_path / "dlq")).collect()
    )
    assert dlq == sorted(bad_lines)
    # overwrite semantics: a second run replaces, never appends
    quarantine_json(
        spark, str(raw), "k bigint, v string",
        str(tmp_path / "good"), str(tmp_path / "dlq"),
    )
    assert spark.read.parquet(str(tmp_path / "good")).count() == 20


def test_quarantine_json_stream_routes_per_batch_idempotently(spark, tmp_path):
    """The streaming quarantine must partition the input exactly
    (good ∪ dlq = every line, disjointly) across micro-batches, keep
    dlq lines byte-identical, NOT quarantine a valid all-null object,
    and restart from the checkpoint without duplicating (the
    batch-id-partitioned dynamic-overwrite contract)."""
    from rs_query_engine_spark.sources.sinks import quarantine_json_stream

    raw = tmp_path / "raw"
    raw.mkdir()
    good_a = [f'{{"k": {i}, "v": "x{i}"}}' for i in range(10)]
    bad_a = ['{"k": 7, "v": "torn']
    good_b = [f'{{"k": {i}, "v": "y{i}"}}' for i in range(10, 20)]
    bad_b = ["nope", '{"k": null, "v": null}']  # last one is VALID
    # blank/whitespace lines must land in NEITHER sink (measured:
    # from_json gives them a NULL struct with a null corrupt column,
    # which would otherwise misroute them as all-null good rows)
    (raw / "a.json").write_text("\n".join(good_a + bad_a + ["", "  "]) + "\n")
    (raw / "b.json").write_text("\n".join(good_b + bad_b + [""]) + "\n")

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(raw))
    )
    ck = str(tmp_path / "ck")
    quarantine_json_stream(
        stream, "k bigint, v string",
        str(tmp_path / "good"), str(tmp_path / "dlq"), ck,
    )
    good = spark.read.parquet(str(tmp_path / "good"))
    # 20 parseable + the valid all-null object
    assert good.count() == 21
    assert sorted(
        r["k"] for r in good.collect() if r["k"] is not None
    ) == list(range(20))
    dlq = sorted(
        r["value"] for r in spark.read.parquet(str(tmp_path / "dlq")).collect()
    )
    assert dlq == sorted(bad_a + ["nope"])
    # restart against the SAME checkpoint: no new batches, no dupes
    stream2 = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(str(raw))
    )
    quarantine_json_stream(
        stream2, "k bigint, v string",
        str(tmp_path / "good"), str(tmp_path / "dlq"), ck,
    )
    assert spark.read.parquet(str(tmp_path / "good")).count() == 21
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 2


def test_quarantine_rejects_corrupt_column_collision(spark, tmp_path):
    """A caller schema that already declares the corrupt-record column
    must be refused up front (review r12 finding): appending it again
    would give from_json a duplicate field and misroute silently."""
    from rs_query_engine_spark.sources.sinks import (
        _corrupt_schema,
        quarantine_json,
    )

    with pytest.raises(ValueError, match="_corrupt_record"):
        _corrupt_schema("k bigint, _corrupt_record string", "_corrupt_record")
    # quoted/odd DDL still parses structurally, not by substring
    assert _corrupt_schema("k bigint, corrupted string", "_corrupt_record") == (
        "k bigint, corrupted string, _corrupt_record string"
    )
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "a.json").write_text('{"k": 1}\n')
    with pytest.raises(ValueError, match="oops"):
        quarantine_json(
            spark, str(raw), "k bigint, oops string",
            str(tmp_path / "good"), str(tmp_path / "dlq"),
            corrupt_col="oops",
        )
