"""Unit pins for the pure-Python DataSource family
(``sources/pydatasource.py``) — the protocol edges the oracle queries'
happy paths don't exercise: pushdown negotiation (what is accepted vs
handed back), the writer's overwrite cleanup, and the task-failure
abort path (no torn output visible to readers)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from rs_query_engine_spark.sources.pydatasource import (
    CsvLinesDataSource,
    CsvPushdownReader,
    ensure_customer_csv,
)

DDL = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


def test_pushfilters_accepts_comparisons_rejects_rest(spark):
    from pyspark.sql.datasource import (
        GreaterThan,
        StringContains,
    )
    from pyspark.sql.types import _parse_datatype_string

    r = CsvPushdownReader(_parse_datatype_string(DDL), "/nonexistent")  # noqa: E501  (schema parse needs the active session the fixture provides)
    rejected = list(
        r.pushFilters(
            [
                GreaterThan(("c_acctbal",), 5000.0),
                StringContains(("c_name",), "x"),
            ]
        )
    )
    # the comparison is accepted (kept), the string match handed back
    assert [type(f).__name__ for f in rejected] == ["StringContains"]
    assert [type(f).__name__ for f in r.pushed] == ["GreaterThan"]
    # and the accepted filter is faithfully evaluated
    assert r._keep((1, "a", 1, 5000.5, "B"))
    assert not r._keep((1, "a", 1, 4999.5, "B"))
    assert not r._keep((1, "a", 1, None, "B"))


def test_writer_overwrite_removes_superseded_parts(spark):
    src_csv = ensure_customer_csv(spark, "/root/testdata/sf0.001")
    try:
        spark.dataSource.register(CsvLinesDataSource)
    except Exception:
        pass
    out = os.path.join(
        tempfile.gettempdir(), f"rsqes_pywr_unit_{os.getpid()}"
    )
    shutil.rmtree(out, ignore_errors=True)
    df = (
        spark.read.format("rsqes_pycsv")
        .schema(DDL)
        .option("path", src_csv)
        .load()
    )
    big = df.filter(F.col("c_acctbal") > 0.0)
    small = df.filter(F.col("c_mktsegment") == "BUILDING")
    big.write.format("rsqes_pycsv").option("path", out).mode(
        "overwrite"
    ).save()
    n_files_big = len([f for f in os.listdir(out) if f.endswith(".csv")])
    small.write.format("rsqes_pycsv").option("path", out).mode(
        "overwrite"
    ).save()
    # superseded parts are gone, no .staged debris, _SUCCESS present,
    # and a read-back sees ONLY the second write's rows
    files = os.listdir(out)
    assert not [f for f in files if f.endswith(".staged")]
    assert "_SUCCESS" in files
    back = spark.read.csv(out, schema=DDL, header=True)
    assert back.count() == small.count()
    assert n_files_big >= 1
    shutil.rmtree(out, ignore_errors=True)


def test_writer_abort_leaves_no_committed_output(spark):
    # a task that throws mid-write must fail the job AND leave no
    # final .csv / _SUCCESS behind (abort reaps the staged files of
    # completed tasks; the torn file of the failing task never gets
    # a final name)
    try:
        spark.dataSource.register(CsvLinesDataSource)
    except Exception:
        pass
    out = os.path.join(
        tempfile.gettempdir(), f"rsqes_pywr_abort_{os.getpid()}"
    )
    shutil.rmtree(out, ignore_errors=True)
    df = spark.range(100).select(
        F.col("id").alias("c_custkey"),
        F.lit("n").alias("c_name"),
        F.lit(1).cast("int").alias("c_nationkey"),
        # poison one row: None cast to double is fine, so use a udf-free
        # trick — divide by (id - 50) and ANSI mode raises at id=50
        F.try_divide(F.lit(1.0), (F.col("id") - 50).cast("double")).alias(
            "c_acctbal"
        ),
        F.assert_true(F.col("id") != 50).cast("string").alias("c_mktsegment"),
    )
    with pytest.raises(Exception):
        df.coalesce(2).write.format("rsqes_pycsv").option("path", out).mode(
            "overwrite"
        ).save()
    if os.path.exists(out):
        files = os.listdir(out)
        assert "_SUCCESS" not in files
        assert not [f for f in files if f.endswith(".csv")]
    shutil.rmtree(out, ignore_errors=True)


def test_arrow_reader_value_identical_to_tuple_reader(spark):
    """The Arrow-batch reader (rsqes_pycsv_arrow) must be a pure
    performance upgrade: same files, same bound schema -> the same
    rows bit-for-bit as the tuple reader, including double identity
    and the ""-vs-null convention (numeric "" -> null, string "" ->
    ""). The staged oracle pair proves each reader against parquet;
    this pins the two against EACH OTHER on a corpus that contains
    a null numeric and an empty string."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvArrowDataSource,
    )

    for ds in (CsvLinesDataSource, CsvArrowDataSource):
        try:
            spark.dataSource.register(ds)
        except Exception:
            pass
    out = os.path.join(
        tempfile.gettempdir(), f"rsqes_pyarrow_eq_{os.getpid()}"
    )
    shutil.rmtree(out, ignore_errors=True)
    df = spark.range(500).select(
        F.col("id").alias("c_custkey"),
        # empty string on every 7th row (stays "" through both readers)
        F.when(F.col("id") % 7 == 0, F.lit("")).otherwise(
            F.concat(F.lit("name#"), F.col("id"))
        ).alias("c_name"),
        (F.col("id") % 25).cast("int").alias("c_nationkey"),
        # null double on every 11th row (written as "", parsed to null)
        F.when(F.col("id") % 11 == 0, F.lit(None).cast("double")).otherwise(
            F.col("id") / 7.0
        ).alias("c_acctbal"),
        F.lit("SEG").alias("c_mktsegment"),
    )
    df.coalesce(3).write.format("rsqes_pycsv").option("path", out).mode(
        "overwrite"
    ).save()
    try:
        reads = {}
        for fmt in ("rsqes_pycsv", "rsqes_pycsv_arrow"):
            got = (
                spark.read.format(fmt)
                .schema(DDL)
                .option("path", out)
                .load()
                .collect()
            )
            reads[fmt] = sorted(tuple(r) for r in got)
        assert reads["rsqes_pycsv"] == reads["rsqes_pycsv_arrow"]
        assert len(reads["rsqes_pycsv"]) == 500
        # pruned + reordered subset schema: both readers agree too
        for fmt in ("rsqes_pycsv", "rsqes_pycsv_arrow"):
            got = (
                spark.read.format(fmt)
                .schema("c_acctbal double, c_custkey bigint")
                .option("path", out)
                .load()
                .collect()
            )
            reads[fmt] = sorted(
                (r["c_custkey"], r["c_acctbal"]) for r in got
            )
        assert reads["rsqes_pycsv"] == reads["rsqes_pycsv_arrow"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_arrow_stream_reader_matches_tuple_stream_reader(spark):
    """The Arrow-batch STREAMING reader (rsqes_pycsv_astream) must
    replay the same files to the same rows as the tuple-based
    partitioned stream reader — same offsets (file counts), same
    per-file partitions, RecordBatch yield instead of tuples —
    including null numerics and empty strings."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvArrowStreamDataSource,
        CsvPartitionedStreamDataSource,
    )

    for ds in (CsvLinesDataSource, CsvPartitionedStreamDataSource,
               CsvArrowStreamDataSource):
        try:
            spark.dataSource.register(ds)
        except Exception:
            pass
    out = os.path.join(
        tempfile.gettempdir(), f"rsqes_astream_eq_{os.getpid()}"
    )
    shutil.rmtree(out, ignore_errors=True)
    df = spark.range(300).select(
        F.col("id").alias("c_custkey"),
        F.when(F.col("id") % 7 == 0, F.lit("")).otherwise(
            F.concat(F.lit("name#"), F.col("id"))
        ).alias("c_name"),
        (F.col("id") % 25).cast("int").alias("c_nationkey"),
        F.when(F.col("id") % 11 == 0, F.lit(None).cast("double")).otherwise(
            F.col("id") / 7.0
        ).alias("c_acctbal"),
        F.lit("SEG").alias("c_mktsegment"),
    )
    df.coalesce(3).write.format("rsqes_pycsv").option("path", out).mode(
        "overwrite"
    ).save()
    reads = {}
    try:
        for fmt in ("rsqes_pycsv_pstream", "rsqes_pycsv_astream"):
            stream = (
                spark.readStream.format(fmt)
                .schema(DDL)
                .option("path", out)
                .option("schema_ddl", DDL)
                .load()
            )
            q = (
                stream.writeStream.format("memory")
                .queryName(f"eq_{fmt}")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            reads[fmt] = sorted(
                tuple(r) for r in spark.sql(f"SELECT * FROM eq_{fmt}").collect()
            )
        assert reads["rsqes_pycsv_pstream"] == reads["rsqes_pycsv_astream"]
        assert len(reads["rsqes_pycsv_astream"]) == 300
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_stream_sink_commit_is_replay_idempotent(tmp_path):
    """A replayed micro-batch commit must not duplicate output: the
    second attempt's commit clears the first attempt's finals for the
    SAME batchId before renaming its own staged files (the
    exactly-once contract source_python_stream_writer relies on).
    Driver-side protocol test — no Spark session needed."""
    import os

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from rs_query_engine_spark.sources.pydatasource import (
        CsvStreamSinkWriter,
    )

    # built programmatically: fromDDL needs a live JVM, this protocol
    # test deliberately runs without one
    schema = StructType(
        [
            StructField("k", IntegerType()),
            StructField("v", StringType()),
        ]
    )
    path = str(tmp_path / "sink")
    w = CsvStreamSinkWriter(schema, path)

    # attempt 1 of batch 7: two partitions
    m1 = [w.write(iter([(1, "a")])), w.write(iter([(2, "b")]))]
    w.commit(m1, 7)
    first = sorted(f for f in os.listdir(path) if f.endswith(".csv"))
    assert len(first) == 2 and all(f.startswith("batch-00007-") for f in first)

    # replay of batch 7 (e.g. driver restart mid-commit): new staged
    # files, same batchId — commit must supersede, not accumulate
    m2 = [w.write(iter([(1, "a")])), w.write(iter([(2, "b")]))]
    w.commit(m2, 7)
    second = sorted(f for f in os.listdir(path) if f.endswith(".csv"))
    assert len(second) == 2, second  # no duplicates from attempt 1
    assert not [f for f in os.listdir(path) if f.endswith(".staged")]

    # a different batch appends alongside, untouched by batch 7's replay
    m3 = [w.write(iter([(3, "c")]))]
    w.commit(m3, 8)
    finals = sorted(f for f in os.listdir(path) if f.endswith(".csv"))
    assert len(finals) == 3
    assert sum(f.startswith("batch-00008-") for f in finals) == 1

    # abort drops staged files without touching finals
    m4 = [w.write(iter([(4, "d")]))]
    w.abort(m4, 9)
    assert not [f for f in os.listdir(path) if f.endswith(".staged")]
    assert len([f for f in os.listdir(path) if f.endswith(".csv")]) == 3


def test_register_once_registers_once_per_session(spark):
    """``session.register_once`` skips a repeat in the same session and
    registers again in a new one."""
    from rs_query_engine_spark.session import register_once

    calls = []
    other = spark.newSession()
    for session in (spark, spark, other, other):
        register_once(session, "rsqes_once_probe", lambda: calls.append(session))
    assert calls == [spark, other]


def test_routed_queries_register_each_name_once_per_session(spark, sf_dir, monkeypatch):
    """Every Python data source and UDTF registration goes through
    ``register_once``: building the same queries twice in a session
    that has registered nothing yet registers each name once. (The
    shared session stands in for a fresh one, with an empty
    ``register_once`` record: Spark 4.1 refuses a ``newSession()``
    a source name its root session registered.)"""
    import weakref

    from pyspark.sql.datasource import DataSourceRegistration
    from pyspark.sql.udtf import UDTFRegistration

    from rs_query_engine_spark import queries as registry
    from rs_query_engine_spark import session

    names = []
    register_source, register_udtf = DataSourceRegistration.register, UDTFRegistration.register

    def count_source(self, source):
        names.append(source.name())
        return register_source(self, source)

    def count_udtf(self, name, f):
        names.append(name)
        return register_udtf(self, name, f)

    monkeypatch.setattr(DataSourceRegistration, "register", count_source)
    monkeypatch.setattr(UDTFRegistration, "register", count_udtf)
    monkeypatch.setattr(session, "_REGISTERED", weakref.WeakKeyDictionary())
    built = registry.queries()
    for _ in range(2):
        for name in (
            "source_python_arrow_batch",
            "source_python_arrow_pruned",
            "udtf_polymorphic_unpack",
        ):
            built[name](spark, sf_dir)
    assert sorted(names) == ["rsqes_pycsv_arrow", "rsqes_unpack_delim"]
