"""Output sinks. The reference has none — results live and die as
in-memory batches (SURVEY §2.1: tests pretty-print
``Vec<RecordBatch>``, ``src/physical_plan/aggr/mod.rs:293``). A real
engine needs durable outputs, so these are first-class here.

Scale design:
- **Parquet + partitionBy** is the default: columnar, predicate/column
  pushdown on re-read, and hive-style partition directories give
  partition PRUNING — a reader filtering on a partition key touches
  only matching directories, the single biggest scan saver at 100 TB.
- Choose partition columns with bounded cardinality (date, flag, …):
  each distinct value is a directory; a high-cardinality partition key
  produces millions of tiny files.
- ``coalesce_files`` bounds output file count (writers emit one file
  per task — a 32-partition shuffle writing a 6-row dimension should
  not produce 32 files). It coalesces, never repartitions: no extra
  shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    coalesce_files: int | None = None,
) -> None:
    """Write parquet, optionally hive-partitioned by ``partition_by``."""
    if coalesce_files:
        df = df.coalesce(coalesce_files)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    coalesce_files: int | None = None,
) -> None:
    """Write CSV (the reference's only *input* format, round-tripped
    as an output)."""
    if coalesce_files:
        df = df.coalesce(coalesce_files)
    df.write.mode(mode).option("header", header).csv(path)


def write_json(
    df: DataFrame, path: str, mode: str = "overwrite", coalesce_files: int | None = None
) -> None:
    """Write newline-delimited JSON."""
    if coalesce_files:
        df = df.coalesce(coalesce_files)
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, coalesce_files: int | None = None) -> None:
    """Overwrite ``path`` with ORC (Spark's second built-in columnar format — same
    vectorized reader, predicate pushdown, and column pruning story as
    parquet; the interchange format for Hive-lineage warehouses)."""
    if coalesce_files:
        df = df.coalesce(coalesce_files)
    df.write.mode("overwrite").orc(path)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Save (overwrite) as a BUCKETED managed table (``bucketBy`` + ``sortBy``).

    Bucketing is the 100-TB co-location tool: two tables bucketed on
    the same key into the same bucket count join WITHOUT a shuffle —
    the scan's output partitioning already satisfies the join's
    distribution requirement. Use for fact tables repeatedly joined on
    the same key; bucket count should be a multiple of cluster
    parallelism and sized so each bucket file is 100 MB - 1 GB."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table_name):
        # a prior session's managed-table directory may survive in the
        # warehouse while the (in-memory) catalog forgot the table;
        # Spark then refuses CREATE with LOCATION_ALREADY_EXISTS, so
        # clear the orphaned location first
        import os
        import shutil

        loc = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"),
            table_name.lower(),
        )
        # only delete what is recognizably an orphaned Spark table dir
        # (empty, or containing part files / a _SUCCESS marker) — never
        # an arbitrary directory that happens to collide with the name
        if os.path.isdir(loc):
            entries = os.listdir(loc)
            if not entries or any(
                f == "_SUCCESS" or f.startswith("part-") for f in entries
            ):
                shutil.rmtree(loc)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def compact_files(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ~``target_file_bytes`` files and return the output file count.

    The small-files problem is THE operational failure mode of
    long-running ingestion at scale (every file costs a task + NN/
    listing metadata; streaming sinks emit one file per trigger per
    partition). Sizing uses the source's on-disk bytes (file-index
    metadata, no data read); the rewrite is one round-robin shuffle —
    at 100 TB run it per partition-directory, not corpus-wide."""
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src_path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_path)
    df.repartition(n).write.mode("overwrite").parquet(dst_path)
    # report what actually landed — empty partitions write no file, so
    # the planned n can overcount
    return sum(
        f.endswith(".parquet")
        for f in os.listdir(dst_path)
        if not f.startswith(("_", "."))
    )


def _corrupt_schema(schema_ddl: str, corrupt_col: str) -> str:
    """Append the corrupt-record column to a caller DDL, refusing a
    name collision: if ``schema_ddl`` already declares ``corrupt_col``
    the ``from_json`` schema would carry a duplicate field and routing
    would misclassify (review r11 finding). Parsed via
    ``StructType.fromDDL`` so quoting/nesting in the DDL is respected
    rather than string-matched."""
    from pyspark.sql.types import StructType

    names = {f.name for f in StructType.fromDDL(schema_ddl).fields}
    if corrupt_col in names:
        raise ValueError(
            f"schema_ddl already declares {corrupt_col!r}; pick a "
            "corrupt-record column name not present in the data schema"
        )
    return f"{schema_ddl}, {corrupt_col} string"


def quarantine_json(
    spark: SparkSession,
    raw_path: str,
    schema_ddl: str,
    good_path: str,
    dlq_path: str,
    corrupt_col: str = "_corrupt_record",
) -> None:
    """DEAD-LETTER ROUTING for a semi-structured ingest: read a
    JSON-lines directory as raw TEXT, parse each line PERMISSIVEly
    via ``from_json`` carrying the corrupt-record column, write the
    parseable rows as parquet to ``good_path`` and the raw text of
    every malformed line to ``dlq_path`` (text, one line per record,
    byte-identical to the input so the dead-letter queue is
    REPAIRABLE — a fixed producer can re-submit it verbatim).

    Contract (review r11 finding — measured): good ∪ dlq = every
    NON-BLANK line, disjointly. Whitespace-only lines are ignored by
    design (the NDJSON convention — the JSON file source also skips
    them silently; routing through text+from_json makes the skip
    explicit and keeps this function's classification identical to
    :func:`quarantine_json_stream`'s). A bare ``null`` or other
    non-object text IS routed to the DLQ; a valid all-null object
    (``{}``) stays good.

    The scan materializes once (lineage cut) and feeds both filtered
    writes, so good/dlq are two passes over cached blocks, not two
    reads of the source. Each sink is Spark-committed (_SUCCESS
    appears only after every task finished — per sink, a torn run
    leaves no half-written output visible), but the PAIR is not
    atomic: a crash between the two writes can publish one side
    without the other (review r12 finding). The DLQ is therefore
    written FIRST — downstream consumes the good set, so it publishes
    last, and a torn run can only leave a DLQ with no good set (retry
    overwrites both), never a consumable good set with a missing or
    stale DLQ. At 100 TB this is the ingest-edge contract: nothing
    non-blank is dropped, nothing corrupt leaks downstream, and the
    quarantine is re-processable rather than a write-off."""
    from rs_query_engine_spark.session import truncate_lineage

    df = (
        spark.read.text(raw_path)
        .filter(F.trim(F.col("value")) != "")
        .select(
            "value",
            F.from_json(
                F.col("value"),
                _corrupt_schema(schema_ddl, corrupt_col),
                {"columnNameOfCorruptRecord": corrupt_col},
            ).alias("r"),
        )
        .transform(truncate_lineage)
    )
    bad = df.filter(F.col(f"r.{corrupt_col}").isNotNull())
    good = (
        df.filter(F.col(f"r.{corrupt_col}").isNull())
        .select("r.*")
        .drop(corrupt_col)
    )
    bad.select("value").coalesce(1).write.mode("overwrite").text(dlq_path)
    good.coalesce(4).write.mode("overwrite").parquet(good_path)


def write_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """The exactly-once ``foreachBatch`` write: ``df`` lands in its own
    ``_batch_id=N`` partition of the parquet table at ``path`` under
    dynamic partition overwrite, so a batch replayed after a failure
    rewrites its partition instead of appending duplicates."""
    (
        df.withColumn("_batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_batch_id")
        .parquet(path)
    )


def quarantine_json_stream(
    raw_lines: DataFrame,
    schema_ddl: str,
    good_path: str,
    dlq_path: str,
    checkpoint_dir: str,
) -> None:
    """STREAMING dead-letter routing — :func:`quarantine_json`'s
    incremental twin for an unbounded ingest edge: ``raw_lines`` is a
    streaming frame of raw JSON text lines (``value: string`` — a
    file-stream text source, Kafka values, a Python stream reader);
    each micro-batch parses permissively via ``from_json`` and routes
    parseable rows to ``good_path`` (parquet) and malformed raw lines
    to ``dlq_path`` (text-typed parquet, byte-identical ``value`` —
    repairable) through one ``foreachBatch``.

    Replay safety is idempotence-by-partition (the engine's
    established foreachBatch contract — streaming/events.py): both
    sinks are ``_batch_id``-partitioned with dynamic partition
    overwrite, so a batch retried after failure OVERWRITES its own
    partition instead of appending duplicates, and the checkpoint's
    batch accounting makes good ∪ dlq = input hold across restarts —
    the same closed-books contract as the batch writer, now under
    micro-batch replay. Runs the stream to completion
    (availableNow-style drivers call ``processAllAvailable``)."""
    from rs_query_engine_spark.streaming.events import drain

    # collision-checked ONCE, before the stream starts — a bad caller
    # DDL must fail fast here, not surface per-batch wrapped in a
    # StreamingQueryException
    parse_schema = _corrupt_schema(schema_ddl, "_corrupt_record")

    def route(batch_df: DataFrame, batch_id: int) -> None:
        # the corrupt-record column rides INSIDE from_json's schema
        # (same PERMISSIVE contract as the batch sibling) — a valid
        # all-null object stays good; only malformed text marks.
        # Whitespace-only lines are dropped FIRST (measured: from_json
        # returns a NULL struct for them whose corrupt column is also
        # null, which would misroute them as all-null GOOD rows —
        # review r11 finding; the NDJSON convention is to skip them)
        parsed = batch_df.filter(F.trim(F.col("value")) != "").select(
            "value",
            F.from_json(
                F.col("value"),
                parse_schema,
                {"columnNameOfCorruptRecord": "_corrupt_record"},
            ).alias("r"),
        )
        bad = parsed.filter(F.col("r._corrupt_record").isNotNull())
        good = (
            parsed.filter(F.col("r._corrupt_record").isNull())
            .select("r.*")
            .drop("_corrupt_record")
        )
        # DLQ first, good last (same torn-run ordering as the batch
        # sibling); batch-id partition overwrite makes the retry that
        # follows a torn run rewrite both sides of its own partition
        write_batch_partition(bad.select("value"), batch_id, dlq_path)
        write_batch_partition(good, batch_id, good_path)

    drain(
        raw_lines.sparkSession,
        raw_lines.writeStream.foreachBatch(route).option(
            "checkpointLocation", checkpoint_dir
        ),
    )
