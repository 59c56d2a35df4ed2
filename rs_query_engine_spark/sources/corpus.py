"""Test-corpus loaders for the driver's TPC-H-ish parquet tables.

The tables mirror `TESTDATA.md`: one parquet per table under
``{sf_dir}/{name}.parquet``. Loading is lazy (``spark.read.parquet``) —
at 100 TB these would be partitioned directories and the same call
works unchanged; Catalyst prunes columns and pushes filters into the
parquet scan.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# (region=5 rows, nation=25 rows always; supplier/part/customer scale
# slowly vs lineitem). Used by queries to pick broadcast joins.
BROADCAST_DIMS = ("region", "nation", "supplier")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to a session-timezone ``timestamp``.

    Spark 4 reads the parquet TIMESTAMP(NANOS) column as
    ``timestamp_ntz`` with micro-truncated values; cast it to the
    session-TZ (UTC) ``timestamp`` so downstream event-time logic and
    the oracle compare see identical instants. Frames whose ``ts`` is
    already a ``timestamp`` pass through. A metadata-only column
    rewrite that leaves the scan vectorized."""
    from pyspark.sql import types as T

    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# (sf_dir, name) -> observed parquet schema. spark.read.parquet
# EAGERLY lists the path and reads a footer to infer the schema on
# every call (~30-60 ms driver-side per call on a healthy machine,
# measured 3.5x the explicit-schema read); the registry constructs
# each table a few hundred times per bench/driver pass, so the footer
# work is pure repeated overhead. The cache holds SCHEMAS only — each
# call still returns a fresh DataFrame over the live files, every
# action still scans parquet, and the cached schema is byte-identical
# to what inference returns for the same immutable corpus file (keyed
# by directory, so distinct fixtures never collide). At 100 TB the
# same trick is "pin the table schema in the metastore": inference
# over thousands of footers is the thing production catalogs exist to
# avoid.
_SCHEMA_CACHE: dict[tuple[str, str], "object"] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table lazily.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS); see
    ``normalize_events_ts``."""
    df = _read_cached_schema(spark, sf_dir, name)
    return normalize_events_ts(df) if name == "events" else df


def _read_cached_schema(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (sf_dir, name)
    path = f"{sf_dir}/{name}.parquet"
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def stream_source_dir(src: str) -> str:
    """A directory a file-stream source can tail for the parquet at
    ``src``. The file-stream source requires a *directory* (it tails
    new files, the production drop-directory layout); the corpus ships
    single files, so a file is exposed through a symlink directory
    keyed by a stable digest of its absolute path (not builtin
    ``hash()``, which is per-process randomized), so re-runs reuse one
    shim dir instead of leaking a new /tmp dir per process. A
    directory is returned as is."""
    if not os.path.isfile(src):
        return src
    src = os.path.abspath(src)
    digest = hashlib.md5(src.encode()).hexdigest()[:16]
    shim = os.path.join(tempfile.gettempdir(), f"rsqes_stream_{digest}")
    os.makedirs(shim, exist_ok=True)
    link = os.path.join(shim, os.path.basename(src))
    if not os.path.exists(link):
        os.symlink(src, link)
    return shim


def load_corpus(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every corpus table lazily; returns name → DataFrame."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_corpus(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load + register each table as a temp view (for the SQL entry
    point and ad-hoc ``spark.sql``)."""
    dfs = load_corpus(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure a DataFrame has at least core-count partitions before
    CPU-heavy per-row work.

    The test corpus ships one parquet file with ONE row group per
    table, and a row group is indivisible to Spark's reader — so every
    map-side stage over it runs as a single task regardless of
    cluster size. A cheap round-robin shuffle of the (small) input
    buys full parallelism for expensive projections (md5 hashing,
    vector math, Python stages). At 100 TB inputs arrive as thousands
    of files and this is a no-op, costing nothing in production plans.

    The parallelism probe is ``df.inputFiles()`` (reads the already-
    built file index): file count lower-bounds scan partitions. Do NOT
    probe via ``df.rdd.getNumPartitions()`` — the Python RDD
    conversion costs seconds per call."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        if len(df.inputFiles()) >= target:
            return df
    except AnalysisException as e:
        # inputFiles() raises only for non-file-based plans (views,
        # in-memory frames) — those genuinely need the repartition.
        # Anything else propagating here would mean every caller
        # silently pays a shuffle, so keep the except narrow and leave
        # a trace.
        import logging

        logging.getLogger(__name__).debug(
            "spread(): inputFiles() probe failed (%s); repartitioning", e
        )
    return df.repartition(target)
