"""SparkSession factory.

The reference engine is single-threaded and in-process (no session
concept beyond ``Catalog``, ``src/catalog.rs:11``); here the session is
the unit of execution and carries the scale-oriented defaults:

- AQE on (runtime re-planning, partition coalescing, skew-join
  handling) so plans adapt when data sizes at 100 TB differ from
  compile-time estimates.
- ``spark.sql.shuffle.partitions`` sized to the local harness (32
  threads); on a real cluster this is overridden per deployment (or
  left to AQE's coalescing with a high initial value).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Arrow-backed Python interop so any Pandas-UDF path is vectorized.
- ``spark.python.daemon.module`` set to ``rs_query_engine_spark.pyworker``:
  pyspark's daemon with a guard that keeps a reused Python worker from
  re-reading every zip archive on its path at each call (about 150 ms
  of worker CPU per UDF, UDTF or Python data-source task on Python
  3.11). Executors must therefore be able to import this package,
  which the by-reference pickles of its UDFs and data sources already
  require.
"""

from __future__ import annotations

import os
import weakref
from typing import Callable

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rs_query_engine_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    32) for the harness; on a cluster, pass ``None`` and set master via
    spark-submit — the conf here is master-agnostic.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "rs_query_engine_spark.pyworker")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # The generated-class cache (whole-stage codegen + expression
        # codegen) is keyed by generated SOURCE and capped at 100
        # entries by default — sized for apps that run a handful of
        # query shapes. This engine's registry holds 336 distinct
        # queries (each compiling several codegen fragments), so a
        # sequential pass evicts every entry before it is reused and
        # EVERY run of a query re-pays Janino compilation (~10-100 ms
        # per fragment). Static conf: takes effect only at JVM start,
        # inert when attaching to an existing session. Production
        # justification: a long-lived multi-tenant SQL application at
        # 100 TB serves far more than 100 distinct plan shapes;
        # the cache holds compiled classes (small) — raising it trades
        # a few MB of driver/executor metaspace for not recompiling.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# SparkSession -> names registered in it through register_once.
_REGISTERED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register_once(
    spark: SparkSession, name: str, register: Callable[[], object]
) -> None:
    """Call ``register()``, which registers the Python data source or
    UDTF ``name`` in ``spark``, only the first time per session.

    Spark 4.1 does not skip a repeat: it pickles the class again and
    replaces the previous registration (logging a warning), about 4 ms
    for a data source and 7 ms for a UDTF in a warm session, a few per
    cent of a query that reads a small Python source."""
    names = _REGISTERED.setdefault(spark, set())
    if name not in names:
        register()
        names.add(name)


# applicationId -> env value already pointed at via setCheckpointDir.
# getCheckpointDir() returns a Hadoop-qualified URI (``file:/...``), so
# comparing it against the raw (possibly scheme-less) env value is
# unreliable; memoizing the "already pointed" fact per session keeps
# setCheckpointDir to one call (one checkpoint-<uuid> subdir) per
# session per env value (ADVICE r10).
_CHECKPOINT_POINTED: dict[str, str] = {}


def truncate_lineage(df):
    """Cut a DataFrame's lineage so downstream consumers reuse the
    materialized result instead of recomputing the subtree (the
    multi-consumer staging pattern in the dedup/graph/index
    pipelines; use as ``df.transform(truncate_lineage)``).

    Default: ``DataFrame.localCheckpoint`` — blocks live on EXECUTOR
    storage, so losing an executor that holds them fails the job with
    no recompute path. That trade is right for local[32] and short
    cluster jobs (no distributed-FS round-trip). For multi-hour 100 TB
    runs on preemptible fleets, set ``RSQES_CHECKPOINT_DIR`` to a
    reliable-FS path (``hdfs://…``, ``s3a://…``): every call site then
    routes through ``SparkContext.setCheckpointDir`` +
    ``DataFrame.checkpoint``, which survives executor loss at the cost
    of a distributed-FS write. One env var flips EVERY lineage cut in
    the engine; results are identical either way
    (tests/unit/test_checkpoint_switch.py).

    Both paths checkpoint EAGERLY (localCheckpoint's default): the
    call sites rely on the cut being materialized once, not once per
    downstream consumer.
    """
    ckpt_dir = os.environ.get("RSQES_CHECKPOINT_DIR")
    if not ckpt_dir:
        return df.localCheckpoint()
    sc = df.sparkSession.sparkContext
    # setCheckpointDir mints a fresh checkpoint-<uuid> subdir per call;
    # set once per session, re-pointing only if the env var moved.
    app_id = sc.applicationId
    if _CHECKPOINT_POINTED.get(app_id) != ckpt_dir:
        sc.setCheckpointDir(ckpt_dir)
        _CHECKPOINT_POINTED[app_id] = ckpt_dir
    return df.checkpoint(eager=True)
