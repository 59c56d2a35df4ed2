"""Queries added in round 12 (live since round 13).

14 queries, ALL with exact oracles:

- **State-store reader, remaining surfaces** (all probed before
  registration): the stream-stream JOIN state
  layout (per-side reads of the ``symmetricHashJoin`` stores over a
  new persisted join checkpoint — buffered rows ≙ admitted events
  still inside their condition-derived retention bounds), the
  ``state-metadata`` layout audit across all three checkpointed
  operator families, ``batchId`` POINT-IN-TIME reads (state as of
  mid-stream, oracle = the per-prefix watermark arithmetic), the
  per-batch state-GROWTH curve those enable, and a
  watermark-progress audit parsed from the checkpoints' own offset
  logs. ``snapshotStartBatchId`` was probed and SKIPPED: the
  HDFS-backed store writes ``.snapshot`` files only after enough
  deltas accumulate (minDeltasForSnapshot), and a 5-batch checkpoint
  has none — the option fails with CANNOT_LOAD_STATE_STORE
  (measured r11); it also only changes WHERE replay starts, never
  WHAT is reconstructed, so ``batchId`` is the user-visible
  time-travel surface.
- **Arrow-batch Python DataSource** (VERDICT r10 next-#3's named
  lead): ``rsqes_pycsv_arrow`` — same format contract as the tuple
  reader, ``pyarrow.csv`` parsing, RecordBatch yield, zero per-row
  Python; measured ~3.8× on a 600k-row scan (BENCH_NOTES r11).
  Registered three times: complement-filter row-level parity (the
  pair row-covers the table across both readers), a pruned
  subset-schema aggregate, and the ARROW-BATCH STREAMING twin
  (``rsqes_pycsv_astream`` — the family's last per-row-Python
  surface closed; exactly-once through the vectorized path).
- **Training-pipeline extensions**: bounded-round min-label
  propagation over the blocked near-dup graph (fixed-budget
  clustering; oracle = the recurrence unrolled), EXACT-INTEGER mass
  diffusion (the weighted blast radius — conservation
  property-pinned), epoch/mixture planning (domain weights + token
  budget → integer-exact repeat factors), the per-source documents
  DATASET CARD (volumes, language spread, corpus-wide duplicate
  exposure, length distribution), a PERMISSIVE-mode corrupt-record
  ingest audit over a deterministically truncated JSON fixture, and
  the QUARANTINE WRITER roundtrip (good→parquet, malformed raw
  lines→repairable dead-letter text; recovered-key audit).
- **transformWithStateInPandas** remains BLOCKED in this container
  (its driver worker hard-imports ``google.protobuf``, not
  installed — probed r11). Semantics covered by
  ``streaming/stateful.py:ttl_flush_stream``; do not re-probe
  unless protobuf appears in the image.

Float-determinism discipline matches ``queries.py`` (see its module
docstring): row-level doubles raw, no round(), SUM/AVG through exact
decimals, every aggregate/computed column aliased identically in the
Spark code and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rs_query_engine_spark.queries import _t, register

# ---------------------------------------------------------------------------
# State-store data source, remaining surfaces (the r11 leads): the
# state-metadata audit, the stream-stream JOIN state layout, snapshot
# time travel (batchId), and the state-growth curve it enables.
# ---------------------------------------------------------------------------

# Shared replay arithmetic for the HOURLY WINDOWED AGG checkpoint
# (streaming/events.py:ensure_hourly_agg_checkpoint over the 4-file
# late feed): tier CTEs, the per-prefix watermarks, and the
# window-end admission rule — the same measured semantics
# stream_late_data_drop / stream_window_state_inspection pin, here
# parameterized by BATCH PREFIX so point-in-time state is expressible.
# Batch layout: 0=a1, 1=a2, 2=b(late), 3=c(catch-up), 4=no-data.
# Eviction watermark for batch N derives from data through N-1
# (w_evict: batch1→wa, batch2/3→w1, batch4→wf); the late filter for
# batch N derives from data through N-2 (b admitted iff window end
# > wa; a1/a2/c see no effective filter).
_WAGG_TIERS = """
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ), m AS (SELECT MAX(ts) AS mx FROM e),
    a1 AS (SELECT e.* FROM e, m
           WHERE ts > mx - INTERVAL 5 DAY AND ts <= mx - INTERVAL 3 DAY),
    a2 AS (SELECT e.* FROM e, m
           WHERE ts > mx - INTERVAL 3 DAY AND ts <= mx - INTERVAL 2 DAY),
    b AS (SELECT e.* FROM e, m WHERE ts <= mx - INTERVAL 5 DAY),
    c AS (SELECT e.* FROM e, m WHERE ts > mx - INTERVAL 2 DAY),
    wa AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM a1),
    w1 AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w
           FROM (SELECT ts FROM a1 UNION ALL SELECT ts FROM a2)),
    wf AS (SELECT date_trunc('milliseconds', MAX(ts))
                  - INTERVAL 84 HOUR AS w FROM c),
    badm AS (SELECT b.ts, b.event_type FROM b, wa
             WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wa.w)"""


@register(
    "stream_state_time_travel",
    oracle=f"""{_WAGG_TIERS},
    accepted AS (
        SELECT ts, event_type FROM a1
        UNION ALL SELECT ts, event_type FROM a2
        UNION ALL SELECT ts, event_type FROM badm
    ),
    agg AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events
        FROM accepted GROUP BY 1, 2
    )
    SELECT g.window_start, g.event_type, g.n_events
    FROM agg g, w1
    WHERE g.window_start + INTERVAL 1 HOUR > w1.w
    """,
)
def stream_state_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME state read — ``option("batchId", 2)`` on the
    ``statestore`` reader replays the HDFS-backed store's delta files
    only up to batch 2's commit, reconstructing the windowed agg's
    state AS OF mid-stream (after the late tier landed, before the
    catch-up tier): held windows are the batch-≤2 admitted rows
    (a1 ∪ a2 ∪ late-tier rows whose window end clears the batch-0
    watermark) grouped per (window, type), minus windows finalized by
    the batch-2 eviction watermark (derived from data through batch
    1). Validated cell-exact against this arithmetic before
    registration (round-11 probe).

    Operationally this is the state-debugging time machine: 'what was
    this operator holding when batch 2 misbehaved' — answered from
    checkpoint files alone, after the fact, without replaying the
    stream. At 100 TB the read stays partition-parallel and touches
    one store's delta chain up to the requested batch, never the
    stream's input data. The reference has no streaming concept
    (SURVEY §2.6); this extends the §7 M2.6 streaming family."""
    from rs_query_engine_spark.streaming.events import (
        ensure_hourly_agg_checkpoint,
        ensure_state_reader_ready,
    )

    ck = ensure_hourly_agg_checkpoint(spark, sf_dir)
    ensure_state_reader_ready(spark)
    ss = spark.read.format("statestore").option("batchId", 2).load(ck)
    return ss.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


@register(
    "stream_state_growth_curve",
    oracle=f"""{_WAGG_TIERS},
    held0 AS (SELECT DISTINCT date_trunc('hour', ts) AS ws, event_type
              FROM a1),
    acc1 AS (SELECT ts, event_type FROM a1
             UNION ALL SELECT ts, event_type FROM a2),
    held1 AS (SELECT DISTINCT date_trunc('hour', ts) AS ws, event_type
              FROM acc1
              WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                    > (SELECT w FROM wa)),
    acc2 AS (SELECT * FROM acc1
             UNION ALL SELECT ts, event_type FROM badm),
    held2 AS (SELECT DISTINCT date_trunc('hour', ts) AS ws, event_type
              FROM acc2
              WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                    > (SELECT w FROM w1)),
    acc3 AS (SELECT * FROM acc2
             UNION ALL SELECT ts, event_type FROM c),
    held3 AS (SELECT DISTINCT date_trunc('hour', ts) AS ws, event_type
              FROM acc3
              WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                    > (SELECT w FROM w1)),
    held4 AS (SELECT DISTINCT date_trunc('hour', ts) AS ws, event_type
              FROM acc3
              WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
                    > (SELECT w FROM wf))
    SELECT 0 AS batch_id, COUNT(*) AS n_state_rows FROM held0
    UNION ALL SELECT 1, COUNT(*) FROM held1
    UNION ALL SELECT 2, COUNT(*) FROM held2
    UNION ALL SELECT 3, COUNT(*) FROM held3
    UNION ALL SELECT 4, COUNT(*) FROM held4
    """,
)
def stream_state_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-GROWTH CURVE — the operational 'is my state bounded?'
    audit: the windowed agg's held-row count at EVERY batch of its
    checkpoint (``batchId`` time travel × 5), showing state swell
    (late tier admitted at batch 2) and drain (catch-up tier's
    watermark advance finalizes old windows at batch 4). The oracle
    replays the per-prefix arithmetic: held rows at batch N = admitted
    (window, type) pairs through batch N whose window end clears the
    batch-N eviction watermark (wa/w1/w1/wf for batches 1-4; batch 0
    evicts nothing — its watermark is still unset).

    Five bounded scans of one small checkpoint, each
    partition-parallel; nothing touches the stream's input. In
    production this curve is the first thing to pull when a stateful
    job's memory grows — it localizes WHICH batch started hoarding.
    Counts are exact integers; no float discipline needed."""
    from functools import reduce

    from rs_query_engine_spark.streaming.events import (
        ensure_hourly_agg_checkpoint,
        ensure_state_reader_ready,
    )

    ck = ensure_hourly_agg_checkpoint(spark, sf_dir)
    ensure_state_reader_ready(spark)
    parts = []
    for b in range(5):
        ss = spark.read.format("statestore").option("batchId", b).load(ck)
        parts.append(
            ss.agg(F.count(F.lit(1)).alias("n_state_rows")).select(
                F.lit(b).alias("batch_id"), "n_state_rows"
            )
        )
    return reduce(DataFrame.unionByName, parts)


def _join_state_oracle() -> str:
    """Oracle for the buffered stream-stream JOIN state: the same
    admitted-set arithmetic the live join queries replay
    (queries_staged_r10._SS_PROLOGUE), with the final min-of-sides
    watermark applied as the RETENTION rule instead of the emission
    rule — a view is buffered while ``view_ts + 24 h >= wf``, a
    purchase while ``ts >= wf`` (eviction requires the watermark to
    strictly pass the condition-derived bound, pinned in
    tests/unit/test_stream_join_eviction.py)."""
    from rs_query_engine_spark.queries_staged_r10 import (
        _SS_ACC,
        _SS_PROLOGUE,
        _ss_wf,
    )

    return f"""{_SS_PROLOGUE}
{_ss_wf()}{_SS_ACC}
    SELECT 'view' AS side, user_id, event_id, ts
    FROM acc, wf
    WHERE event_type = 'view' AND ts + INTERVAL 24 HOUR >= wf.w
    UNION ALL
    SELECT 'purchase' AS side, user_id, event_id, ts
    FROM acc, wf
    WHERE event_type = 'purchase' AND ts >= wf.w
    """


@register("stream_join_state_inspection", oracle=_join_state_oracle())
def stream_join_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM JOIN state layout — the third state family the
    ``statestore`` reader exposes (``symmetricHashJoin`` keeps four
    stores: per side ``keyToNumValues`` + ``keyWithIndexToValue``;
    ``option("joinSide", ...)`` merges each side's pair into plain
    key/value rows). The checkpointed pipeline is exactly
    ``stream_stream_join_late``'s view→purchase attribution join over
    the 4-file late feed (``streaming/events.py:
    ensure_join_checkpoint``), so the buffered rows at stream end are
    value-exactly the admitted events still inside their
    condition-derived retention bounds against the final watermark —
    which is what the oracle states, side by side.

    This closes the join operator's books the way the aPWS and
    windowed-agg pairs do: emitted pairs (the live query) come from
    admitted × admitted, and the BUFFER holds precisely the admitted
    rows a future partner could still legally match — the memory the
    watermark has not yet reclaimed. Production reads this surface to
    answer 'which side's buffer is growing and what ages are stuck in
    it' with a partition-parallel checkpoint-file scan, never pausing
    the stream. Validated count-exact against the replay arithmetic
    at sf0.001 before registration (round-11 probe: 30 views + 18
    purchases buffered)."""
    from rs_query_engine_spark.streaming.events import (
        ensure_join_checkpoint,
        ensure_state_reader_ready,
    )

    ck = ensure_join_checkpoint(spark, sf_dir)
    ensure_state_reader_ready(spark)
    left = (
        spark.read.format("statestore")
        .option("joinSide", "left")
        .load(ck)
        .select(
            F.lit("view").alias("side"),
            F.col("value.vu").alias("user_id"),
            F.col("value.view_id").alias("event_id"),
            F.col("value.view_ts").alias("ts"),
        )
    )
    right = (
        spark.read.format("statestore")
        .option("joinSide", "right")
        .load(ck)
        .select(
            F.lit("purchase").alias("side"),
            F.col("value.user_id").alias("user_id"),
            F.col("value.purchase_id").alias("event_id"),
            F.col("value.purchase_ts").alias("ts"),
        )
    )
    return left.unionByName(right)


@register(
    "stream_state_metadata_audit",
    oracle="""
    SELECT * FROM (VALUES
        ('hourly_window', 'stateStoreSave', 'default',
         CAST(8 AS INT), CAST(0 AS BIGINT), CAST(4 AS BIGINT)),
        ('ttl_flush', 'applyInPandasWithState', 'default',
         CAST(8 AS INT), CAST(0 AS BIGINT), CAST(4 AS BIGINT)),
        ('vp_join', 'symmetricHashJoin', 'left-keyToNumValues',
         CAST(8 AS INT), CAST(0 AS BIGINT), CAST(4 AS BIGINT)),
        ('vp_join', 'symmetricHashJoin', 'left-keyWithIndexToValue',
         CAST(8 AS INT), CAST(0 AS BIGINT), CAST(4 AS BIGINT)),
        ('vp_join', 'symmetricHashJoin', 'right-keyToNumValues',
         CAST(8 AS INT), CAST(0 AS BIGINT), CAST(4 AS BIGINT)),
        ('vp_join', 'symmetricHashJoin', 'right-keyWithIndexToValue',
         CAST(8 AS INT), CAST(0 AS BIGINT), CAST(4 AS BIGINT))
    ) AS t(pipeline, operator_name, store_name,
           num_partitions, min_batch_id, max_batch_id)
    """,
)
def stream_state_metadata_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-METADATA audit — ``spark.read.format("state-metadata")``
    enumerates every state store a checkpoint carries (operator name,
    store name, partition count, retained batch range) without
    touching state data. Run across all three checkpointed operator
    families (aPWS TTL flush, built-in windowed agg, stream-stream
    join), it pins the full physical state LAYOUT: one default store
    for each aggregation-family operator, and the join's four-store
    complement (per side, ``keyToNumValues`` + ``keyWithIndexToValue``).

    The oracle is the expected layout stated literally — every cell
    is determined by the pipeline specs (operator choice, the
    8-partition build conf, the 4-file feed ⇒ batches 0-4), so this
    is an exact-invariant audit in the repo's established sense: it
    fails if Spark changes an operator's store layout, if a
    checkpoint builds with the wrong shuffle width, or if a feed
    change alters the batch count — exactly what a production
    state-compatibility gate (can this upgraded job resume this
    checkpoint?) must catch before a restart is attempted."""
    from rs_query_engine_spark.queries_staged_r11 import TTL_FLUSH_MS
    from rs_query_engine_spark.streaming.events import (
        ensure_hourly_agg_checkpoint,
        ensure_join_checkpoint,
    )
    from rs_query_engine_spark.streaming.stateful import (
        ensure_ttl_flush_checkpoint,
    )

    cks = [
        ("hourly_window", ensure_hourly_agg_checkpoint(spark, sf_dir)),
        ("ttl_flush", ensure_ttl_flush_checkpoint(spark, sf_dir, TTL_FLUSH_MS)),
        ("vp_join", ensure_join_checkpoint(spark, sf_dir)),
    ]
    parts = [
        spark.read.format("state-metadata")
        .load(ck)
        .select(
            F.lit(label).alias("pipeline"),
            F.col("operatorName").alias("operator_name"),
            F.col("stateStoreName").alias("store_name"),
            F.col("numPartitions").alias("num_partitions"),
            F.col("minBatchId").alias("min_batch_id"),
            F.col("maxBatchId").alias("max_batch_id"),
        )
        for label, ck in cks
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "stream_checkpoint_watermark_audit",
    oracle="""
    WITH e AS (
        SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
    ), m AS (SELECT MAX(ts) AS mx FROM e),
    t AS (SELECT e.*, CASE
            WHEN ts <= mx - INTERVAL 5 DAY THEN 2
            WHEN ts <= mx - INTERVAL 3 DAY THEN 0
            WHEN ts <= mx - INTERVAL 2 DAY THEN 1
            ELSE 3 END AS tier
          FROM e, m),
    agg_wm AS (
        SELECT 1 AS batch_id,
               (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                       - INTERVAL 84 HOUR) FROM t WHERE tier = 0) AS w
        UNION ALL SELECT 2,
               (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                       - INTERVAL 84 HOUR) FROM t WHERE tier IN (0, 1))
        UNION ALL SELECT 3,
               (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                       - INTERVAL 84 HOUR) FROM t WHERE tier IN (0, 1, 2))
        UNION ALL SELECT 4,
               (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                       - INTERVAL 84 HOUR) FROM t)
    ),
    join_wm AS (
        SELECT 1 AS batch_id, LEAST(
            (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                    - INTERVAL 84 HOUR) FROM t
              WHERE tier = 0 AND event_type = 'view'),
            (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                    - INTERVAL 84 HOUR) FROM t
              WHERE tier = 0 AND event_type = 'purchase')) AS w
        UNION ALL SELECT 2, LEAST(
            (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                    - INTERVAL 84 HOUR) FROM t
              WHERE tier IN (0, 1) AND event_type = 'view'),
            (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                    - INTERVAL 84 HOUR) FROM t
              WHERE tier IN (0, 1) AND event_type = 'purchase'))
        UNION ALL SELECT 3, LEAST(
            (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                    - INTERVAL 84 HOUR) FROM t
              WHERE tier IN (0, 1, 2) AND event_type = 'view'),
            (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                    - INTERVAL 84 HOUR) FROM t
              WHERE tier IN (0, 1, 2) AND event_type = 'purchase'))
        UNION ALL SELECT 4, LEAST(
            (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                    - INTERVAL 84 HOUR) FROM t
              WHERE event_type = 'view'),
            (SELECT epoch_ms(date_trunc('milliseconds', MAX(ts))
                    - INTERVAL 84 HOUR) FROM t
              WHERE event_type = 'purchase'))
    )
    SELECT 'hourly_window' AS pipeline, batch_id,
           CAST(0 AS BIGINT) AS watermark_ms
    FROM (SELECT 0 AS batch_id) z
    UNION ALL
    SELECT 'hourly_window', batch_id, CAST(w AS BIGINT) FROM agg_wm
    UNION ALL
    SELECT 'vp_join', 0, CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'vp_join', batch_id, CAST(w AS BIGINT) FROM join_wm
    """,
)
def stream_checkpoint_watermark_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WATERMARK-PROGRESS audit from the checkpoint's OFFSET LOG —
    each ``offsets/N`` file's metadata line records the event-time
    watermark IN FORCE for batch N (derived from data through N-1).
    Parsed for both the windowed-agg and the join checkpoints, the
    series is the ground truth of the engine's watermark arithmetic:
    batch 0 always 0 (unset), single-stream batches follow
    ms-floored ``max(ts) - delay`` over the arrived prefix, the late
    tier advances NOTHING (batch 3 = batch 2), and the join takes the
    MIN over both sides' raw arrivals (multipleWatermarkPolicy=min).
    The oracle recomputes every value from the events table — the
    same per-prefix arithmetic every streaming oracle in this repo
    replays, here checked against the engine's own persisted record
    rather than against emitted rows.

    The parse is a distributed text read of the tiny offsets dir
    (metadata lines keyed by filename), ``from_json`` for the
    watermark field — no driver-side file walking. In production this
    is the stall detector: a flat watermark series across batches is
    the first symptom of a source that stopped advancing event time
    (stuck partition, frozen producer clock)."""
    from rs_query_engine_spark.streaming.events import (
        ensure_hourly_agg_checkpoint,
        ensure_join_checkpoint,
    )

    import os as _os

    cks = [
        ("hourly_window", ensure_hourly_agg_checkpoint(spark, sf_dir)),
        ("vp_join", ensure_join_checkpoint(spark, sf_dir)),
    ]
    parts = []
    for label, ck in cks:
        txt = spark.read.text(_os.path.join(ck, "offsets"))
        parts.append(
            txt.select(
                F.lit(label).alias("pipeline"),
                F.regexp_extract(
                    F.input_file_name(), r"/offsets/(\d+)$", 1
                )
                .cast("int")
                .alias("batch_id"),
                F.get_json_object(F.col("value"), "$.batchWatermarkMs")
                .cast("bigint")
                .alias("watermark_ms"),
                # the metadata line is the only offset-log line carrying
                # batchWatermarkMs; keying on the extracted field (not a
                # literal '{"batchWatermarkMs"' prefix) is insensitive to
                # OffsetSeqMetadata's JSON field order (review r12
                # finding) — version headers ("v1") and per-source offset
                # lines extract NULL and drop out
            ).filter(
                F.get_json_object(
                    F.col("value"), "$.batchWatermarkMs"
                ).isNotNull()
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Arrow-batch Python DataSource — the production-shape reader the
# tuple-based family documents as its upgrade path (VERDICT r10 #3's
# named r12 lead): same format contract, pyarrow.csv parsing, zero
# per-row Python.
# ---------------------------------------------------------------------------

_ARROW_CUSTOMER_DDL = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


@register(
    "source_python_arrow_batch",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_acctbal <= 1000.0
    """,
)
def source_python_arrow_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARROW-BATCH pure-Python DataSource read
    (``sources/pydatasource.py:CsvArrowDataSource``): the same
    customer CSV artifact and partition-per-file planning as
    ``source_python_datasource``, but the reader yields
    ``pyarrow.RecordBatch``es parsed by ``pyarrow.csv`` — one
    vectorized C-speed parse per file, zero per-row Python — which is
    the production shape for a custom format at 100 TB (the tuple
    reader's per-row cost is the bottleneck the family's module
    docstring names). The filter is the complement of the tuple
    query's, so together the pair row-covers the whole table across
    BOTH reader implementations; a hash-PASS here proves
    pyarrow.csv's double parse is bit-identical to Python
    ``float()``'s on Spark's shortest-repr output.

    Reference contract: ``src/datasource/table.rs:10-19`` (schema +
    partitioned scan); this is that trait's Arrow-native instance."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvArrowDataSource,
        ensure_customer_csv,
        register_source,
    )

    path = ensure_customer_csv(spark, sf_dir)
    register_source(spark, CsvArrowDataSource)
    df = (
        spark.read.format("rsqes_pycsv_arrow")
        .schema(_ARROW_CUSTOMER_DDL)
        .option("path", path)
        .load()
    )
    return df.filter(F.col("c_acctbal") <= 1000.0)


@register(
    "source_python_arrow_pruned",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def source_python_arrow_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN PRUNING through the Arrow-batch Python reader: the
    bound schema names only (c_mktsegment, c_acctbal) — a subset of
    the CSV header, in a different order — and the reader's
    ``include_columns`` makes pyarrow parse ONLY those two columns,
    so narrow data is all that crosses the Python→JVM Arrow boundary.
    This is the pruning surface a Python source actually has: Spark
    4.1 plans a Project above the BatchScan but hands the reader the
    full bound struct regardless of the downstream select (measured —
    see ``_parse_csv_file``'s docstring), so projection must ride the
    schema the caller binds. The aggregate (per-segment count +
    decimal-exact balance sum) hash-matches the parquet oracle,
    proving subset/reorder parsing drops nothing and coerces
    identically."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvArrowDataSource,
        ensure_customer_csv,
        register_source,
    )

    path = ensure_customer_csv(spark, sf_dir)
    register_source(spark, CsvArrowDataSource)
    df = (
        spark.read.format("rsqes_pycsv_arrow")
        .schema("c_mktsegment string, c_acctbal double")
        .option("path", path)
        .load()
    )
    return df.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(14,2)"))
        .cast("double")
        .alias("sum_acctbal"),
    )


# ---------------------------------------------------------------------------
# Training-pipeline extensions: bounded-round label propagation over
# the near-dup graph, epoch/mixture planning, the documents dataset
# card, and the corrupt-record ingest audit.
# ---------------------------------------------------------------------------

# DuckDB fragment: the SAME blocked 3-gram Jaccard pair rule
# dedup_ngram_jaccard's oracle states (prefix-8 blocking, threshold
# 0.3) — reused here as the EDGE SET so the propagation oracle and the
# Spark operator walk an identical graph.
_JACCARD_EDGES = r"""
    WITH tt AS (
        SELECT doc_id,
               array_to_string(regexp_split_to_array(lower(text), '\s+')[1:8], ' ') AS blk,
               list_distinct(
                   list_transform(
                       generate_series(1, len(regexp_split_to_array(lower(text), '\s+')) - 2),
                       i -> array_to_string(regexp_split_to_array(lower(text), '\s+')[i:i+2], ' ')
                   )
               ) AS sh
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM tt a JOIN tt b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.3
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    )"""


def _lp_round(prev: str, out: str) -> str:
    """One unrolled synchronous min-label round as a DuckDB CTE."""
    return f"""
    {out} AS (
        SELECT v.doc_id,
               LEAST(v.label, COALESCE(MIN(n.label), v.label)) AS label
        FROM {prev} v
        LEFT JOIN edges e ON e.dst = v.doc_id
        LEFT JOIN {prev} n ON n.doc_id = e.src
        GROUP BY v.doc_id, v.label
    )"""


@register(
    "graph_label_propagation",
    oracle=f"""{_JACCARD_EDGES},
    l0 AS (SELECT doc_id, doc_id AS label FROM documents),
    {_lp_round("l0", "l1")},
    {_lp_round("l1", "l2")},
    {_lp_round("l2", "l3")}
    SELECT doc_id, label FROM l3
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-ROUND synchronous min-label propagation over the
    near-dup graph — the fixed-budget community/cluster assignment
    that complements the run-to-convergence connected components
    (``operators/graph.py``): exactly 3 rounds of
    ``label(v) ← min(label(v), min over neighbors)``, every label an
    exact integer, so the oracle is the same recurrence unrolled as
    three CTEs over the identical edge set (dedup_ngram_jaccard's
    blocked pair rule — no all-pairs anywhere). Isolated documents
    keep their own id, making the output a TOTAL labeling.

    Scale shape: the blocked pair rule only links documents that
    share a blocking key, so every edge and every k-hop neighbourhood
    stays inside one bucket. The plan is ONE shuffle, on the block key
    (``graph.block_label_propagation``): each bucket is collected
    once, its neighbours found once, and the 3 rounds run inside the
    bucket, with one lineage cut (the shingle projection) and no join.
    Jaccard work per bucket is quadratic in its size, as in
    ``ngram_jaccard_pairs``. Bounded rounds are the production trade
    at 100 TB: the diameter-k tail that forces large-star/small-star's
    O(log n) dance is deliberately left unconverged — 'how far did
    labels travel in k hops' is itself the signal (influence radius,
    partial-cluster preview before committing to the full CC job)."""
    from rs_query_engine_spark.operators.dedup import blocked_shingles
    from rs_query_engine_spark.operators.graph import block_label_propagation

    d = _t(spark, sf_dir, "documents")
    return block_label_propagation(blocked_shingles(d, "doc_id", "text"), rounds=3)


@register(
    "sample_epoch_mixture_plan",
    oracle=r"""
    WITH tok AS (
        SELECT source,
               CAST(SUM(len(regexp_split_to_array(lower(text), '\s+')))
                    AS BIGINT) AS n_tokens,
               CASE WHEN source IN ('src0','src1','src2','src3')
                    THEN 3 ELSE 1 END AS w
        FROM documents GROUP BY source
    ), tot AS (SELECT SUM(w) AS sum_w FROM tok)
    SELECT source,
           CAST(w AS BIGINT) AS weight,
           n_tokens,
           CAST(4000000 * w // sum_w AS BIGINT) AS quota_tokens,
           CAST((4000000 * w // sum_w) // n_tokens AS BIGINT) AS full_epochs,
           CAST((4000000 * w // sum_w) % n_tokens AS BIGINT) AS rem_tokens,
           CAST((4000000 * w // sum_w) // n_tokens
                + CASE WHEN (4000000 * w // sum_w) % n_tokens > 0
                       THEN 1 ELSE 0 END AS BIGINT) AS repeat_factor,
           CAST(4000000 * w // sum_w AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS coverage
    FROM tok, tot
    """,
)
def sample_epoch_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH/MIXTURE PLANNING — the arithmetic that turns 'train on
    this corpus with these domain weights for T tokens' into a
    concrete per-domain repeat plan (the data-mixture step every
    large-model run starts with): per source, its available token
    supply, its integer token QUOTA under the weight vector (the
    text_domain_mixture convention: src0-3 upweighted 3:1), the full
    epochs + remainder that quota implies, the ceil repeat factor a
    loader needs, and the coverage ratio (quota/supply — >1 means the
    domain repeats, <1 means it is subsampled). All the planning
    columns are pure integer arithmetic (DIV/%), so the oracle is
    exact; the one double is a single bigint/bigint division, raw in
    both engines.

    One shuffle (the per-source token aggregate, map-side partials);
    the plan itself is source-cardinality-sized. At 100 TB this
    output IS the sampler config — paired with
    sample_temperature_mix / sample_split_assign it closes the
    mixture pipeline from weights to served batches."""
    from rs_query_engine_spark.functions.text import token_count
    from rs_query_engine_spark.sources.corpus import spread

    d = _t(spark, sf_dir, "documents")
    tok = (
        spread(d)
        .groupBy("source")
        .agg(F.sum(token_count("text")).alias("n_tokens"))
        .withColumn(
            "w",
            F.when(
                F.col("source").isin("src0", "src1", "src2", "src3"), F.lit(3)
            ).otherwise(F.lit(1)),
        )
    )
    # the weight-vector total is a constant of the weighting scheme,
    # not of the data — but derive it from the same frame so a source
    # appearing/vanishing reprices every quota (window-function sum,
    # no driver round-trip)
    from pyspark.sql import Window

    tok = tok.withColumn("sum_w", F.sum("w").over(Window.partitionBy()))
    quota = F.expr("4000000 * w div sum_w")
    return tok.select(
        "source",
        F.col("w").cast("bigint").alias("weight"),
        "n_tokens",
        quota.cast("bigint").alias("quota_tokens"),
        F.expr("(4000000 * w div sum_w) div n_tokens")
        .cast("bigint")
        .alias("full_epochs"),
        F.expr("(4000000 * w div sum_w) % n_tokens")
        .cast("bigint")
        .alias("rem_tokens"),
        F.expr(
            "(4000000 * w div sum_w) div n_tokens"
            " + if((4000000 * w div sum_w) % n_tokens > 0, 1, 0)"
        )
        .cast("bigint")
        .alias("repeat_factor"),
        (quota.cast("double") / F.col("n_tokens").cast("double")).alias(
            "coverage"
        ),
    )


@register(
    "profile_documents_card",
    oracle=r"""
    WITH fp AS (
        SELECT doc_id, source, lang,
               length(text) AS n_chars_m,
               len(regexp_split_to_array(lower(text), '\s+')) AS n_tokens,
               md5(text) AS f
        FROM documents
    ), dup AS (
        SELECT f, COUNT(*) AS cnt FROM fp GROUP BY f
    )
    SELECT fp.source,
           COUNT(*) AS n_docs,
           CAST(SUM(fp.n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(fp.n_chars_m) AS BIGINT) AS total_chars,
           COUNT(DISTINCT fp.lang) AS n_langs,
           CAST(SUM(CASE WHEN dup.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
           MIN(fp.n_chars_m) AS min_chars,
           MAX(fp.n_chars_m) AS max_chars,
           quantile_cont(fp.n_chars_m, 0.5) AS median_chars
    FROM fp JOIN dup ON fp.f = dup.f
    GROUP BY fp.source
    """,
)
def profile_documents_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD for the documents corpus — the per-source summary
    a training-data release ships (datasheet/dataset-card practice):
    document and token volumes, language spread, the exact-duplicate
    exposure (docs whose md5 fingerprint collides CORPUS-WIDE, not
    just within the source — cross-source contamination counts), and
    the length distribution's min/median/max. The documents twin of
    ``profile_lineitem``; everything is exact integers except the
    median, which both engines compute as the same (a+b)/2
    interpolation over exactly-representable ints.

    Plan shape: one fingerprint aggregate (map-side partials), one
    fingerprint-keyed equi-join back (AQE broadcasts the duplicate
    side when small), one per-source aggregate — the same
    two-aggregate cadence the dedup family uses, nothing
    quadratic. At 100 TB this query IS the nightly corpus-health
    dashboard feed."""
    from rs_query_engine_spark.functions.text import token_count
    from rs_query_engine_spark.sources.corpus import spread

    d = spread(_t(spark, sf_dir, "documents"))
    fp = d.select(
        "doc_id",
        "source",
        "lang",
        F.length("text").alias("n_chars_m"),
        token_count("text").alias("n_tokens"),
        F.md5("text").alias("f"),
    )
    dup = fp.groupBy("f").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        fp.join(dup, "f")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars_m").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.min("n_chars_m").alias("min_chars"),
            F.max("n_chars_m").alias("max_chars"),
            F.percentile("n_chars_m", F.lit(0.5)).alias("median_chars"),
        )
    )


def _ensure_corrupt_orders_json(spark: SparkSession, sf_dir: str) -> str:
    """JSON-lines copy of orders with DETERMINISTIC corruption: every
    row whose ``o_orderkey % 97 == 0`` loses its closing brace (a
    torn-write/truncated-record simulation — the commonest real-world
    JSON corruption). Keyed through the standard mtime+size artifact
    machinery (NOT the path-only _SUCCESS convention the older CSV
    table copies use — an in-place corpus regen must rekey this
    fixture or the oracle, recomputing from the NEW parquet, would
    hash-fail against a stale fixture; review r11 finding).
    o_orderdate ships as a STRING cell so the fixture is not hostage
    to JSON timestamp-format round-tripping."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact
    from rs_query_engine_spark.sources.corpus import load_table

    src = os.path.join(os.path.abspath(sf_dir), "orders.parquet")

    def write(tmp: str) -> None:
        o = load_table(spark, sf_dir, "orders").withColumn(
            "o_orderdate", F.col("o_orderdate").cast("string")
        )
        js = o.select(
            F.col("o_orderkey").alias("k"),
            F.to_json(F.struct(*[F.col(c) for c in o.columns])).alias("j"),
        ).select(
            F.when(
                F.col("k") % 97 == 0,
                F.expr("substring(j, 1, length(j) - 1)"),
            )
            .otherwise(F.col("j"))
            .alias("value")
        )
        js.coalesce(4).write.mode("overwrite").text(os.path.join(tmp, "orders"))

    root = ensure_artifact(
        src, "badjson", "rule=key%97|chop=1", ("orders/_SUCCESS",), write
    )
    return os.path.join(root, "orders")


@register(
    "source_corrupt_records_audit",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(*) FILTER (o_orderkey % 97 = 0) AS BIGINT)
               AS n_corrupt,
           CAST(COUNT(*) FILTER (o_orderkey % 97 <> 0) AS BIGINT)
               AS n_good,
           CAST(CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                        THEN CAST(o_totalprice AS DECIMAL(14,2)) END)
                AS VARCHAR) AS DOUBLE) AS sum_price_good,
           MIN(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END)
               AS min_good_key,
           MAX(CASE WHEN o_orderkey % 97 <> 0 THEN o_orderkey END)
               AS max_good_key
    FROM orders
    """,
)
def source_corrupt_records_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest audit — semi-structured reality at
    100 TB is that some fraction of records is torn, and the engine
    must quarantine rather than fail or silently drop. The fixture is
    a JSON-lines orders copy with every 97th key's record truncated;
    the read binds the schema plus ``_corrupt_record``
    (``columnNameOfCorruptRecord``), so malformed lines surface as
    NULL-field rows carrying their raw text. The audit aggregates
    what a data-quality gate needs: total/corrupt/good counts, the
    decimal-exact price mass of the GOOD rows (the corrupt rows
    contribute nothing — no silent partial parses), and the good-key
    range. The oracle recomputes all of it from the clean parquet
    via the same deterministic corruption rule, so a hash-PASS proves
    the quarantine boundary is exactly the rule — nothing leaked into
    the good set, nothing good was quarantined.

    Plan shape: one schema-bound distributed JSON scan (no inference
    pass), one global aggregate. The corrupt-row fraction (~1%)
    rides the same scan — no second pass over the data."""
    path = _ensure_corrupt_orders_json(spark, sf_dir)
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string, "
        "_corrupt_record string"
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(bad.cast("bigint")).alias("n_corrupt"),
        F.sum((~bad).cast("bigint")).alias("n_good"),
        F.sum(F.when(~bad, F.col("o_totalprice").cast("decimal(14,2)")))
        .cast("string")
        .cast("double")
        .alias("sum_price_good"),
        F.min(F.when(~bad, F.col("o_orderkey"))).alias("min_good_key"),
        F.max(F.when(~bad, F.col("o_orderkey"))).alias("max_good_key"),
    )


@register(
    "source_python_arrow_stream",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           MIN(c_acctbal) AS min_acctbal,
           MAX(c_acctbal) AS max_acctbal,
           CAST(SUM(c_nationkey) AS BIGINT) AS sum_nationkey
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def source_python_arrow_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ARROW-BATCH Python STREAMING source
    (``sources/pydatasource.py:CsvArrowStreamReader``) — the last
    per-row-Python surface in the DataSource family closed: the
    executor-parallel stream reader's offset model and per-file
    partition planning, with each partition parsed by ``pyarrow.csv``
    into RecordBatches (~3.8× the tuple parse at 600k rows,
    BENCH_NOTES r11; unit-pinned value-identical to the tuple stream
    reader in tests/unit/test_pydatasource.py). Complete-mode
    per-segment aggregation equals the one-shot batch aggregate, so
    the hash-pass proves exactly-once file accounting through the
    Arrow path: a batch replayed, double-planned, or truncated by the
    vectorized parse shifts a count or an extremum. MIN/MAX are raw
    row-level doubles (no accumulation — float-discipline safe);
    counts and the key sum are exact integers (streaming aggregates
    cannot COUNT DISTINCT — measured AnalysisException — so the
    third exactness witness is an integer sum)."""
    from rs_query_engine_spark.sources.pydatasource import (
        CsvArrowStreamDataSource,
        ensure_customer_csv,
        register_source,
    )
    from rs_query_engine_spark.streaming.events import run_stream_to_memory

    path = ensure_customer_csv(spark, sf_dir)
    register_source(spark, CsvArrowStreamDataSource)
    stream = (
        spark.readStream.format("rsqes_pycsv_astream")
        .schema(_ARROW_CUSTOMER_DDL)
        .option("path", path)
        .load()
    )
    agg = stream.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_acctbal").alias("min_acctbal"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.sum("c_nationkey").cast("bigint").alias("sum_nationkey"),
    )
    # state_partitions=2 (r19) — 1-row global agg state; see the
    # stream_late_data_drop note; paired median 0.90
    return run_stream_to_memory(
        agg, "source_python_arrow_stream", output_mode="complete",
        state_partitions=2,
    )


def _diffusion_round(prev_m: str, rnd: int) -> str:
    """One unrolled exact-integer diffusion round as DuckDB CTEs:
    offer = mass // 2, per-neighbor share = offer // degree,
    remainders stay at the source (the graph.integer_mass_diffusion
    recurrence, property-pinned in tests/unit/test_properties.py)."""
    return f"""
    x{rnd} AS (
        SELECT m.doc_id, m.mass,
               COALESCE(d.deg, 0) AS deg,
               CASE WHEN COALESCE(d.deg, 0) > 0
                    THEN (m.mass // 2) // d.deg ELSE 0 END AS share
        FROM {prev_m} m LEFT JOIN deg d ON d.src = m.doc_id
    ),
    m{rnd} AS (
        SELECT doc_id, CAST(SUM(mass) AS BIGINT) AS mass FROM (
            SELECT doc_id, mass - share * deg AS mass FROM x{rnd}
            UNION ALL
            SELECT e.dst AS doc_id, x.share AS mass
            FROM edges e JOIN x{rnd} x
              ON x.doc_id = e.src AND x.share > 0
        ) GROUP BY doc_id
    )"""


@register(
    "graph_mass_diffusion",
    oracle=f"""{_JACCARD_EDGES},
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    m0 AS (SELECT doc_id, CAST(1024 AS BIGINT) AS mass
           FROM documents WHERE doc_id % 50 = 0),
    {_diffusion_round("m0", 1)},
    {_diffusion_round("m1", 2)},
    {_diffusion_round("m2", 3)}
    SELECT doc_id, mass FROM m3
    """,
)
def graph_mass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED blast radius — exact-integer mass diffusion
    (``graph.integer_mass_diffusion``) from a deterministic takedown
    seed set (every 50th doc) over the blocked near-dup graph, 3
    rounds at 1024 units per seed: each round a node offers half its
    mass, splits it equally among neighbors by integer floor-div, and
    keeps the remainders. The output ranks every reached document by
    hop-discounted proximity to the seeds — the personalized-
    PageRank-style 'how contaminated is this doc' score — in exact
    integers, so the oracle is the identical recurrence unrolled as
    three CTE rounds over the identical edge rule, and TOTAL MASS IS
    CONSERVED (1024 × |seeds|; property-pinned), which is what lets
    an audit treat the scores as a closed budget rather than a
    heuristic.

    Complements the family: bfs_levels answers 'reachable within k',
    min_label_propagation 'which identity wins within k', this one
    'HOW MUCH of the seeds' influence lands where'. Scale shape:
    degrees materialize once; rounds × (one edges⋈mass equi-join +
    one hash aggregate), all on the vertex id, no cartesian (plan
    test), frontier-free."""
    from rs_query_engine_spark.operators.dedup import ngram_jaccard_pairs
    from rs_query_engine_spark.operators.graph import integer_mass_diffusion

    d = _t(spark, sf_dir, "documents")
    # both directions from ONE branch (an explode, not a union of two
    # reads of the pairs), so the pair pipeline runs once, inside
    # integer_mass_diffusion's edge cut, with no cut of its own here
    pairs = ngram_jaccard_pairs(d, "doc_id", "text")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("e")
    ).select("e.*")
    seeds = d.select("doc_id").filter(F.col("doc_id") % 50 == 0)
    return integer_mass_diffusion(
        seeds, edges, rounds=3, init_mass=1024, node_col="doc_id"
    )


@register(
    "source_quarantine_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) FILTER (o_orderkey % 97 <> 0) AS BIGINT)
               AS n_good,
           CAST(COUNT(*) FILTER (o_orderkey % 97 = 0) AS BIGINT)
               AS n_dlq,
           CAST(CAST(SUM(CASE WHEN o_orderkey % 97 <> 0
                        THEN CAST(o_totalprice AS DECIMAL(14,2)) END)
                AS VARCHAR) AS DOUBLE) AS sum_price_good,
           CAST(SUM(CASE WHEN o_orderkey % 97 = 0
                    THEN o_orderkey ELSE 0 END) AS BIGINT)
               AS recovered_key_sum
    FROM orders
    """,
)
def source_quarantine_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUARANTINE WRITER roundtrip — the write side of the
    corrupt-record story (``sinks.quarantine_json``): the truncated
    JSON fixture is ROUTED into two Spark-committed sinks (parseable
    rows → parquet, malformed raw lines → a byte-identical text
    dead-letter queue), then BOTH sinks are read back: good-side
    count + decimal-exact price mass prove no corrupt row leaked
    downstream and no good row was quarantined; the DLQ side is
    REPAIRED in place (these records lost exactly their closing
    brace, so ``from_json(raw || '}')`` recovers them) and the
    recovered keys' sum proves the quarantine preserved the original
    bytes — the re-submit path a fixed producer would take. Every
    invocation re-routes through the writer (writing IS the surface —
    the source_python_writer_roundtrip precedent); the oracle
    recomputes all four columns from the clean parquet via the same
    deterministic corruption rule.

    Together with ``source_corrupt_records_audit`` (the read-side
    gate) this closes the ingest-edge contract: good ∪ dlq = input,
    disjointly, and the dlq is recoverable, not a write-off."""
    import os

    from rs_query_engine_spark.sources.artifacts import scratch_dir
    from rs_query_engine_spark.sources.sinks import quarantine_json

    raw = _ensure_corrupt_orders_json(spark, sf_dir)
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string"
    )
    # a per-session sink base: the writer overwrites on every
    # invocation, so two concurrent sessions on the same corpus must
    # not share a path one rewrites while the other reads back
    # (review r12 finding)
    base = scratch_dir(spark, "quarantine", sf_dir, fresh=False)
    good_path = os.path.join(base, "good")
    dlq_path = os.path.join(base, "dlq")
    quarantine_json(spark, raw, schema, good_path, dlq_path)

    good = spark.read.parquet(good_path)
    repaired = spark.read.text(dlq_path).select(
        F.from_json(
            F.concat(F.col("value"), F.lit("}")), schema
        ).alias("r")
    )
    g = good.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
        .cast("string")
        .cast("double")
        .alias("sum_price_good"),
    )
    b = repaired.agg(
        F.count(F.lit(1)).alias("n_dlq"),
        F.coalesce(F.sum("r.o_orderkey"), F.lit(0))
        .cast("bigint")
        .alias("recovered_key_sum"),
    )
    return g.crossJoin(b).select(
        "n_good", "n_dlq", "sum_price_good", "recovered_key_sum"
    )
