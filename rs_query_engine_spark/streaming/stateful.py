"""Custom stateful streaming operators via ``applyInPandasWithState``
(SURVEY §7 M2.6; the reference has no streaming or state concept —
SURVEY §2.6). This is the escape hatch for stream semantics Spark's
built-in windowed aggregations can't express: arbitrary per-key state
machines, custom eviction, cross-batch logic.

Scale notes: state is partitioned by the grouping key and lives in the
executor-local state store (RocksDB-backed in production via
``spark.sql.streaming.stateStore.providerClass``) — state size is
bounded by distinct keys, not event volume. Always configure a timeout
(or watermark-driven eviction) for unbounded key domains; the
demo operator uses NoTimeout because the corpus key domain (user_id)
is finite.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_user_counts(events: DataFrame) -> DataFrame:
    """Per-user running event count — a stateful stream aggregate
    implemented as an explicit state machine (the ``update``-mode
    emission per micro-batch that ``groupBy().count()`` would give,
    but with user-owned state you can extend with arbitrary logic:
    conditional resets, per-key thresholds, custom eviction).

    Emits one row per (user, micro-batch containing that user):
    the count is monotone, so the latest value per user is
    ``max(n_events)`` — which makes the final state batch-checkable
    against ``SELECT user_id, COUNT(*) FROM events GROUP BY user_id``.
    """

    def update_counts(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [user_id], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        update_counts,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def ttl_flush_stream(
    keyed: DataFrame,
    key_cols: list[str],
    out_schema: str,
    ttl_ms: int,
) -> DataFrame:
    """Event-time-TTL flush ledger — the timer-driven expiry operator
    (``GroupStateTimeout.EventTimeTimeout``): per key, accumulate
    (count, integer cents, max event-time) across micro-batches; when
    the key has seen no event-time activity for ``ttl_ms`` (the
    watermark passed its last event time + TTL), emit ONE flush record
    and drop the state. The input must carry ``ts`` (event-time,
    watermarked upstream) and ``cents`` (exact int64 — cast from
    decimal JVM-side so the Python sum is integer-exact and
    partition-order-insensitive).

    Measured semantics this operator is built on (probed on Spark
    4.1.2, pinned in tests/unit/test_streaming_ttl_flush.py):

    - The late-input filter drops rows with ts below the watermark
      derived from data through batch N-2 (the same two-batch lag as
      every other stateful operator — see streaming/events.py's feed
      layout comment) and it is ROW-level: a row older than the filter
      watermark is gone even if its key is still live (contrast the
      built-in windowed agg, which admits any row whose WINDOW END is
      still above the watermark).
    - ``state.getCurrentWatermarkMs()`` during batch N is the
      EVICTION watermark (data through N-1); timed-out keys are
      delivered in the first batch whose eviction watermark passes
      their timeout timestamp, including the trailing no-data batch
      Spark runs after the last file.
    - ``setTimeoutTimestamp`` REJECTS values at or below the current
      watermark, so a key whose TTL is already past when input
      arrives (late rows for an old key) must clamp to watermark+1ms
      — it then times out at the next watermark advance. The clamp
      never changes WHICH keys flush before stream end (the clamp
      floor is always below the final watermark), only when.
    - Emission discipline: flush records only, nothing echoed on
      input batches. Batch 0 can never fire a timeout (the watermark
      is still unset), so the operator's output is insensitive to
      batch-0 sink-delivery quirks, and every emitted row is a
      finalized, never-updated fact — append-friendly downstream.

    At 100 TB this is the inactivity-flush primitive (session close,
    cart abandonment, device-offline detection): state is bounded by
    LIVE keys (RocksDB state store in production), timers are the
    state store's native eviction index (no scan-all-keys sweep per
    batch), and the flush stream is idempotent to replay because a
    flushed key's late stragglers are either dropped by the watermark
    or open a fresh epoch."""

    def flush(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        wm = state.getCurrentWatermarkMs()
        if state.hasTimedOut:
            mx_us, cnt, cents = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    **{c: [k] for c, k in zip(key_cols, key)},
                    "n_events": [cnt],
                    "total_cents": [cents],
                    # state keeps MICROS so the flushed last_ts is
                    # exactly MAX(ts), not a ms-floored copy
                    "last_ts": [pd.Timestamp(mx_us * 1000)],
                }
            )
            return
        mx_us, cnt, cents = (
            state.get if state.exists else (None, 0, 0)
        )
        for pdf in pdfs:
            if not len(pdf):
                continue
            cnt += len(pdf)
            cents += int(pdf["cents"].sum())
            m = int(pdf["ts"].max().value // 1_000)
            mx_us = m if mx_us is None else max(mx_us, m)
        if mx_us is None:
            # aPWS normally invokes a key only with data or a timeout,
            # but guard the empty-chunks-no-state edge: nothing to
            # track, and (mx_us + ttl) would TypeError (ADVICE r10).
            return
        state.update((mx_us, cnt, cents))
        # timers are ms-granular; flooring (mx+ttl) to ms is exact wrt
        # the strict fire rule because the watermark is ms-aligned:
        # floor_ms(T) < W  <=>  T < W
        state.setTimeoutTimestamp(max((mx_us + ttl_ms * 1000) // 1000, wm + 1))
        return
        yield  # pragma: no cover — make flush a generator on all paths

    return keyed.groupBy(*key_cols).applyInPandasWithState(
        flush,
        outputStructType=out_schema,
        stateStructType="mx_us bigint, cnt bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def user_day_ttl_stream(spark, sf_dir: str, ttl_ms: int) -> DataFrame:
    """The (user, day)-keyed TTL-flush stream over the late-arrival
    feed — shared by the flush-ledger query (memory sink) and the
    checkpoint builder (noop sink + persisted state), so both drive
    the IDENTICAL operator."""
    from pyspark.sql import functions as F

    from rs_query_engine_spark.streaming.events import (
        LATE_DELAY,
        ensure_late_feed,
    )

    feed = ensure_late_feed(spark, sf_dir)
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    keyed = (
        stream.withWatermark("ts", LATE_DELAY)
        .withColumn("day", F.date_trunc("day", F.col("ts")))
        .withColumn(
            "cents", (F.col("value").cast("decimal(12,2)") * 100).cast("long")
        )
    )
    return ttl_flush_stream(
        keyed,
        ["user_id", "day"],
        "user_id BIGINT, day TIMESTAMP, n_events BIGINT, "
        "total_cents BIGINT, last_ts TIMESTAMP",
        ttl_ms=ttl_ms,
    )


def ensure_ttl_flush_checkpoint(spark, sf_dir: str, ttl_ms: int) -> str:
    """Persisted streaming CHECKPOINT of the (user, day) TTL-flush
    run over the late feed — the artifact the state-store reader
    queries (``spark.read.format("statestore")``). Built once per
    corpus generation via the standard mtime+params-keyed atomic
    install; completeness = the commit log contains batch 4 (four
    feed files + the trailing watermark-advance batch), so a
    half-written checkpoint is never served. State content is
    deterministic (order-insensitive integer accumulations; the
    replay arithmetic is pinned by the flush ledger's oracle), which
    is what makes reading it back oracle-checkable at all."""
    import os

    from rs_query_engine_spark.sources.artifacts import ensure_artifact
    from rs_query_engine_spark.streaming.events import (
        CKPT_PARTS,
        LATE_DELAY,
        drain,
    )

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")

    def write(tmp: str) -> None:
        out = user_day_ttl_stream(spark, sf_dir, ttl_ms)
        drain(
            spark,
            out.writeStream.outputMode("update")
            .format("noop")
            .option("checkpointLocation", os.path.join(tmp, "ckpt")),
            state_partitions=8,
        )

    root = ensure_artifact(
        src, "ttlckpt", f"ttl={ttl_ms}|delay={LATE_DELAY}", CKPT_PARTS, write
    )
    return os.path.join(root, "ckpt")
