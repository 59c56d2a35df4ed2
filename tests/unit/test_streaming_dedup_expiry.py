"""Pin the horizon-expiry semantics of ``dropDuplicatesWithinWatermark``
under multi-batch out-of-order arrival — the state-lifecycle rules the
registered ``stream_dedup_events`` query never exercises (its horizon
exceeds the bounded corpus, so nothing ever expires).

Measured rules (Spark 4.1, same lag structure as the windowed-agg
late-drop path pinned by ``stream_late_data_drop``):

1. The FIRST occurrence of a key emits immediately; duplicates drop
   while the key's state is alive.
2. State expiry = the first occurrence's event time + the delay.
   Duplicates do NOT extend it — the operator guarantees dedup only
   within ``delay`` of the FIRST event, so a slow trickle of
   duplicates cannot pin state forever (the property that bounds
   state at 100 TB).
3. Eviction at the end of batch N uses the watermark derived from
   data through batch N-1; a key is re-admitted (emits again) only in
   a batch that starts after such an eviction.
4. The late-event input filter lags one batch further (data through
   N-2), mirroring the ForLateEvents/ForEviction split.

These are behavioral contracts downstream dedup consumers rely on
(exactly-once-per-horizon), so a Spark upgrade that shifts any of
them should fail here loudly.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from datetime import datetime

import pytest

SCHEMA = "k string, ts timestamp"


def _t(h: int, m: int = 0) -> datetime:
    return datetime(2024, 1, 1, h, m)


def _run_feed(spark, name: str, files: list[list[tuple]], delay: str):
    """Replay ``files`` (one micro-batch each, mtime-ordered) through
    dropDuplicatesWithinWatermark and return the emitted (k, ts)
    multiset."""
    root = os.path.join(tempfile.gettempdir(), f"rsqes_test_dedupexp_{name}_{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    for i, rows in enumerate(files):
        df = spark.createDataFrame(rows, SCHEMA)
        staging = os.path.join(root, f"_f{i}")
        df.coalesce(1).write.parquet(staging)
        part = [p for p in os.listdir(staging) if p.endswith(".parquet")][0]
        dst = os.path.join(feed, f"f{i}.parquet")
        os.rename(os.path.join(staging, part), dst)
        shutil.rmtree(staging)
        mt = 1_700_000_000 + i * 10
        os.utime(dst, (mt, mt))
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    out = stream.withWatermark("ts", delay).dropDuplicatesWithinWatermark(["k"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"dedupexp_{name}")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(f"SELECT k, ts FROM dedupexp_{name}").collect()
    shutil.rmtree(root, ignore_errors=True)
    return sorted((r["k"], r["ts"]) for r in rows)


def test_duplicate_does_not_extend_expiry_and_eviction_lags_one_batch(spark):
    """A and B first-occur at 10:00 (expiry 11:00 under a 1-hour
    horizon). A's 10:30 duplicate is dropped and must NOT push A's
    expiry to 11:30: after the spacer batch lets the 11:15 watermark
    evict both keys, BOTH re-emit at 12:30. The spacer batch is load-
    bearing — eviction at the end of batch N uses the watermark
    derived through batch N-1, so the 12:15 mover's watermark only
    evicts one batch later (rule 3)."""
    emitted = _run_feed(
        spark,
        "ext",
        [
            [("A", _t(10)), ("B", _t(10))],
            [("A", _t(10, 30)), ("W1", _t(12, 15))],  # dup + watermark mover
            [("W2", _t(12, 15))],  # spacer: eviction w/ wm 11:15 at ITS end
            [("A", _t(12, 30)), ("B", _t(12, 30))],  # both re-admitted
        ],
        "1 hour",
    )
    assert emitted == sorted(
        [
            ("A", _t(10)),
            ("B", _t(10)),
            ("W1", _t(12, 15)),
            ("W2", _t(12, 15)),
            ("A", _t(12, 30)),
            ("B", _t(12, 30)),
        ]
    )


def test_duplicate_in_next_batch_is_dropped_despite_advanced_watermark(spark):
    """The one-batch eviction lag from the consumer side: A@14:30
    arrives in the batch immediately after the 14:00 mover, when the
    13:00 watermark is already REPORTED but eviction with it has not
    run yet — A's state (expiry 11:00) is still alive, so the row is
    deduped, not re-admitted. Z@20:00 then proves a later batch DOES
    see the eviction."""
    emitted = _run_feed(
        spark,
        "lag",
        [
            [("A", _t(10)), ("B", _t(10))],
            [("A", _t(10, 30)), ("C", _t(14))],  # dup + watermark mover
            [("A", _t(14, 30))],  # still deduped (state alive this batch)
            [("A", _t(15)), ("Z", _t(20))],  # evicted at end of prior batch
        ],
        "1 hour",
    )
    assert emitted == sorted(
        [
            ("A", _t(10)),
            ("B", _t(10)),
            ("C", _t(14)),
            ("A", _t(15)),
            ("Z", _t(20)),
        ]
    )


def _count_progress(spark, query_name: str, run):
    """Call ``run()`` and return ``(progress events, its result)``: how
    many progress events (one per micro-batch) a
    ``StreamingQueryListener`` saw for ``query_name``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.n = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.name == query_name:
                self.n += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        result = run()
        # listener events are delivered asynchronously; wait for the bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    return listener.n, result


@pytest.mark.parametrize("watermark_flush, batches", [(False, 1), (True, 2)])
def test_dedup_without_flush_batch_is_batch_distinct_in_one_batch(
    spark, tmp_path, watermark_flush, batches
):
    """Append-mode dedup emits a key the first time it sees it, so
    skipping the trailing no-data batch (``watermark_flush=False``)
    leaves the result equal to batch DISTINCT and runs ONE micro-batch;
    the default keeps the watermark-flush batch (two)."""
    from rs_query_engine_spark.streaming.events import (
        dedup_stream,
        run_stream_to_memory,
    )

    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [
            ("a", _t(1)),
            ("b", _t(1, 5)),
            ("a", _t(2)),
            ("c", _t(3)),
            ("b", _t(4)),
            ("a", _t(5)),
        ],
        SCHEMA,
    ).coalesce(1).write.parquet(feed)
    name = f"dedup_one_batch_{watermark_flush}".lower()
    out = dedup_stream(spark.readStream.schema(SCHEMA).parquet(feed), ["k"])
    n, rows = _count_progress(
        spark,
        name,
        lambda: run_stream_to_memory(
            out, name, output_mode="append", watermark_flush=watermark_flush
        ).collect(),
    )
    assert n == batches
    want = spark.read.parquet(feed).select("k").distinct().collect()
    assert sorted(r["k"] for r in rows) == sorted(r["k"] for r in want)
