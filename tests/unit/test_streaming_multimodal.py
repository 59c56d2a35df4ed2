"""Stream/batch parity tests (kappa check: the streaming query must
produce the batch answer on the same bounded input) and multimodal
plumbing tests (Arrow batch shapes, fake-decode, frame flatMap)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rs_query_engine_spark import queries as registry
from rs_query_engine_spark.operators import multimodal
from rs_query_engine_spark.streaming import events as streaming_events

SF_DIR = "/root/testdata/sf0.001"


def _rows_set(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


# -- streaming ------------------------------------------------------


def test_hourly_stream_matches_batch(spark):
    stream = streaming_events.read_events_stream(spark, SF_DIR)
    out = streaming_events.run_stream_to_memory(
        streaming_events.hourly_agg_stream(stream), "hourly_out"
    )
    batch = registry.events_hourly_window(spark, SF_DIR)
    assert _rows_set(out) == _rows_set(batch)


def test_sessionize_stream_matches_batch(spark):
    stream = streaming_events.read_events_stream(spark, SF_DIR)
    out = streaming_events.run_stream_to_memory(
        streaming_events.sessionize_stream(stream), "sessions_out"
    )
    batch = registry.events_sessionization(spark, SF_DIR)
    assert _rows_set(out) == _rows_set(batch)


def test_watermark_present_in_plan(spark):
    stream = streaming_events.read_events_stream(spark, SF_DIR)
    agg = streaming_events.hourly_agg_stream(stream, watermark="30 minutes")
    assert agg.isStreaming
    # watermark node must exist, otherwise state grows unboundedly
    assert "EventTimeWatermark" in agg._jdf.queryExecution().analyzed().toString()


# -- multimodal -----------------------------------------------------


def _fake_image(w: int, h: int, fill: int) -> bytes:
    return multimodal.FAKE_MAGIC + bytes([1]) + w.to_bytes(2, "big") + h.to_bytes(2, "big") + bytes([fill]) * (w * h)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, _fake_image(4, 3, 7)),
        (2, _fake_image(16, 2, 9)),
        (3, _fake_image(1, 1, 255)),
    ]
    return spark.createDataFrame(rows, "id long, payload binary")


def test_decode_rejects_real_media(spark):
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG\r\n\x1a\n....")


def test_byte_stats_schema_and_values(spark, media_df):
    out = {r.id: r for r in multimodal.byte_stats(media_df).collect()}
    # payload 3: FAKE + tag1 + w/h bytes + one 255 pixel
    assert out[3].n_bytes == 10
    assert out[3].byte_max == 255
    assert out[3].mean_byte == out[3].byte_sum / out[3].n_bytes
    assert multimodal.byte_stats(media_df).schema.simpleString() == (
        "struct<id:bigint,n_bytes:bigint,byte_sum:bigint,byte_max:int,mean_byte:double>"
    )


def test_sample_frames_flatmap(spark, media_df):
    # 1→N explosion: payload of id=2 (41 bytes) at stride 16 → 3 frames
    out = multimodal.sample_frames(media_df, every_n_bytes=16, frame_bytes=8).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r.id, []).append(r)
    assert len(by_id[2]) == 3
    assert [r.frame_idx for r in sorted(by_id[2], key=lambda r: r.frame_idx)] == [0, 1, 2]
    assert all(len(r.frame_bytes) <= 8 for r in out)


def test_foreachbatch_parquet_sink(spark, tmp_path):
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    stream = streaming_events.read_events_stream(spark, SF_DIR)
    counts = stream.groupBy("event_type").count()
    streaming_events.run_stream_to_parquet(
        counts, out, ckpt, output_mode="complete"
    )
    back = spark.read.parquet(out)
    # batch truth from the static table
    from rs_query_engine_spark.sources.corpus import load_table
    truth = {
        r["event_type"]: r["count"]
        for r in load_table(spark, SF_DIR, "events").groupBy("event_type").count().collect()
    }
    got = {r["event_type"]: r["count"] for r in back.select("event_type", "count").collect()}
    assert got == truth
    assert "_batch_id" in back.columns


def test_binary_simhash_edge_payloads(spark):
    # payloads shorter than the gram width must yield sig 0 / 0 grams,
    # and equal payloads identical signatures, through mapInPandas
    from rs_query_engine_spark.operators.multimodal import binary_simhash

    df = spark.createDataFrame(
        [(1, b"abc"), (2, b"abcdefgh"), (3, b"abcdefgh"), (4, b"x" * 4)],
        "id long, payload binary",
    )
    rows = {r["id"]: r for r in binary_simhash(df).collect()}
    assert rows[1]["n_grams"] == 0 and rows[1]["simhash"] == 0
    assert rows[2]["n_grams"] == 5
    assert rows[2]["simhash"] == rows[3]["simhash"]
    assert rows[4]["n_grams"] == 1
    assert rows[4]["simhash"] > 0


def test_binary_simhash_query_guards_non_ascii(spark):
    """multimodal_binary_simhash parity must be independent of corpus
    ASCII-ness (ADVICE r06 / VERDICT r07 #5): Spark hashes utf-8 BYTE
    4-grams while the VARCHAR oracle hashes CODEPOINT windows, so both
    sides filter to pure-ASCII rows with the identical
    byte-length == char-length predicate. Pin: on a mixed corpus the
    Spark-side filter and DuckDB's ``strlen = length`` keep exactly
    the same rows."""
    import duckdb

    rows = [
        (1, "plain ascii text"),
        (2, "café au lait"),        # é: 2 utf-8 bytes, 1 codepoint
        (3, "日本語 corpus"),  # CJK: 3 bytes/codepoint
        (4, ""),
        (5, "x" * 10),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    kept_spark = {
        r["doc_id"]
        for r in d.filter(
            (F.length("text") > 0)
            & (F.octet_length("text") == F.length("text"))
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    kept_duck = {
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM t WHERE length(text) > 0 "
            "AND strlen(text) = length(text)"
        ).fetchall()
    }
    assert kept_spark == kept_duck == {1, 5}
