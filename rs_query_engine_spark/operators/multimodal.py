"""Multimodal column plumbing (north-star ops): treat image/audio/
video payloads as opaque ``binary`` columns with typed metadata, and
run decode / feature-extraction / frame-sampling as Arrow-batched
Pandas operations over ``mapInPandas``.

What is REAL here (and tested): the Spark-side plumbing — schemas,
binary columns, Arrow batch shapes, ``mapInPandas`` iterator contract,
partition preservation, deterministic pure-Python feature math on raw
bytes. What is STUBBED: actual media codecs (PIL/librosa/ffmpeg are
not in this container) — ``decode_image`` raises ``NotImplementedError``
unless given the deterministic fake header format documented below,
which the tests use.

Scale notes: ``mapInPandas`` streams Arrow record batches through one
Python worker per core with no shuffle — the right shape for per-row
media work at 100 TB (CPU-bound, embarrassingly parallel). Keep batch
sizes bounded via ``spark.sql.execution.arrow.maxRecordsPerBatch``
when payloads are large; push *metadata-only* filters (modality,
size) BEFORE the Python stage so pruned rows never cross the
JVM→Python boundary. Inputs are spread to ≥8 partitions (a Python
worker pool sized for the local harness: each partition spawns a
worker, and startup dominates below ~1k rows/partition; production
inputs with ≥8 files keep their natural parallelism).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rs_query_engine_spark.operators.dedup import SIMHASH_BITS
from rs_query_engine_spark.sources.corpus import spread

# deterministic fake media header: b"FAKE" + 1-byte modality tag +
# 2-byte big-endian width + 2-byte big-endian height, then raw payload
FAKE_MAGIC = b"FAKE"

BYTE_STATS_SCHEMA = "id bigint, n_bytes bigint, byte_sum bigint, byte_max int, mean_byte double"
FRAME_SCHEMA = "id bigint, frame_idx int, frame_bytes binary"


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Decode a fake image header → (width, height, pixel bytes).

    A real deployment swaps this one function for PIL/turbojpeg; the
    surrounding Spark plumbing is unchanged. Anything without the FAKE
    magic raises — the real-codec path is intentionally not available
    in this container."""
    if payload[:4] != FAKE_MAGIC:
        raise NotImplementedError(
            "real media decoding requires PIL/ffmpeg (not in this container); "
            "payload must use the deterministic FAKE header"
        )
    width = int.from_bytes(payload[5:7], "big")
    height = int.from_bytes(payload[7:9], "big")
    return width, height, payload[9:]


def byte_stats(df: DataFrame) -> DataFrame:
    """Feature extraction over the binary ``payload`` column of an
    ``(id, payload)`` frame via ``mapInPandas``: per-payload byte
    count / sum / max / mean. Deterministic pure-Python byte math standing in for a real feature extractor; the
    Arrow plumbing (binary in, typed row out) is the product."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            # vectorize per payload with numpy (frombuffer is zero-copy;
            # ~20× over a pure-Python byte loop) — the pattern a real
            # feature extractor would follow inside the Arrow batch
            payloads = [np.frombuffer(b, dtype=np.uint8) for b in pdf["payload"]]
            n = np.array([a.size for a in payloads], dtype=np.int64)
            s = np.array([int(a.sum()) for a in payloads], dtype=np.int64)
            mx = np.array(
                [int(a.max()) if a.size else 0 for a in payloads], dtype=np.int32
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "n_bytes": n,
                    "byte_sum": s,
                    "byte_max": mx,
                    "mean_byte": s / n,
                }
            )

    return spread(df.select(F.col("id"), F.col("payload")), min_partitions=8).mapInPandas(
        extract, schema=BYTE_STATS_SCHEMA
    )


def sample_frames(df: DataFrame, every_n_bytes: int, frame_bytes: int) -> DataFrame:
    """Frame sampling for video-like ``(id, payload)`` rows: one output
    row per sampled frame (1→N flatMap via the mapInPandas iterator — output
    batches need not align with input rows)."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i, payload in zip(pdf["id"], pdf["payload"]):
                b = bytes(payload)
                for fi, off in enumerate(range(0, len(b), every_n_bytes)):
                    ids.append(i)
                    idxs.append(fi)
                    frames.append(b[off : off + frame_bytes])
            yield pd.DataFrame({"id": ids, "frame_idx": idxs, "frame_bytes": frames})

    return spread(df.select(F.col("id"), F.col("payload")), min_partitions=8).mapInPandas(
        sample, schema=FRAME_SCHEMA
    )


BINARY_SIMHASH_SCHEMA = "id bigint, n_grams bigint, simhash bigint"


def binary_simhash(df: DataFrame) -> DataFrame:
    """SimHash signature over the raw BYTES of the binary ``payload`` of
    an ``(id, payload)`` frame — the
    perceptual-hash-style near-dup primitive for opaque media columns
    (re-encoded or trivially-mutated assets keep most byte 4-grams, so
    their signatures land within small hamming distance; pair them
    with the same hamming-block LSH as ``dedup.simhash_pairs``).

    Byte-level twin of the token SimHash in ``operators/dedup.py``:
    per overlapping 4-byte window, a 32-bit md5-derived hash;
    ``SIMHASH_BITS``-wide signature, bit j set when the majority of
    gram hashes have bit j set. Runs in ``mapInPandas`` (NumPy bit-matrix fold per Arrow
    batch) because payloads are opaque bytes the JVM expression engine
    has no functions for — the deliberate Python-tier pattern of this
    module. Map-only, no shuffle; metadata filters belong BEFORE this
    stage so pruned payloads never cross the JVM→Python boundary."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        import numpy as np

        gram = 4
        jbits = np.arange(SIMHASH_BITS, dtype=np.uint64)
        weights = (1 << jbits.astype(np.int64)).astype(np.int64)
        for pdf in batches:
            ids, ngrams, sigs = [], [], []
            for i, b in zip(pdf["id"], pdf["payload"]):
                bs = bytes(b)
                n = max(len(bs) - gram + 1, 0)
                if n == 0:
                    ids.append(i); ngrams.append(0); sigs.append(0)
                    continue
                hs = np.array(
                    [
                        int(hashlib.md5(bs[k : k + gram]).hexdigest()[:8], 16)
                        for k in range(n)
                    ],
                    dtype=np.uint64,
                )
                counts = ((hs[:, None] >> jbits) & 1).sum(axis=0).astype(np.int64)
                sig = int(weights[2 * counts > n].sum())
                ids.append(i); ngrams.append(n); sigs.append(sig)
            yield pd.DataFrame(
                {"id": ids, "n_grams": ngrams, "simhash": sigs}
            ).astype({"id": "int64", "n_grams": "int64", "simhash": "int64"})

    return spread(df, 8).mapInPandas(extract, schema=BINARY_SIMHASH_SCHEMA)
