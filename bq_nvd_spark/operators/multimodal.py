"""E5 multimodal columns — Arrow-batched decode over opaque binary payloads.

The engine's multimodal contract (SURVEY.md §2.11 E5): media travels as an
opaque ``binary`` column plus a typed metadata struct; decode /
feature-extract / frame-sample run as Python stages over ``mapInPandas``
so each task sees whole Arrow batches (one Python roundtrip per batch,
never per row).

The real decoders (PIL / libav / librosa) are not installed, so the
pipeline runs a **deterministic fake decode** over the raw bytes:
every derived feature is exact integer math on the byte values, which
lets the DuckDB oracle mirror the computation character-by-character and
hash-check the whole mapInPandas path (schema, batching, one-to-one and
one-to-many output shapes).

Scale notes (100 TB): mapInPandas is a pure per-partition projection —
zero shuffle, parallelism = input partitions, Arrow transfer amortized
per batch (``spark.sql.execution.arrow.maxRecordsPerBatch``). Payload
bytes never leave the stage: each query projects features and drops the
binary column before anything wide (join/agg) happens downstream.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

#: Every 32nd byte is one "frame" of the fake media stream.
FRAME_STRIDE = 32

DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mean_byte_x100", LongType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("frame_val", LongType()),
    ]
)

#: Fixed "thumbnail" size for the fake resize stage.
THUMB_BYTES = 64

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("thumb_len", LongType()),
        StructField("thumb_sum", LongType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for a media header parse + stats pass.

    (n_bytes, width, height, mean_byte_x100) — all exact integers so the
    SQL oracle can reproduce them: width/height come from the first/last
    byte, the mean is integer-scaled then floor-divided.
    """
    buf = np.frombuffer(payload, dtype=np.uint8)
    n = int(buf.size)
    width = 16 + int(buf[0]) % 16
    height = 16 + int(buf[-1]) % 16
    mean_x100 = (int(buf.sum(dtype=np.int64)) * 100) // n
    return n, width, height, mean_x100


def _map_payloads(
    media: DataFrame,
    schema: StructType,
    rows: Callable[[int, bytes], Iterable[tuple]],
) -> DataFrame:
    """``mapInPandas`` over ``(doc_id, payload)`` batches: ``rows`` maps
    one payload to its output rows, the batch leaves as int64 Arrow."""
    columns = [f.name for f in schema.fields]

    def batches(parts: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in parts:
            if pdf.empty:
                continue
            out = [
                row
                for doc_id, payload in zip(pdf["doc_id"], pdf["payload"])
                for row in rows(doc_id, payload)
            ]
            yield pd.DataFrame(out, columns=columns).astype("int64")

    return media.mapInPandas(batches, schema)


def decode_media(media: DataFrame) -> DataFrame:
    """Decode a ``(doc_id, payload binary)`` frame into per-media features.

    One output row per input row; batches stay in Arrow end to end.
    """
    return _map_payloads(
        media,
        DECODE_SCHEMA,
        lambda doc_id, payload: [(doc_id, *_fake_decode(payload))],
    )


def _thumb_digest(doc_id: int, payload: bytes) -> list[tuple[int, int, int]]:
    buf = np.frombuffer(payload, dtype=np.uint8)
    stride = max(buf.size // THUMB_BYTES, 1)
    thumb = buf[::stride][:THUMB_BYTES]
    return [(doc_id, int(thumb.size), int(thumb.sum(dtype=np.int64)))]


def resize_thumb(media: DataFrame) -> DataFrame:
    """Fake resize: stride-downsample each payload to at most
    ``THUMB_BYTES`` bytes (the shape of a thumbnail/pooling pass — a
    real implementation would interpolate pixels; the stride sample
    keeps the arithmetic oracle-reproducible). Emits the thumb's length
    and byte-sum as the verifiable digest."""
    return _map_payloads(media, RESIZE_SCHEMA, _thumb_digest)


def _frames(doc_id: int, payload: bytes) -> Iterator[tuple[int, int, int]]:
    frames = np.frombuffer(payload, dtype=np.uint8)[::FRAME_STRIDE]
    return ((doc_id, idx, int(val)) for idx, val in enumerate(frames))


def frame_sample(media: DataFrame) -> DataFrame:
    """Sample every ``FRAME_STRIDE``-th byte as a frame row.

    One-to-many mapInPandas: each media row fans out to
    ``ceil(n_bytes / FRAME_STRIDE)`` frame rows — the shape a real
    video-frame or audio-window sampler produces.
    """
    return _map_payloads(media, FRAME_SCHEMA, _frames)
