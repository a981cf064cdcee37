"""Multimodal column plumbing: opaque binary payloads + typed metadata.

North-star extension: image/audio/video as ``binary`` columns with a
metadata struct, processed through Arrow-batched ``mapInPandas``. The
container has no image/audio libraries, so the DECODE step is stubbed:
:func:`extract_features` is a clearly-marked DETERMINISTIC FAKE
featurizer (blake2b-seeded vector per payload) so the Spark-side
plumbing — schema, batch iteration, partitioning — is real and
testable end-to-end.

Scale notes: payloads never pass through Python row-at-a-time; every
transform is mapInPandas over Arrow batches. Metadata extraction is a
pure column expression.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Testdata shim: materialize an opaque binary column (+ metadata
    struct) from the ``text`` column — the shape a real ingest would
    carry for image/audio bytes."""
    payload = F.encode(F.col("text"), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("utf8-text").alias("format"),
            F.octet_length(payload).alias("n_bytes"),
            F.lit("text").alias("modality"),
        ),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """DETERMINISTIC FAKE featurizer (stands in for a real image/audio
    encoder): 8 floats derived from the payload's blake2b digest,
    normalized to [0,1). The mapInPandas batch shape, output schema,
    and partition behavior are exactly what a real encoder would use —
    swap the body for model inference in production."""

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            feats = []
            for b in pdf["payload"]:
                if b is None:
                    feats.append(None)
                    continue
                d = hashlib.blake2b(bytes(b), digest_size=2 * FEATURE_DIM).digest()
                feats.append(
                    [
                        int.from_bytes(d[2 * i : 2 * i + 2], "big") / 65536.0
                        for i in range(FEATURE_DIM)
                    ]
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return df.mapInPandas(featurize, schema="doc_id long, features array<double>")


def frame_sample(df: DataFrame) -> DataFrame:
    """Video-style frame sampling stub: split the payload into
    4 evenly-spaced byte chunks (stand-in for keyframe
    extraction), emitted one row per frame — the explode-shaped output
    a real sampler produces."""

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, frame_idx, frames = [], [], []
            for i, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None:
                    continue
                b = bytes(b)
                step = max(1, len(b) // 4)
                for j in range(4):
                    chunk = b[j * step : (j + 1) * step]
                    if not chunk:
                        break
                    ids.append(i)
                    frame_idx.append(j)
                    frames.append(chunk)
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": frame_idx, "frame": frames}
            )

    return df.mapInPandas(
        sample, schema="doc_id long, frame_idx int, frame binary"
    )


def audio_chunk(df: DataFrame) -> DataFrame:
    """Audio segmentation stub: treat the payload as 16 kHz 16-bit PCM
    (32 000 bytes a second) and split it into 0.25 s chunks (stand-in
    for VAD/segment extraction), one row per chunk with its time
    bounds — the shape an ASR/data pipeline feeds to a transcription
    or embedding stage. Arrow-batched mapInPandas; the real codec
    decode would slot into the same loop."""
    chunk_bytes = 8000  # 0.25 s × 32 000 bytes/s

    def chunker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, starts, ends, chunks = [], [], [], [], []
            for i, b in zip(pdf["doc_id"], pdf["payload"]):
                if b is None:
                    continue
                b = bytes(b)
                for j in range(0, max(1, (len(b) + chunk_bytes - 1) // chunk_bytes)):
                    chunk = b[j * chunk_bytes : (j + 1) * chunk_bytes]
                    if not chunk and j > 0:
                        break
                    ids.append(i)
                    idxs.append(j)
                    starts.append(j * 0.25)
                    ends.append(j * 0.25 + len(chunk) / 32_000)
                    chunks.append(chunk)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "chunk_idx": idxs,
                    "start_s": starts,
                    "end_s": ends,
                    "chunk": chunks,
                }
            )

    return df.mapInPandas(
        chunker,
        schema=(
            "doc_id long, chunk_idx int, start_s double, end_s double,"
            " chunk binary"
        ),
    )
