"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata.

The decode kernel is a deterministic stand-in keyed off the payload
bytes (dimensions, frame count, an 8-value feature), so the
oracle-checked gate entry's DuckDB twin re-derives its arithmetic on any
machine. A real decoder (an image library or a model embedding) slots
into :func:`_decode_payload` with the same return shape; the Spark-side
plumbing around it is what this module pins: schemas, Arrow batch
shape, mapInPandas signature, partition sizing.

Design for 100 TB of media:
- payloads live in their own column so Parquet column pruning skips them
  unless the query touches bytes;
- metadata extraction is a per-row expression pass (sha, length, magic
  sniffing) — no Python;
- the decode path is ``mapInPandas`` (Arrow batches, one Python worker
  per partition), with ``spark.sql.files.maxPartitionBytes`` controlling
  batch memory; never a row-at-a-time UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)

def payload_metadata(df: DataFrame) -> DataFrame:
    """Expression-only metadata of the ``payload`` column: byte length,
    sha256, magic-byte format sniff. Runs without touching Python."""
    p = F.col("payload")
    magic = F.hex(F.substring(p, 1, 4))
    fmt = (
        F.when(magic.startswith("FFD8"), "jpeg")
        .when(magic.startswith("89504E47"), "png")
        .when(magic.startswith("52494646"), "riff-wav")
        .when(magic.startswith("00000018") | magic.startswith("00000020"), "mp4")
        .otherwise("unknown")
    )
    return df.withColumns(
        {
            "byte_len": F.octet_length(p).cast("long"),
            "sha256": F.sha2(p, 256),
            "sniffed_format": fmt,
        }
    )


def _decode_payload(payload: bytes) -> tuple[int, int, int, list[float]]:
    """Deterministic decode keyed off the payload bytes, so tests and the
    gate entry's oracle are stable everywhere.

    Returns (width, height, n_frames, feature[8])."""
    n = len(payload)
    head = payload[:8].ljust(8, b"\0")
    width = 1 + head[0] % 64
    height = 1 + head[1] % 64
    n_frames = 1 + n % 16
    feature = [float((head[i] + n) % 256) / 256.0 for i in range(8)]
    return width, height, n_frames, feature


def decode_media(df: DataFrame) -> DataFrame:
    """mapInPandas decode pass: (media_id, payload, mime) rows →
    DECODED_SCHEMA rows, through :func:`_decode_payload`.

    Arrow-batched; each batch is decoded columnarly in one Python call.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload (failed download) must not kill the job: one
            # bytes(None) TypeError in a worker fails the whole decode
            # pass at scale. Emit the row with NULL decode fields so
            # accounting survives and a downstream filter can quarantine.
            decoded = [
                _decode_payload(bytes(p))
                if p is not None
                else (None, None, None, None)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "mime": pdf["mime"],
                    "byte_len": pdf["payload"].map(
                        lambda p: len(p) if p is not None else None
                    ),
                    "width": [d[0] for d in decoded],
                    "height": [d[1] for d in decoded],
                    "n_frames": [d[2] for d in decoded],
                    "feature": [d[3] for d in decoded],
                }
            )

    return df.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


def frame_sample(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame-sampling plumbing on decoded media: one output row per kept
    frame index — pure explode arithmetic, no decode."""
    idx = F.sequence(F.lit(0), F.col("n_frames") - 1)
    kept = F.filter(idx, lambda i: i % every_n == 0)
    return df.select("media_id", F.explode(kept).alias("frame_idx"))
