"""Multimodal column plumbing (image/audio/video as opaque binary).

Beyond-reference surface: the reference's closest machinery is the
varbinary type + VarbinaryFunctions (reference
SPI/type/VarbinaryType.java, MAIN/operator/scalar/VarbinaryFunctions.java);
it has no media operators. The pattern implemented here is the one a
training-data pipeline needs at 100 TB:

  media table = (id, payload binary, meta struct<fmt,width,height,...>)

with decode / feature-extract / resize / frame-sample implemented as
Arrow-batched pandas functions over mapInPandas. The image/audio codec
libraries are NOT in this container, so the codec call itself is a
clearly-marked STUB (deterministic fake derived from the payload
bytes); everything Spark-side — schema contract, Arrow batching, UDF
signature, partition behavior — is real and tested.

Scale notes:
  - payloads stay opaque binary end-to-end: no JVM<->Python hop until
    a pandas stage actually needs the bytes; filters on the typed
    metadata columns prune *before* payload bytes are shuffled.
  - mapInPandas streams Arrow batches (spark.sql.execution.arrow.
    maxRecordsPerBatch bounds peak memory per task) — the right shape
    for MB-sized payload rows.
  - decode is embarrassingly parallel; repartition by id first if the
    source files are few/large so all executors get work.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Typed metadata contract for media rows.
MEDIA_META = T.StructType(
    [
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("sampled_frames", T.ArrayType(T.IntegerType())),
    ]
)


def as_media_table(docs: DataFrame) -> DataFrame:
    """Adapt the documents fixture into the media-table contract:
    payload = utf8 bytes of text (stand-in for real image bytes),
    metadata derived deterministically from the row."""
    fmt = F.when(F.col("doc_id") % 3 == 0, "png").when(
        F.col("doc_id") % 3 == 1, "jpeg"
    ).otherwise("webp")
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            fmt.alias("fmt"),
            ((F.col("doc_id") % 16 + 1) * 64).cast("int").alias("width"),
            ((F.col("doc_id") % 9 + 1) * 64).cast("int").alias("height"),
            (F.col("n_chars") % 30 + 1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _stub_decode(payload: bytes) -> tuple[float]:
    """STUB: real implementation would be e.g. PIL.Image.open /
    soundfile.read — those libraries are not in this container.
    Deterministic fake: 'mean luma' from the payload digest, so tests
    are stable and the plumbing (bytes in -> features out) is real."""
    digest = hashlib.sha256(payload).digest()
    return int.from_bytes(digest[:4], "big") / 2**32


def decode_media(media: DataFrame, frame_stride: int = 7) -> DataFrame:
    """Decode + feature-extract + frame-sample via mapInPandas.

    One Arrow batch in, one pandas DataFrame out — the canonical
    shape for per-payload Python work. Everything except the codec
    call (stubbed, see _stub_decode) is production plumbing.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["meta"]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "fmt": [m["fmt"] for m in meta],
                    "width": [m["width"] for m in meta],
                    "height": [m["height"] for m in meta],
                    "n_pixels": [
                        int(m["width"]) * int(m["height"]) for m in meta
                    ],
                    "mean_luma": [
                        _stub_decode(bytes(p)) for p in pdf["payload"]
                    ],
                    # frame-sample: every frame_stride-th frame index.
                    "sampled_frames": [
                        list(range(0, int(m["n_frames"]), frame_stride))
                        for m in meta
                    ],
                }
            )
            yield out

    return media.mapInPandas(decode_batches, DECODED_SCHEMA)


def resize_plan(media: DataFrame, max_side: int = 256) -> DataFrame:
    """Resize *planning* as pure expressions (scale factor, target
    dims); the pixel work would live in the decode stub. Shows that
    metadata-level transforms never leave the JVM."""
    w = F.col("meta.width")
    h = F.col("meta.height")
    scale = F.least(
        F.lit(1.0), F.lit(max_side) / F.greatest(w, h).cast("double")
    )
    return media.select(
        "doc_id",
        w.alias("width"),
        h.alias("height"),
        F.round(scale, 6).alias("scale"),
        F.ceil(w * scale).cast("int").alias("target_w"),
        F.ceil(h * scale).cast("int").alias("target_h"),
        F.octet_length("payload").alias("payload_bytes"),
    )
