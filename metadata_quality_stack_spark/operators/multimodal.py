"""Multimodal columns: image/audio/video as opaque ``binary`` payloads with
typed metadata, processed by Arrow-batched ``mapInPandas`` stages.

The reference (`mjanez/metadata-quality-stack`) has no binary media path —
its closest analog is format-sniffed opaque content dispatch
(`src/api/validators.py:808-841` sniffs by extension/Content-Type before
parsing). This module generalizes that pattern to a training-data pipeline:
payloads stay opaque bytes in their own parquet column chunk (never read
unless a stage asks — column pruning), metadata is a typed struct, and the
decode kernel is the ONLY per-byte step.

Container reality: no PIL/ffmpeg/librosa here, so the codec call itself is
STUBBED — ``decode_media`` dispatches to a deterministic fake decoder
(header-derived dims + byte statistics) and raises ``NotImplementedError``
in ``strict`` mode where a real codec would be linked. Everything
Spark-side is real and tested: schemas, Arrow batch iteration, partition
behavior, frame-sample arithmetic, resize bookkeeping.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Magic prefixes for sniffing (same dispatch shape as the reference's
# extension -> content-type -> default cascade, validators.py:811-841).
MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",
    b"\x1aE\xdf\xa3": "video/webm",
}

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("codec", T.StringType()),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
        T.StructField("payload_sha", T.StringType()),
    ]
)


# --------------------------------------------------------------- synthesis
def attach_fake_media(docs: DataFrame) -> DataFrame:
    """Deterministic fake media table from the documents corpus: payload =
    utf-8 bytes of the text prefixed with a magic header chosen by doc_id.
    Native expressions only — this is test scaffolding, not a decode path."""
    magics = list(MAGIC.items())
    branch = F.pmod(F.col("doc_id"), F.lit(len(magics)))
    header = F.when(branch == 0, F.lit(magics[0][0]))
    for i in range(1, len(magics)):
        header = header.when(branch == i, F.lit(magics[i][0]))
    mtype = F.when(branch == 0, F.lit(magics[0][1]))
    for i in range(1, len(magics)):
        mtype = mtype.when(branch == i, F.lit(magics[i][1]))
    payload = F.concat(header, F.encode(F.col("text"), "UTF-8"))
    return docs.select(
        "doc_id",
        mtype.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            (F.pmod(F.col("doc_id"), F.lit(640)) + 32).cast("int").alias("width"),
            (F.pmod(F.col("doc_id"), F.lit(480)) + 32).cast("int").alias("height"),
            (F.pmod(F.col("doc_id"), F.lit(9000)) + 1000).cast("int").alias("duration_ms"),
            F.lit(16000).cast("int").alias("sample_rate"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )


# --------------------------------------------------------------- metadata ops
def sniff_media_type(payload: F.Column) -> F.Column:
    """Magic-byte sniffing as a native when-chain (stays in codegen)."""
    expr = None
    for magic, mtype in MAGIC.items():
        cond = payload.startswith(F.lit(magic))
        expr = F.when(cond, F.lit(mtype)) if expr is None else expr.when(cond, F.lit(mtype))
    return expr.otherwise(F.lit("application/octet-stream"))

def media_stats(media: DataFrame) -> DataFrame:
    """Per-type byte stats — pure native aggregation over the binary column
    (length only; payload bytes never cross into Python)."""
    return (
        media.select(
            sniff_media_type(F.col("payload")).alias("sniffed_type"),
            F.octet_length("payload").alias("n_bytes"),
        )
        .groupBy("sniffed_type")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg("n_bytes"), 4).alias("avg_bytes"),
        )
    )


# --------------------------------------------------------------- decode stage
def payload_fingerprint(payload: bytes) -> str:
    """sha256 over the lowercase-hex rendering of the bytes — defined on
    the hex string (not raw bytes) so SQL engines whose hash functions are
    VARCHAR-only (DuckDB) can mirror it exactly for the oracle check."""
    return hashlib.sha256(payload.hex().encode()).hexdigest()


def _fake_decode(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in for the codec: dims from a header digest,
    mean over the first 4 KiB. A real build swaps in PIL/ffmpeg here."""
    d = bytes.fromhex(payload_fingerprint(payload[:64]))
    width = 16 + d[0] % 240
    height = 16 + d[1] % 240
    channels = 1 + d[2] % 4
    window = payload[:4096]
    mean = sum(window) / len(window) if window else 0.0
    return width, height, channels, round(mean, 6)


def decode_media(media: DataFrame, strict: bool = False) -> DataFrame:
    """The decode stage: Arrow-batched ``mapInPandas`` over (doc_id,
    media_type, payload). Batch shape, schema, and iteration are the real
    production plumbing; only the codec kernel is faked (or, with
    ``strict=True``, raises NotImplementedError exactly where a codec
    library would be invoked)."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, mtype, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                payload = bytes(payload)
                if strict:
                    raise NotImplementedError(
                        "real media codec (PIL/ffmpeg/librosa) not available "
                        "in this container; deterministic fake used instead"
                    )
                w, h, c, mean = _fake_decode(payload)
                rows.append(
                    (
                        int(doc_id),
                        mtype,
                        len(payload),
                        w,
                        h,
                        c,
                        mean,
                        payload_fingerprint(payload),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        decode_batches, schema=DECODED_SCHEMA
    )


# --------------------------------------------------------------- frame sample
def frame_sample(media: DataFrame) -> DataFrame:
    """Sample frame timestamps at one frame per second from video metadata —
    pure native ``sequence`` arithmetic; one output row per (doc, frame)."""
    step_ms = 1000
    return (
        media.filter(F.col("media_type").startswith("video/"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.col("meta.duration_ms") - 1,
                    F.lit(step_ms),
                )
            ).alias("frame_ts_ms"),
        )
        .withColumn("frame_idx", (F.col("frame_ts_ms") / step_ms).cast("int"))
    )


def resize_plan(decoded: DataFrame) -> DataFrame:
    """Resize bookkeeping (native): target dims preserving aspect ratio,
    longest side at most 64 px.
    The pixel resample itself belongs in the decode kernel (stubbed)."""
    scale = F.least(
        F.lit(1.0),
        F.lit(64) / F.greatest(F.col("width"), F.col("height")).cast("double"),
    )
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.round(scale, 6).alias("scale"),
        F.greatest(F.round(F.col("width") * scale).cast("int"), F.lit(1)).alias(
            "target_width"
        ),
        F.greatest(F.round(F.col("height") * scale).cast("int"), F.lit(1)).alias(
            "target_height"
        ),
    )
