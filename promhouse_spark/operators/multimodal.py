"""Multimodal column plumbing (beyond-reference, driver north star).

Images/audio/video ride through the pipeline as opaque ``binary`` columns
with a typed metadata struct; decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` stages so the binary
payloads never round-trip through driver memory and partition sizing stays
byte-aware (``spark.sql.files.maxPartitionBytes``).

Decode is REAL for the formats the standard library + numpy can handle —
netpbm P5/P6 images and RIFF/WAVE PCM audio, including a real block-average
resize (``promhouse_spark.operators.codecs``); payloads are routed by magic
bytes. Compressed codecs (JPEG/PNG/MP3/H.264) need libraries this container
doesn't ship and raise ``NotImplementedError`` — adding one later is a new
entry in the sniffing dispatcher, not a redesign. A deterministic
``fake_decoder`` remains available for plumbing tests.
"""

from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from promhouse_spark.operators import codecs

# An asset row: opaque payload + typed metadata. The metadata struct is the
# queryable part (predicate pushdown works on it; the payload is only ever
# touched inside Arrow batches).
ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
        T.StructField("n_bytes", T.LongType(), True),
    ]
)


def default_decoder(payload: bytes) -> list[float]:
    """Sniff the payload's magic bytes and REALLY decode + featurize netpbm
    images and WAV audio (codecs.py); compressed codecs raise
    NotImplementedError until their libraries exist in the container."""
    return codecs.decode_features(payload)


def fake_decoder(payload: bytes) -> list[float]:
    """Deterministic stand-in 'decoder': 8 float features derived from byte
    statistics. Lets the full pipeline run end-to-end in environments
    without codec libraries."""
    if not payload:
        return [0.0] * 8
    n = len(payload)
    return [
        float(n),
        payload[0] / 255.0,
        payload[-1] / 255.0,
        sum(payload) / (255.0 * n),
        min(payload) / 255.0,
        max(payload) / 255.0,
        payload[n // 2] / 255.0,
        float(sum(1 for b in payload if b == 0)) / n,
    ]


def extract_features(
    assets: DataFrame,
    decoder: Callable[[bytes], list[float]] = default_decoder,
    batch_limit: int = 256,
) -> DataFrame:
    """Decode + featurize payloads via mapInPandas (Arrow batches, bounded
    per-batch row count so large payloads don't blow executor memory)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_limit):
                chunk = pdf.iloc[start : start + batch_limit]
                feats = [
                    decoder(bytes(p)) if p is not None else None
                    for p in chunk["payload"]
                ]
                yield pd.DataFrame(
                    {
                        "asset_id": chunk["asset_id"].values,
                        "feature": feats,
                        "n_bytes": [
                            len(p) if p is not None else 0 for p in chunk["payload"]
                        ],
                    }
                )

    return assets.select("asset_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expand each video asset into frame
    timestamps (the decode of each frame is the stubbed step). Pure
    built-ins — sequence() explode — so the expansion is JVM-side."""
    videos = assets.filter(F.col("media_type") == "video")
    return videos.select(
        "asset_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


PNM_W, PNM_H = 8, 8  # synthesized thumbnail geometry (192-byte RGB raster)


def synthesize_pnm_assets(docs: DataFrame) -> DataFrame:
    """Wrap each document as a REAL 8×8 RGB netpbm (P6) image asset whose
    raster bytes derive deterministically from the text content: the md5
    hex digest repeated to 192 ASCII bytes. The payload is a fully valid
    P6 file — header + raster — built entirely with JVM built-ins (concat
    of a binary literal and the encoded digest), so synthesis runs at scan
    speed with no Python in the loop, and the decode stage downstream
    exercises the real netpbm parser on every row."""
    raster_len = PNM_W * PNM_H * 3
    reps = raster_len // 32 + 1
    raster = F.substring(F.repeat(F.md5(F.col("text")), reps), 1, raster_len)
    header = F.lit(("P6\n%d %d\n255\n" % (PNM_W, PNM_H)).encode())
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.concat(header, F.encode(raster, "utf-8")).alias("payload"),
        F.struct(
            F.lit(PNM_W).cast("int").alias("width"),
            F.lit(PNM_H).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit("pnm").alias("codec"),
        ).alias("meta"),
    )


Y4M_W, Y4M_H, Y4M_FRAMES, Y4M_FPS = 8, 8, 4, 4


def synthesize_y4m_assets(docs: DataFrame) -> DataFrame:
    """Wrap each document as a REAL YUV4MPEG2 video asset (the raw format
    ffmpeg emits): 4 frames of 8×8 luma whose bytes derive
    deterministically from the text (an md5 chain — frame i's plane is
    md5(text||i) hex repeated to 64 bytes), neutral C420 chroma. Built
    entirely with JVM built-ins, so synthesis runs at scan speed and the
    downstream sampling stage exercises the real y4m parser per row."""
    y_len = Y4M_W * Y4M_H
    reps = y_len // 32 + 1
    header = F.lit(
        f"YUV4MPEG2 W{Y4M_W} H{Y4M_H} F{Y4M_FPS}:1 Ip A1:1 C420\n".encode()
    )
    chroma = F.lit(bytes([128]) * (2 * (Y4M_W // 2) * (Y4M_H // 2)))
    parts = [header]
    for i in range(Y4M_FRAMES):
        luma = F.substring(
            F.repeat(F.md5(F.concat(F.col("text"), F.lit(str(i)))), reps),
            1,
            y_len,
        )
        parts += [F.lit(b"FRAME\n"), F.encode(luma, "utf-8"), chroma]
    duration = int(Y4M_FRAMES / Y4M_FPS * 1000)
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("media_type"),
        F.concat(*parts).alias("payload"),
        F.struct(
            F.lit(Y4M_W).cast("int").alias("width"),
            F.lit(Y4M_H).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(duration).cast("long").alias("duration_ms"),
            F.lit("y4m").alias("codec"),
        ).alias("meta"),
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_ts_ms", T.LongType(), False),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("luma_std", T.DoubleType(), True),
        # exact integer luma sum (width·height uint8 values): downstream
        # averages/deltas can stay in integer fixed point, which is what
        # makes the differential oracle bit-exact
        T.StructField("sum_luma", T.LongType(), True),
    ]
)


def sample_video_frames(assets: DataFrame, every_ms: int = 250) -> DataFrame:
    """REAL frame sampling: decode each video payload (y4m) inside an
    Arrow-batched ``mapInPandas`` stage and emit one row per sampled frame
    (every ``every_ms`` along the timeline) with its luma statistics —
    the schema/partitioning/batch shape a production frame sampler has,
    running an actual decoder. Payloads never touch the driver."""
    import numpy as np

    videos = assets.filter(F.col("media_type") == "video").select(
        "asset_id", "payload"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {k: [] for k in
                   ("asset_id", "frame_idx", "frame_ts_ms", "mean_luma",
                    "luma_std", "sum_luma")}
            for aid, payload in zip(b["asset_id"], b["payload"]):
                dec = codecs.decode_y4m(bytes(payload))
                fps = dec["fps_num"] / max(dec["fps_den"], 1)
                step = max(1, round(every_ms * fps / 1000.0))
                for idx in range(0, dec["n_frames"], int(step)):
                    plane = dec["frames"][idx].astype(np.float64)
                    out["asset_id"].append(aid)
                    out["frame_idx"].append(idx)
                    out["frame_ts_ms"].append(int(idx * 1000 / fps))
                    out["mean_luma"].append(float(plane.mean()))
                    out["luma_std"].append(float(plane.std()))
                    out["sum_luma"].append(int(plane.sum()))
            yield pd.DataFrame(out)

    return videos.mapInPandas(run, FRAME_SCHEMA)


WAV_N_SAMPLES, WAV_RATE = 64, 8000


def _wav_header(n_samples: int, rate: int) -> bytes:
    import struct

    return (
        b"RIFF"
        + struct.pack("<I", 36 + n_samples)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate, 1, 8)
        + b"data"
        + struct.pack("<I", n_samples)
    )


def synthesize_wav_assets(docs: DataFrame) -> DataFrame:
    """Wrap each document as a REAL RIFF/WAVE 8-bit PCM asset: a canonical
    44-byte header (constant — geometry is fixed) + 64 PCM samples from
    the text's md5 hex repeated. Fully valid for any WAV reader; built
    with JVM built-ins, decoded downstream by the real stdlib parser."""
    pcm = F.substring(F.repeat(F.md5(F.col("text")), 2), 1, WAV_N_SAMPLES)
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("audio").alias("media_type"),
        F.concat(
            F.lit(_wav_header(WAV_N_SAMPLES, WAV_RATE)), F.encode(pcm, "utf-8")
        ).alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(WAV_RATE).cast("int").alias("sample_rate"),
            F.lit(int(WAV_N_SAMPLES * 1000 / WAV_RATE)).cast("long").alias(
                "duration_ms"
            ),
            F.lit("wav").alias("codec"),
        ).alias("meta"),
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        # exact integer |PCM − midpoint| sum (8-bit path: the decoded
        # floats are k/128, so the byte values reconstruct exactly) —
        # keeps the downstream level statistics in integer fixed point
        T.StructField("sum_abs_dev", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def audio_stats(assets: DataFrame) -> DataFrame:
    """REAL audio decode per row inside Arrow-batched mapInPandas: parse
    each WAV payload, emit per-asset level statistics (exact integer
    deviation sum + float RMS)."""
    import numpy as np

    audio = assets.filter(F.col("media_type") == "audio").select(
        "asset_id", "payload"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {k: [] for k in
                   ("asset_id", "sample_rate", "n_samples", "sum_abs_dev", "rms")}
            for aid, payload in zip(b["asset_id"], b["payload"]):
                dec = codecs.decode_wav(bytes(payload))
                mono = dec["samples"].mean(axis=1)
                out["asset_id"].append(aid)
                out["sample_rate"].append(int(dec["sample_rate"]))
                out["n_samples"].append(int(dec["n_frames"]))
                out["sum_abs_dev"].append(
                    int(np.rint(np.abs(mono * 128.0)).sum())
                )
                out["rms"].append(float(np.sqrt(np.mean(mono**2))))
            yield pd.DataFrame(out)

    return audio.mapInPandas(run, AUDIO_STATS_SCHEMA)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Adapter for tests/demos: wrap document texts as fake binary assets
    (utf-8 payloads, image metadata derived from length)."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.col("n_chars").cast("int").alias("width"),
            F.lit(1).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit("utf8").alias("codec"),
        ).alias("meta"),
    )
