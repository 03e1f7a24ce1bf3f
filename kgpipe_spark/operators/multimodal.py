"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Uncompressed formats decode FOR REAL via pure-Python parsers — PPM (P6), BMP
(24-bit), WAV (PCM) — with ``fake=False`` the default; a deterministic fake
decode remains available (``fake=True``) for tests that only exercise batch
shape. Only compressed codecs (JPEG/PNG/MP3/video) raise NotImplementedError,
because their decode libraries are not in this container; the Spark-side
plumbing — schema, partitioning, mapInPandas batch shape, UDF signatures —
is real and tested end-to-end either way, including nearest-neighbor image
resize with P6 re-encode.

Schema convention:
    media(media_id BIGINT, kind STRING, payload BINARY,
          meta STRUCT<width INT, height INT, duration_ms INT, codec STRING>)
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), False),
        StructField(
            "meta",
            StructType(
                [
                    StructField("width", IntegerType(), True),
                    StructField("height", IntegerType(), True),
                    StructField("duration_ms", IntegerType(), True),
                    StructField("codec", StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("feature", ArrayType(FloatType()), True),
        StructField("n_bytes", LongType(), False),
    ]
)


def synth_media(spark: SparkSession, n_rows: int) -> DataFrame:
    """Deterministic fake media table: payload = sha-derived bytes."""
    df = spark.range(n_rows)
    kind = (
        F.when(F.pmod("id", F.lit(3)) == 0, F.lit("image"))
        .when(F.pmod("id", F.lit(3)) == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
    )
    payload = F.encode(F.sha2(F.concat(F.lit("media-42-"), F.col("id")), 256), "utf-8")
    return df.select(
        F.col("id").alias("media_id"),
        kind.alias("kind"),
        payload.cast("binary").alias("payload"),
        F.struct(
            (F.lit(64) + F.pmod("id", F.lit(64))).cast("int").alias("width"),
            (F.lit(64) + F.pmod("id" , F.lit(48))).cast("int").alias("height"),
            (F.lit(1000) + F.pmod("id", F.lit(9000))).cast("int").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary P6 PPM → (h, w, 3) uint8 RGB. Pure Python/numpy, comment-aware
    header parse. Real decoder — no external imaging deps."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary P6 PPM")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval
    w, h, maxval = vals
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    data = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return data.reshape(h, w, 3)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP → (h, w, 3) uint8 RGB (rows are stored
    bottom-up BGR with 4-byte padding; both are undone). Pure Python/numpy."""
    import struct

    if not payload.startswith(b"BM"):
        raise ValueError("not a BMP")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP is supported")
    flipped = h > 0
    h = abs(h)
    row_size = (w * 3 + 3) & ~3
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_size * h, offset=data_offset
    ).reshape(h, row_size)[:, : w * 3].reshape(h, w, 3)
    if flipped:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """PCM WAV → (int16 sample array, sample_rate). stdlib ``wave`` module."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV is supported")
        rate = wf.getframerate()
        frames = wf.readframes(wf.getnframes())
    return np.frombuffer(frames, dtype=np.int16), rate


def _real_features(payload: bytes, dim: int) -> list[float]:
    """Real decode → fixed-layout feature vector (padded to ``dim``):
      image: [w, h, mean_r, mean_g, mean_b, std_r, std_g, std_b]
      audio: [n_samples, sample_rate, mean, std, rms, zero_crossings]
    Dispatch is by magic bytes (P6 PPM / BM BMP / RIFF WAV); compressed
    codecs (JPEG/MP3/H.264 …) still need PIL/librosa/av and raise."""
    if payload[:2] == b"P6":
        img = decode_ppm(payload)
    elif payload[:2] == b"BM":
        img = decode_bmp(payload)
    elif payload[:4] == b"RIFF":
        samples, rate = decode_wav(payload)
        s = samples.astype(np.float64)
        feats = [
            float(len(samples)),
            float(rate),
            float(s.mean()) if len(s) else 0.0,
            float(s.std()) if len(s) else 0.0,
            float(np.sqrt((s * s).mean())) if len(s) else 0.0,
            float(np.count_nonzero(np.diff(np.signbit(s)))),
        ]
        return (feats + [0.0] * dim)[:dim]
    else:
        raise NotImplementedError(
            "no pure-python decoder for this payload; compressed codecs "
            "(JPEG/MP3/video) require PIL/librosa/av — not installed"
        )
    h, w, _ = img.shape
    px = img.reshape(-1, 3).astype(np.float64)
    feats = [float(w), float(h)] + [float(m) for m in px.mean(axis=0)] + [
        float(sd) for sd in px.std(axis=0)
    ]
    return (feats + [0.0] * dim)[:dim]


def _fake_decode(payload: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic fake 'decoded feature': md5-seeded float vector."""
    h = hashlib.md5(payload).digest()
    raw = np.frombuffer((h * ((dim * 4) // len(h) + 1))[: dim * 4], dtype=np.uint32)
    return (raw.astype(np.float32) / np.float32(2**32)).astype(np.float32)


def extract_features(media: DataFrame, fake: bool = False, dim: int = 16) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    ``fake=False`` (default) REALLY decodes: pure-Python PPM / 24-bit BMP /
    PCM-16 WAV decoders, fixed-layout stats features (``_real_features``).
    Compressed codecs (JPEG/MP3/video) still require PIL/librosa/av — absent
    in this container — and raise NotImplementedError per payload.
    ``fake=True`` keeps the deterministic md5-derived pseudo-decode for
    plumbing tests on arbitrary bytes. The Spark side (Arrow batching,
    schema, partition preservation) is identical in both modes.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = []
            for payload in pdf["payload"]:
                raw = bytes(payload)
                if fake:
                    feats.append(_fake_decode(raw, dim).tolist())
                else:
                    feats.append(_real_features(raw, dim))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "feature": feats,
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def synth_decodable_media(spark: SparkSession, n_rows: int) -> DataFrame:
    """Deterministic REAL media fixture: PPM / BMP images and PCM WAV audio
    whose bytes are generated per media_id (constant-color pixels, constant
    samples), so decoded statistics are closed-form functions of media_id —
    replayable by a SQL oracle while the decoder genuinely parses bytes."""
    import io
    import struct
    import wave

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid in pdf["id"]:
                mid = int(mid)
                w = 4 + mid % 5
                h = 3 + mid % 4
                r, g, b = mid % 256, (mid * 7) % 256, (mid * 13) % 256
                if mid % 3 == 0:  # PPM
                    payload = (f"P6\n{w} {h}\n255\n").encode() + bytes([r, g, b]) * (w * h)
                    kind, width, height, dur = "image", w, h, None
                elif mid % 3 == 1:  # BMP (bottom-up 24bpp, BGR, padded rows)
                    row = bytes([b, g, r]) * w
                    row += b"\x00" * ((-len(row)) % 4)
                    data = row * h
                    header = struct.pack(
                        "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
                    ) + struct.pack(
                        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
                    )
                    payload = header + data
                    kind, width, height, dur = "image", w, h, None
                else:  # WAV: constant-amplitude PCM16
                    n_samples = 100 + mid % 50
                    val = mid % 1000
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as wf:
                        wf.setnchannels(1)
                        wf.setsampwidth(2)
                        wf.setframerate(8000)
                        wf.writeframes(struct.pack(f"<{n_samples}h", *([val] * n_samples)))
                    payload = buf.getvalue()
                    kind, width, height = "audio", None, None
                    dur = n_samples * 1000 // 8000
                rows.append((mid, kind, payload, width, height, dur))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "width", "height", "duration_ms"]
            )

    flat = spark.range(n_rows).mapInPandas(
        gen,
        "media_id long, kind string, payload binary, width int, height int, duration_ms int",
    )
    return flat.select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            F.col("width"), F.col("height"), F.col("duration_ms"), F.lit("raw").alias("codec")
        ).alias("meta"),
    )


def resize_image_batch(media: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """REAL nearest-neighbor resize over decodable image payloads (PPM/BMP):
    decode → index-map resample → re-encode as binary P6 PPM; meta width/
    height updated, codec set to 'ppm'. Non-image rows pass through
    untouched. mapInPandas keeps the Arrow batch shape of the decode path;
    numpy does the resample — no imaging deps."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads, widths, heights, codecs = [], [], [], []
            for kind, payload, meta in zip(pdf["kind"], pdf["payload"], pdf["meta"]):
                raw = bytes(payload)
                if kind != "image":
                    payloads.append(raw)
                    widths.append(meta["width"])
                    heights.append(meta["height"])
                    codecs.append(meta["codec"])
                    continue
                img = decode_ppm(raw) if raw[:2] == b"P6" else decode_bmp(raw)
                h, w, _ = img.shape
                ys = (np.arange(target_h) * h) // target_h
                xs = (np.arange(target_w) * w) // target_w
                out = img[ys][:, xs]
                payloads.append(
                    f"P6\n{target_w} {target_h}\n255\n".encode() + out.tobytes()
                )
                widths.append(target_w)
                heights.append(target_h)
                codecs.append("ppm")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload": payloads,
                    "meta": [
                        {"width": w_, "height": h_, "duration_ms": m["duration_ms"], "codec": c_}
                        for w_, h_, c_, m in zip(widths, heights, codecs, pdf["meta"])
                    ],
                }
            )

    return media.mapInPandas(batches, MEDIA_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video rows → (media_id, frame_ts_ms) sampling plan — pure JVM
    (sequence + explode); the actual frame decode plugs into
    ``extract_features``."""
    v = media.filter(F.col("kind") == "video")
    return v.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("meta.duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )
