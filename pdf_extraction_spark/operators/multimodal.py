"""Multimodal column plumbing: image/audio/video as opaque binary +
typed metadata.

Decoding is REAL for the formats the stdlib can handle — P6 PPM and
24-bit BMP images, PCM WAV audio (kernels/mediaio.py) — selected by
payload magic bytes. Payloads in formats needing external codecs
(JPEG/PNG/MP3/…) fall back to the deterministic fake, clearly marked;
swap in PIL / torchaudio on a real cluster. Everything Spark-side is
real and tested: schemas, Arrow batch shapes, ``mapInPandas``
signatures, partitioning.

Design notes for 100 TB: media blobs ride in their own column so column
pruning keeps them out of text-only scans; feature extraction is a
narrow map (no shuffle); frame sampling fans out rows but stays
partition-local until an explicit repartition.
"""

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.mediaio import pooled_features
from ..kernels.textstats import hash_bytes

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("codec", T.StringType()),
                ]
            ),
        ),
    ]
)


def _fake_decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for a real image decode: seeded noise of
    the declared shape. Replace with PIL/Pillow on a real cluster."""
    rng = np.random.RandomState(hash_bytes(payload or b"") % (2**32))
    return rng.randint(0, 256, size=(height or 8, width or 8, 3), dtype=np.uint8)


def _decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Real decode for stdlib-decodable formats (magic-byte sniff),
    deterministic fake for the rest (JPEG/PNG need external codecs).

    A magic-matching but truncated/corrupt payload must NOT kill the
    whole Spark stage — crawled media is full of such bytes at scale —
    so decode errors degrade to the deterministic fake too."""
    from ..kernels.mediaio import decode_bmp, decode_ppm

    try:
        if payload.startswith(b"P6"):
            return decode_ppm(payload)
        if payload.startswith(b"BM"):
            return decode_bmp(payload)
    except Exception:
        pass  # corrupt payload claiming a known magic → fake fallback
    return _fake_decode_image(payload, width, height)


def _decode_audio(payload: bytes, width: int, height: int) -> np.ndarray:
    """Real PCM WAV decode (RIFF magic); deterministic fake sample
    array for other containers or corrupt RIFF payloads (same
    never-kill-the-stage contract as _decode_image)."""
    from ..kernels.mediaio import decode_wav

    if payload.startswith(b"RIFF"):
        try:
            return decode_wav(payload)
        except Exception:
            pass
    rng = np.random.RandomState(hash_bytes(payload or b"") % (2**32))
    return rng.randint(-32768, 32768, size=(256, 1)).astype(np.int16)


DECODERS = {"image": _decode_image, "audio": _decode_audio}

FEATURES_SCHEMA = (
    "media_id long, media_type string, n_bytes long, "
    "mean_intensity double, feature_vec array<double>"
)


def extract_media_features(media: DataFrame, feat_dim: int = 16) -> DataFrame:
    """Decode → pooled feature vector, one Arrow batch at a time."""

    def batches(it):
        for pdf in it:
            out = []
            for _, row in pdf.iterrows():
                payload = row["payload"] or b""
                meta = row["meta"]
                decoder = DECODERS.get(row["media_type"])
                if decoder is None:
                    raise NotImplementedError(
                        f"no decoder for media_type={row['media_type']!r}; "
                        "register one in multimodal.DECODERS"
                    )
                img = decoder(payload, meta["width"], meta["height"])
                mean_intensity, pooled = pooled_features(img, feat_dim)
                out.append(
                    {
                        "media_id": row["media_id"],
                        "media_type": row["media_type"],
                        "n_bytes": len(payload),
                        "mean_intensity": mean_intensity,
                        "feature_vec": pooled,
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=FEATURES_SCHEMA)


def synth_real_media_df(spark, n_rows: int = 24) -> DataFrame:
    """Deterministic rows whose payloads are GENUINELY decodable (P6
    PPM / 24-bit BMP / PCM WAV — kernels/mediaio.synth_real_payload,
    shared with the oracle fixture generator)."""
    from ..kernels.mediaio import synth_real_payload

    rows = []
    for i in range(n_rows):
        mtype, payload, meta = synth_real_payload(i)
        rows.append((i, mtype, payload, meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synth_media_df(spark, n_rows: int = 32, seed: int = 42) -> DataFrame:
    """Deterministic media fixture rows."""
    import random

    rows = []
    for i in range(n_rows):
        rng = random.Random(hash_bytes(f"media{i}".encode(), seed))
        mtype = ["image", "audio", "video"][i % 3]
        payload = bytes(rng.getrandbits(8) for _ in range(64))
        rows.append(
            (
                i,
                mtype,
                payload,
                (rng.randint(4, 32), rng.randint(4, 32), rng.randint(500, 5000), "fake"),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
