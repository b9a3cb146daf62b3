"""Multimodal column plumbing: images/audio/video as opaque binary + metadata.

The Spark-side machinery (schemas, Arrow batching, partitioning, UDF
signatures) is real and tested; decoders for formats that need external
libraries (libjpeg, ffmpeg, ...) are STUBBED behind NotImplementedError —
this container has no image/audio libs (see codecs.image for the formats
implemented from scratch: raw32 / png / q8).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, DoubleType,
                               FloatType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..codecs import decode_tile, phash64, psnr

FEATURE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("h", IntegerType()), StructField("w", IntegerType()),
    StructField("mean", DoubleType()), StructField("std", DoubleType()),
    StructField("p_nan", DoubleType()),
    StructField("phash", LongType()),
    StructField("hist", ArrayType(FloatType())),
])


def image_features(df_images: DataFrame, bins: int = 16) -> DataFrame:
    """Decode + per-tile feature extraction in one Arrow-batched pass:
    mean/std/NaN-fraction/phash/histogram.  Unsupported fmts raise."""
    def feats(batches):
        for pdf in batches:
            rows = []
            for iid, buf, w, h, fmt in zip(pdf["image_id"], pdf["bytes"],
                                           pdf["w"], pdf["h"], pdf["fmt"]):
                arr = decode_tile(buf, fmt, int(w), int(h))
                finite = arr[np.isfinite(arr)]
                lo = float(finite.min()) if finite.size else 0.0
                hi = float(finite.max()) if finite.size else 1.0
                hist = np.histogram(finite, bins=bins, range=(lo, hi or 1.0))[0]
                hist = (hist / max(finite.size, 1)).astype(np.float32)
                rows.append((iid, int(h), int(w),
                             float(finite.mean()) if finite.size else float("nan"),
                             float(finite.std()) if finite.size else float("nan"),
                             1.0 - finite.size / arr.size,
                             phash64(arr), hist.tolist()))
            yield pd.DataFrame(rows, columns=["image_id", "h", "w", "mean",
                                              "std", "p_nan", "phash", "hist"])

    return df_images.mapInPandas(feats, FEATURE_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("image_id", StringType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()), StructField("h", IntegerType()),
    StructField("fmt", StringType()),
])


def _block_mean(arr: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """NaN-aware block mean, fully vectorized (np.add.reduceat over both
    axes — no per-output-pixel Python).  Duplicate reduceat indices (the
    upsample case) pick the single source row/col, matching a 1-element
    block."""
    H, W = arr.shape
    ys = np.clip(np.linspace(0, H, out_h + 1)[:-1].astype(int), 0, H - 1)
    xs = np.clip(np.linspace(0, W, out_w + 1)[:-1].astype(int), 0, W - 1)
    finite = np.isfinite(arr)
    vals = np.where(finite, arr, 0.0)
    sums = np.add.reduceat(np.add.reduceat(vals, ys, axis=0), xs, axis=1)
    cnts = np.add.reduceat(np.add.reduceat(finite.astype(np.float64), ys, axis=0),
                           xs, axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = sums / cnts
    return np.where(cnts > 0, out, np.nan).astype(np.float32)


def image_resize(df_images: DataFrame, out_h: int, out_w: int,
                 out_fmt: str = "raw32") -> DataFrame:
    """Block-mean downsample (vectorized numpy) -> re-encode.  The Spark
    plumbing (binary in/out, Arrow batches) is the real product; swap the
    kernel for a PIL/opencv call when those libs exist."""
    from ..codecs import encode_tile

    def resize(batches):
        for pdf in batches:
            rows = []
            for iid, buf, w, h, fmt in zip(pdf["image_id"], pdf["bytes"],
                                           pdf["w"], pdf["h"], pdf["fmt"]):
                arr = decode_tile(buf, fmt, int(w), int(h))
                out = _block_mean(arr, out_h, out_w)
                rows.append((iid, encode_tile(out, out_fmt), out_w, out_h, out_fmt))
            yield pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])

    return df_images.mapInPandas(resize, RESIZE_SCHEMA)


AUDIO_SCHEMA = StructType([
    StructField("clip_id", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("samples", ArrayType(FloatType())),
])


def decode_audio(df: DataFrame, decoder=None) -> DataFrame:
    """Audio decode plumbing (Arrow-batched mapInPandas): input table
    (clip_id string, bytes binary, sample_rate int, n_samples long,
    fmt string) -> (clip_id, sample_rate, samples array<float>).

    The Spark side — schema, batching, UDF signature — is real and
    tested; only the codec is delegated: ``decoder(buf, fmt, n_samples)
    -> float array``.  A real implementation needs libsndfile/ffmpeg
    (absent in this container), so the default decoder raises
    NotImplementedError at execution; tests inject a deterministic fake
    to exercise the full distributed path."""
    def run(batches):
        for pdf in batches:
            rows = []
            for cid, buf, sr, n, fmt in zip(pdf["clip_id"], pdf["bytes"],
                                            pdf["sample_rate"],
                                            pdf["n_samples"], pdf["fmt"]):
                if decoder is None:
                    raise NotImplementedError(
                        "audio decoding requires libsndfile/ffmpeg, not "
                        "available in this environment — pass decoder=")
                samples = np.asarray(decoder(buf, fmt, int(n)),
                                     dtype=np.float32)
                rows.append((cid, int(sr), samples.tolist()))
            yield pd.DataFrame(rows, columns=["clip_id", "sample_rate",
                                              "samples"])

    return df.mapInPandas(run, AUDIO_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("video_id", StringType()),
    StructField("frame_no", LongType()),
    StructField("bytes", BinaryType()),
    StructField("w", IntegerType()), StructField("h", IntegerType()),
    StructField("fmt", StringType()),
])


def sample_video_frames(df: DataFrame, every_n: int = 30,
                        frame_decoder=None,
                        out_fmt: str = "raw32") -> DataFrame:
    """Video frame-sampling plumbing: input table (video_id string, bytes
    binary, fps double, n_frames long, fmt string) -> one row per sampled
    frame (video_id, frame_no, bytes, w, h, fmt) with
    frame_no = 0, every_n, 2*every_n, ... < n_frames.

    The SAMPLING logic (which frames, row fan-out, re-encode via the
    engine's own codecs) runs here and is real; only the container
    decode is delegated: ``frame_decoder(buf, fmt, frame_no) -> (h, w)
    float array``.  A real implementation needs ffmpeg (absent), so the
    default raises at execution; tests inject a deterministic fake."""
    from ..codecs import encode_tile

    def run(batches):
        for pdf in batches:
            rows = []
            for vid, buf, fps, n, fmt in zip(pdf["video_id"], pdf["bytes"],
                                             pdf["fps"], pdf["n_frames"],
                                             pdf["fmt"]):
                if frame_decoder is None:
                    raise NotImplementedError(
                        "video decoding requires ffmpeg, not available in "
                        "this environment — pass frame_decoder=")
                for fno in range(0, int(n), max(int(every_n), 1)):
                    arr = np.asarray(frame_decoder(buf, fmt, fno),
                                     dtype=np.float32)
                    h, w = arr.shape
                    rows.append((vid, fno, encode_tile(arr, out_fmt),
                                 int(w), int(h), out_fmt))
            yield pd.DataFrame(rows, columns=["video_id", "frame_no",
                                              "bytes", "w", "h", "fmt"])

    return df.mapInPandas(run, FRAME_SCHEMA)


def psnr_check(df_images: DataFrame, grid, reference_fn,
               gate_db: float | None = None) -> DataFrame:
    """input_hint invariant: decoded-pixel PSNR vs the analytic reference
    per tile (>= 40 dB for lossy formats).  reference_fn(iy, ix, t, var_salt)
    -> expected array."""
    from ..grid import GridSpec
    from ..options import get_options
    gate = gate_db or get_options()["psnr_gate_db"]
    gd = grid.to_dict()

    schema = StructType([StructField("image_id", StringType()),
                         StructField("psnr_db", DoubleType()),
                         StructField("passed", BooleanType())])

    def check(batches):
        g = GridSpec.from_dict(gd)
        for pdf in batches:
            rows = []
            for iid, buf, w, h, fmt in zip(pdf["image_id"], pdf["bytes"],
                                           pdf["w"], pdf["h"], pdf["fmt"]):
                parts = iid.split("_")
                tx, ty, t = int(parts[-1]), int(parts[-2]), int(parts[-3])
                arr = decode_tile(buf, fmt, int(w), int(h))
                iy, ix = g.tile_pixel_indices(ty, tx)
                want = reference_fn(ix, iy, t, 0)
                p = psnr(want, arr)
                rows.append((iid, p, bool(p >= gate)))
            yield pd.DataFrame(rows, columns=["image_id", "psnr_db", "passed"])

    return df_images.mapInPandas(check, schema)
