"""Multimodal column plumbing: image/audio/video as opaque binary.

Model: a multimodal asset is a row with a ``binary`` payload column +
typed metadata (modality, mime, width/height/duration, …). The
Spark-side plumbing — schema, batching, partition-sized Arrow
transfer via ``mapInPandas`` — is real and tested. Decode is real
for every format stdlib+numpy can parse: binary PPM, uncompressed
24-bit BMP, non-interlaced 8-bit PNG (zlib-DEFLATE plus five
per-row filters), BASELINE JFIF JPEG in 4:4:4/4:2:0/grayscale
(huffman + dequantize + vectorized 8×8 IDCT + chroma upsample +
YCbCr→RGB — ``functions/jpeg.py``; the tests' JPEG and PNG writers
are in ``tests/image_encoders.py``), and PCM WAV audio. Remaining
codec formats (progressive JPEG, MP3, video containers) fall back to
deterministic byte-keyed stubs because media libraries are not
available in this environment — swap the fallback branch for
PIL/ffmpeg calls in production, inside the same mapInPandas kernels.

Scale notes: payloads ride in parquet binary columns; keep row groups
small enough that an Arrow batch of payloads fits executor memory
(``spark.sql.files.maxPartitionBytes`` and
``spark.sql.execution.arrow.maxRecordsPerBatch`` are the knobs).
Feature extraction is a mapInPandas pass — no shuffle; the expensive
bytes never leave their input partition.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

#: Canonical multimodal asset schema.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),  # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta_width", IntegerType()),
        StructField("meta_height", IntegerType()),
        StructField("meta_duration_s", DoubleType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("feat_mean", DoubleType()),
        StructField("feat_std", DoubleType()),
    ]
)


#: PNG 8-byte signature.
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int):
    """Reverse PNG's five per-row filters (spec §9: None/Sub/Up/
    Average/Paeth) on the decompressed scanline stream — ``h`` rows
    of ``1 + stride`` bytes each — returning an (h, stride) uint8
    array. Filters None/Sub/Up are vectorized (Sub is a per-lane
    prefix sum mod 256); Average/Paeth are inherently sequential in
    x (each pixel depends on the just-reconstructed left neighbor),
    so those rows run a Python loop — correctness-first, and per-ROW
    dispatch means images written with fast filters never pay it.
    """
    import numpy as np

    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * (stride + 1)]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        )
        if ftype == 0:  # None
            cur = row.copy()
        elif ftype == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp]
            lanes = row.reshape(stride // bpp, bpp).astype(np.int64)
            cur = (np.cumsum(lanes, axis=0) % 256).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            cur = row + prev  # uint8 wraps mod 256
        elif ftype == 3:  # Average
            cur = np.empty(stride, dtype=np.uint8)
            rl, pl, cl = row.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                left = cl[x - bpp] if x >= bpp else 0
                cl[x] = (rl[x] + ((left + pl[x]) >> 1)) & 0xFF
            cur[:] = cl
        elif ftype == 4:  # Paeth
            cur = np.empty(stride, dtype=np.uint8)
            rl, pl, cl = row.tolist(), prev.tolist(), [0] * stride
            for x in range(stride):
                a = cl[x - bpp] if x >= bpp else 0
                b = pl[x]
                c = pl[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cl[x] = (rl[x] + pred) & 0xFF
            cur[:] = cl
        else:
            return None
        out[y] = cur
        prev = out[y]
    return out


def _decode_png(payload: bytes):
    """Pure stdlib+numpy PNG decode: zlib-inflate the IDAT stream,
    reverse the per-row filters, map the color type to RGB. Supports
    non-interlaced 8-bit-per-sample images in all five PNG color
    types — gray (0), RGB (2), palette (3), gray+alpha (4), RGBA (6);
    alpha is dropped, gray replicated to 3 channels, palette looked
    up through PLTE. Interlaced (Adam7) and 16-bit images return
    ``None`` (rare in training corpora; a codec lib handles them in
    production)."""
    import zlib

    import numpy as np

    try:
        pos = len(_PNG_SIG)
        ihdr = None
        idat = bytearray()
        plte = None
        while pos + 8 <= len(payload):
            clen = int.from_bytes(payload[pos : pos + 4], "big")
            ctype = payload[pos + 4 : pos + 8]
            body = payload[pos + 8 : pos + 8 + clen]
            if ctype == b"IHDR":
                ihdr = body
            elif ctype == b"PLTE":
                plte = body
            elif ctype == b"IDAT":
                idat.extend(body)
            elif ctype == b"IEND":
                break
            pos += 12 + clen  # len + type + body + crc
        if ihdr is None or not idat:
            return None
        w = int.from_bytes(ihdr[0:4], "big")
        h = int.from_bytes(ihdr[4:8], "big")
        depth, color, _comp, _filt, interlace = ihdr[8:13]
        if depth != 8 or interlace != 0 or w <= 0 or h <= 0:
            return None
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
        if channels is None or (color == 3 and plte is None):
            return None
        stride = w * channels
        raw = zlib.decompress(bytes(idat))
        if len(raw) != h * (stride + 1):
            return None
        px = _png_unfilter(raw, h, stride, channels)
        if px is None:
            return None
        px = px.reshape(h, w, channels)
        if color == 2:
            return px.copy()
        if color == 6 or color == 4:
            px = px[:, :, :-1]  # drop alpha
        if px.shape[2] == 1:
            if color == 3:
                pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
                return pal[px[:, :, 0]].copy()
            return np.repeat(px, 3, axis=2).copy()
        return px.copy()
    except (ValueError, IndexError, zlib.error):
        return None


def decode_image(payload: bytes):
    """REAL image decode for every format stdlib+numpy can parse —
    binary PPM (``P6``), uncompressed 24-bit BMP, and non-interlaced
    8-bit PNG (all five color types; PNG is zlib-DEFLATE + five
    per-row filters, no codec library needed — see :func:`_decode_png`)
    — returning an ``(H, W, 3)`` uint8 RGB array, or ``None`` when
    the payload is none of them (JPEG/video need codec libraries this
    container lacks; those fall back to the byte-stats stub).

    The PPM/BMP parsers are vectorized ``np.frombuffer`` reshapes —
    no per-pixel Python — which is also the template a PIL/ffmpeg-
    backed production decoder should follow inside the same
    mapInPandas kernels.
    """
    import numpy as np

    if payload is None or len(payload) < 16:
        return None
    if payload[: len(_PNG_SIG)] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:3] == b"\xff\xd8\xff":
        # baseline JFIF JPEG: real pure-numpy decode (huffman +
        # dequant + vectorized 8x8 IDCT + chroma upsample + YCbCr);
        # progressive/arithmetic return None and fall back to the
        # byte-stats stub upstream
        from data_lake_with_spark_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload[:2] == b"P6":
        # header: "P6" <ws> width <ws> height <ws> maxval <single-ws>
        try:
            parts, idx = [], 2
            while len(parts) < 3:
                while idx < len(payload) and payload[idx : idx + 1].isspace():
                    idx += 1
                if payload[idx : idx + 1] == b"#":  # comment line
                    idx = payload.index(b"\n", idx) + 1
                    continue
                start = idx
                while idx < len(payload) and not payload[idx : idx + 1].isspace():
                    idx += 1
                parts.append(int(payload[start:idx]))
            idx += 1  # the single whitespace after maxval
            w, h, maxval = parts
            if maxval != 255:
                return None
            px = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=idx)
            return px.reshape(h, w, 3).copy()
        except (ValueError, IndexError):
            return None
    if payload[:2] == b"BM":
        try:
            off = int.from_bytes(payload[10:14], "little")
            w = int.from_bytes(payload[18:22], "little", signed=True)
            h = int.from_bytes(payload[22:26], "little", signed=True)
            bpp = int.from_bytes(payload[28:30], "little")
            comp = int.from_bytes(payload[30:34], "little")
            if bpp != 24 or comp != 0 or w <= 0 or h == 0:
                return None
            flip = h > 0  # positive height = bottom-up row order
            h = abs(h)
            stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
            rows = np.frombuffer(
                payload, dtype=np.uint8, count=stride * h, offset=off
            ).reshape(h, stride)
            bgr = rows[:, : w * 3].reshape(h, w, 3)
            rgb = bgr[:, :, ::-1]
            return (rgb[::-1] if flip else rgb).copy()
        except (ValueError, IndexError):
            return None
    return None


def decode_audio(payload: bytes):
    """REAL audio decode for PCM WAV (RIFF, 8/16-bit integer PCM) in
    pure numpy: returns ``(samples, sample_rate)`` with samples as a
    float64 array in [-1, 1] (channels interleaved-averaged to mono),
    or ``None`` for non-WAV / compressed payloads (those stay on the
    byte-stats stub).
    """
    import numpy as np

    if payload is None or len(payload) < 44:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    try:
        while pos + 8 <= len(payload):
            cid = payload[pos : pos + 4]
            sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            body = payload[pos + 8 : pos + 8 + sz]
            if cid == b"fmt ":
                fmt = body
            elif cid == b"data":
                data = body
            pos += 8 + sz + (sz & 1)  # chunks pad to even
        if fmt is None or data is None:
            return None
        audio_format = int.from_bytes(fmt[0:2], "little")
        n_channels = int.from_bytes(fmt[2:4], "little")
        sample_rate = int.from_bytes(fmt[4:8], "little")
        bits = int.from_bytes(fmt[14:16], "little")
        if audio_format != 1 or n_channels < 1:  # integer PCM only
            return None
        if bits == 16:
            raw = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
        elif bits == 8:  # 8-bit WAV is unsigned
            raw = (
                np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
            ) / 128.0
        else:
            return None
        n = (len(raw) // n_channels) * n_channels
        mono = raw[:n].reshape(-1, n_channels).mean(axis=1)
        return mono, sample_rate
    except (ValueError, IndexError):
        return None


def encode_ppm(img) -> bytes:
    """Encode an (H, W, 3) uint8 array as binary PPM — the lossless
    uncompressed round-trip target for :func:`resize_images`."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype("uint8").tobytes()


def _decode_stub(payload: bytes) -> "tuple[float, float]":
    """Feature kernel: REAL pixel stats when :func:`decode_image`
    parses the payload (PPM/BMP), REAL sample stats when
    :func:`decode_audio` does (PCM WAV), deterministic byte-value
    mean/std otherwise (the honest stub for codec formats this
    container cannot decode)."""
    if payload is None or len(payload) == 0:
        return (0.0, 0.0)
    import numpy as np

    img = decode_image(payload)
    if img is not None:
        arr = img.astype(np.float64)
    else:
        audio = decode_audio(payload)
        if audio is not None and len(audio[0]) > 0:
            arr = audio[0]
        else:
            # Byte-stub branch: EXACT integer sums, then one IEEE
            # division each — bitwise-reproducible by any engine that
            # sums the same integers (the DuckDB twin for q77 does
            # SUM(byte)/SUM(byte²) over ascii codepoints), unlike
            # np.mean/np.std whose pairwise float accumulation order
            # is numpy-private. Sums stay < 2^53 (255² per byte), so
            # int→double conversion is exact.
            a = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
            n = len(a)
            s = int(a.sum())
            ss = int((a * a).sum())
            mean = s / n
            var = ss / n - mean * mean
            return (mean, math.sqrt(var) if var > 0 else 0.0)
    return (float(arr.mean()), float(arr.std()))


def extract_features(assets: DataFrame) -> DataFrame:
    """Per-asset feature extraction via mapInPandas (Arrow-batched).

    One pass, no shuffle; binary payloads stay partition-local.
    """
    import hashlib

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            feats = [_decode_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "payload_md5": [
                        hashlib.md5(p).hexdigest() if p is not None else None
                        for p in pdf["payload"]
                    ],
                    "feat_mean": [f[0] for f in feats],
                    "feat_std": [f[1] for f in feats],
                }
            )

    return assets.mapInPandas(run, FEATURE_SCHEMA)


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Image resize: REAL nearest-neighbor resample for decodable
    payloads (PPM/BMP via :func:`decode_image` — two vectorized index
    gathers, re-encoded losslessly as PPM), payload truncate/pad stub
    for codec formats so batch shapes and downstream schemas are
    still exercised end-to-end.
    """

    def _resize(p: bytes | None) -> bytes | None:
        if p is None:
            return None
        import numpy as np

        img = decode_image(p)
        if img is None:  # codec formats: shape-preserving stub
            target = width * height
            return p[:target].ljust(target, b"\x00")
        h, w = img.shape[:2]
        yi = np.minimum((np.arange(height) * h) // height, h - 1)
        xi = np.minimum((np.arange(width) * w) // width, w - 1)
        return encode_ppm(img[yi][:, xi])

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = pdf.copy()
            out["payload"] = [_resize(p) for p in pdf["payload"]]
            out["meta_width"] = width
            out["meta_height"] = height
            yield out

    return assets.where(F.col("modality") == "image").mapInPandas(run, ASSET_SCHEMA)


def sample_frames(assets: DataFrame, every_s: float = 1.0) -> DataFrame:
    """Video frame sampling plumbing (1 row per sampled frame).

    Real implementation seeks the container with ffmpeg; the stub
    emits one fake frame per ``every_s`` of metadata duration with a
    deterministic payload slice, preserving the fan-out shape
    (explode-like row multiplication inside mapInPandas).
    """
    schema = StructType(
        [
            StructField("asset_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_ts_s", DoubleType()),
            StructField("frame_payload", BinaryType()),
        ]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            # vectorized fan-out: frame counts per asset, then one
            # np.repeat / concatenated-arange expansion — no iterrows.
            dur = pdf["meta_duration_s"].fillna(0.0).to_numpy(dtype=np.float64)
            n_frames = np.maximum((dur / every_s).astype(np.int64), 1)
            asset_ids = np.repeat(
                pdf["asset_id"].to_numpy(dtype=np.int64), n_frames
            )
            # per-frame index 0..n_frames[i]-1 for each asset, built
            # without a Python loop: global arange minus each frame
            # row's group-start offset.
            total = int(n_frames.sum())
            starts = np.repeat(np.cumsum(n_frames) - n_frames, n_frames)
            frame_idx = np.arange(total, dtype=np.int64) - starts
            payloads = np.repeat(
                pdf["payload"].apply(lambda p: p or b"").to_numpy(dtype=object),
                n_frames,
            )
            frame_payload = [
                bytes(p[i : i + 16]) for p, i in zip(payloads, frame_idx)
            ]
            yield pd.DataFrame(
                {
                    "asset_id": asset_ids,
                    "frame_idx": frame_idx.astype(np.int32),
                    "frame_ts_s": frame_idx * every_s,
                    "frame_payload": frame_payload,
                }
            )

    return assets.where(F.col("modality") == "video").mapInPandas(run, schema)
