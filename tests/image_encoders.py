"""Image encoders for test fixtures: the round-trip twins of the
package's decoders (``functions.jpeg.decode_jpeg`` and
``operators.multimodal.decode_image``'s PNG path).

The package decodes images but never writes JPEG or PNG, so the
writers live here, beside the tests that build payloads with them.
"""

from __future__ import annotations

import zlib

import numpy as np

from data_lake_with_spark_spark.functions.jpeg import _A, ZIGZAG, _canonical_codes
from data_lake_with_spark_spark.operators.multimodal import _PNG_SIG

# --- JPEG ------------------------------------------------------------

#: Annex K.1 luminance / K.2 chrominance base quantization tables.
QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
])
QUANT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
])

#: Annex K.3 typical huffman tables: (BITS counts per code length
#: 1..16, HUFFVAL symbol list), for (DC lum, AC lum, DC chrom, AC chrom).
_DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUM_VALS = list(range(12))
_DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROM_VALS = list(range(12))
_AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _dct_blocks(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("ui,nij,vj->nuv", _A, blocks, _A, optimize=True)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec F.1.2.3


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = (base.astype(np.int64) * s + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


def _size_cat(v: int) -> int:
    return int(v).bit_length() if v != 0 else 0


def _encode_codes(bits: list[int], vals: list[int]) -> dict:
    """{symbol: (code, length)}: the decoder's canonical code map
    inverted."""
    return {
        sym: (code, length)
        for (length, code), sym in _canonical_codes(bits, vals).items()
    }


def _encode_block(
    bw: _BitWriter, zz: np.ndarray, pred: int,
    dc_enc: dict, ac_enc: dict,
) -> int:
    dc = int(zz[0])
    diff = dc - pred
    size = _size_cat(abs(diff))
    code, length = dc_enc[size]
    bw.write(code, length)
    if size:
        bits = diff if diff > 0 else diff + (1 << size) - 1
        bw.write(bits, size)
    run = 0
    last_nz = 0
    for k in range(1, 64):
        if zz[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_enc[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        size = _size_cat(abs(v))
        code, length = ac_enc[(run << 4) | size]
        bw.write(code, length)
        bits = v if v > 0 else v + (1 << size) - 1
        bw.write(bits, size)
        run = 0
    if last_nz < 63:
        code, length = ac_enc[0x00]  # EOB
        bw.write(code, length)
    return dc


def encode_jpeg(
    img: np.ndarray, quality: int = 85, subsample: bool = False,
    grayscale: bool = False, restart_interval: int = 0,
) -> bytes:
    """Encode (H, W, 3) uint8 RGB as baseline JFIF JPEG — 4:4:4, 4:2:0
    with ``subsample=True`` (2×2 chroma averaging), or 1-component
    grayscale with ``grayscale=True`` (luma only — exercises the
    decoder's single-plane path). Annex-K tables at the libjpeg
    quality scaling. ``restart_interval`` > 0 emits a DRI segment and
    RSTn markers every that-many MCUs (pad-to-byte + marker + DC
    predictor reset, T.81 E.2.4) — the common libjpeg output shape
    the decoder must round-trip bit-identically to the unrestarted
    stream."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    rgb = img.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

    qlum = _scaled_quant(QUANT_LUM, quality)
    qchrom = _scaled_quant(QUANT_CHROM, quality)
    dcl = _encode_codes(_DC_LUM_BITS, _DC_LUM_VALS)
    acl = _encode_codes(_AC_LUM_BITS, _AC_LUM_VALS)
    dcc = _encode_codes(_DC_CHROM_BITS, _DC_CHROM_VALS)
    acc = _encode_codes(_AC_CHROM_BITS, _AC_CHROM_VALS)

    if grayscale:
        ch_factors = [(1, 1, 1, 0, qlum)]
        hmax = vmax = 1
        planes = [y]
    elif subsample:
        ch_factors = [(1, 2, 2, 0, qlum), (2, 1, 1, 1, qchrom), (3, 1, 1, 1, qchrom)]
        hmax = vmax = 2
        # 2x2 mean chroma on an even-padded grid
        he, we = (h + 1) & ~1, (w + 1) & ~1
        cbp = np.pad(cb, ((0, he - h), (0, we - w)), mode="edge")
        crp = np.pad(cr, ((0, he - h), (0, we - w)), mode="edge")
        cb_s = cbp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
        cr_s = crp.reshape(he // 2, 2, we // 2, 2).mean(axis=(1, 3))
        planes = [y, cb_s, cr_s]
    else:
        ch_factors = [(1, 1, 1, 0, qlum), (2, 1, 1, 1, qchrom), (3, 1, 1, 1, qchrom)]
        hmax = vmax = 1
        planes = [y, cb, cr]

    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # pad every plane to its block grid
    padded = []
    for (cid, chf, cvf, tq, q), plane in zip(ch_factors, planes):
        ph, pw = mcuy * cvf * 8, mcux * chf * 8
        plane = np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )
        padded.append(plane)

    bw = _BitWriter()
    pred = [0, 0, 0]
    inv_zz = ZIGZAG  # coeff order: zz[i] = block.flat[ZIGZAG[i]]
    mcu_i = 0
    rst_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                bw.flush()  # pad to byte boundary with 1-bits
                bw.out += bytes([0xFF, 0xD0 + (rst_i & 7)])
                rst_i += 1
                pred = [0, 0, 0]
            mcu_i += 1
            for ci, (cid, chf, cvf, tq, q) in enumerate(ch_factors):
                dc_enc = dcl if ci == 0 else dcc
                ac_enc = acl if ci == 0 else acc
                for by in range(cvf):
                    for bx in range(chf):
                        y0 = (my * cvf + by) * 8
                        x0 = (mx * chf + bx) * 8
                        block = padded[ci][y0 : y0 + 8, x0 : x0 + 8] - 128.0
                        coeffs = _dct_blocks(block[None])[0]
                        qz = np.round(coeffs.reshape(64)[inv_zz] / q[inv_zz])
                        zz = qz.astype(np.int32)
                        pred[ci] = _encode_block(bw, zz, pred[ci], dc_enc, ac_enc)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    out = bytearray(b"\xff\xd8")
    # DQT elements are in ZIGZAG order per spec B.2.4.1 (the tables
    # above are raster-order) — a raster-order write round-trips
    # deceptively well against this decoder at high quality because
    # the standard tables are smooth (q[i] ≈ q[ZIGZAG[i]]), but is
    # wrong for any spec-compliant reader and visibly wrong at low
    # quality; pinned by the q=30 PSNR test.
    out += seg(0xDB, bytes([0x00]) + bytes(int(qlum[ZIGZAG[i]]) for i in range(64)))
    if not grayscale:
        out += seg(
            0xDB, bytes([0x01]) + bytes(int(qchrom[ZIGZAG[i]]) for i in range(64))
        )
    sof = (
        bytearray([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big")
        + bytes([len(ch_factors)])
    )
    for cid, chf, cvf, tq, _q in ch_factors:
        sof += bytes([cid, (chf << 4) | cvf, tq])
    out += seg(0xC0, bytes(sof))
    huff_segs = [
        (0, 0, _DC_LUM_BITS, _DC_LUM_VALS),
        (1, 0, _AC_LUM_BITS, _AC_LUM_VALS),
    ]
    if not grayscale:
        huff_segs += [
            (0, 1, _DC_CHROM_BITS, _DC_CHROM_VALS),
            (1, 1, _AC_CHROM_BITS, _AC_CHROM_VALS),
        ]
    for tc, th, bits, vals in huff_segs:
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    sos = bytearray([len(ch_factors)])
    for ci, (cid, *_rest) in enumerate(ch_factors):
        td = ta = 0 if ci == 0 else 1
        sos += bytes([cid, (td << 4) | ta])
    if restart_interval:
        out += seg(0xDD, restart_interval.to_bytes(2, "big"))
    sos += bytes([0, 63, 0])
    out += seg(0xDA, bytes(sos))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# --- PNG -------------------------------------------------------------


def encode_png(img, filter_type: int = 0) -> bytes:
    """Minimal PNG writer for an (H, W, 3) uint8 array (color type 2,
    one filter type for every row) — the round-trip twin of
    ``multimodal._decode_png``."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    stride = w * 3
    flat = img.reshape(h, stride).astype(np.int64)
    rows = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = flat[y]
        if filter_type == 0:
            filt = cur
        elif filter_type == 1:  # Sub
            filt = (cur - np.concatenate([np.zeros(3, np.int64), cur[:-3]])) % 256
        elif filter_type == 2:  # Up
            filt = (cur - prev) % 256
        else:
            raise ValueError("encoder supports filter types 0/1/2")
        rows.append(filter_type)
        rows.extend(filt.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big")
            + ctype
            + body
            + zlib.crc32(ctype + body).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(rows)))
        + chunk(b"IEND", b"")
    )
