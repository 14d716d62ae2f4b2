"""Baseline JPEG codec in pure stdlib+numpy — no codec library.

Closes the last big multimodal stub: JFIF baseline sequential JPEG
(SOF0, 8-bit, huffman, 4:4:4 or 4:2:0) decodes to an (H, W, 3) RGB
array with the textbook pipeline — marker parse → entropy decode
(canonical huffman + byte-unstuffing) → dequantize → de-zigzag →
8×8 IDCT (one matrix sandwich over all blocks at once) → chroma
upsample → YCbCr→RGB. The package never writes JPEG; the tests'
round-trip twin (baseline 4:4:4 or 4:2:0 with the Annex-K
quantization/huffman tables; JPEG is lossy, so they assert PSNR, not
equality) is ``tests/image_encoders.encode_jpeg``, built on the
zigzag order, DCT matrix and canonical codes shared here.

Progressive (SOF2), arithmetic coding, and 12-bit precision return
``None`` — rare in training corpora, and the honest fallback is the
byte-stats stub one level up (operators/multimodal.py).
"""

from __future__ import annotations

import numpy as np

# --- shared tables ---------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])


def _canonical_codes(bits: list[int], vals: list[int]):
    """Canonical huffman codes per JPEG spec C.2, as the decode map
    {(length, code): symbol}."""
    decode: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            decode[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return decode


def _dct_matrix() -> np.ndarray:
    a = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.5) if u == 0 else 1.0
        for i in range(8):
            a[u, i] = np.sqrt(2.0 / 8.0) * c * np.cos((2 * i + 1) * u * np.pi / 16.0)
    return a


_A = _dct_matrix()


def _idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) DCT coefficients → (n, 8, 8) spatial samples, one
    einsum sandwich for every block at once (no per-pixel Python)."""
    return np.einsum("ui,nuv,vj->nij", _A, coeffs, _A, optimize=True)


# --- decoder ---------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing. Markers — INCLUDING RSTn — stop the prefetch
    without being consumed: the round-6 advisor showed that skipping
    RSTn inside ``_fill`` discarded up to 24 bits of still-unread
    pre-marker entropy data sitting in the prefetch buffer (reading
    ``AA CC F0 FF D0 55`` yielded 0x55 first instead of 0xAA).
    Restart markers are consumed only at MCU-interval boundaries via
    :meth:`restart`, which also lets the decode loop reset its DC
    predictors per T.81 E.2.4."""

    def __init__(self, data: bytes, start: int):
        self.data = data
        self.pos = start
        self.bitbuf = 0
        self.nbits = 0

    def _fill(self) -> bool:
        d = self.data
        while self.nbits <= 24:
            if self.pos >= len(d):
                return self.nbits > 0
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt == 0x00:  # stuffed 0xFF data byte
                    self.pos += 2
                else:  # any marker (RSTn, EOI, next segment): stop here
                    return self.nbits > 0
                b = 0xFF
            else:
                self.pos += 1
            self.bitbuf = (self.bitbuf << 8) | b
            self.nbits += 8
        return True

    def restart(self) -> None:
        """Consume one RSTn at an MCU-interval boundary: drop the pad
        bits, then the 2-byte marker. Because ``_fill`` never reads
        past a marker, whatever is buffered here is pre-marker pad —
        at most the 7 one-bits completing the interval's last byte
        (F.1.2.3); dropping it loses no entropy data."""
        if self.nbits >= 8:
            raise ValueError("jpeg: >7 bits pending at restart boundary")
        self.bitbuf = 0
        self.nbits = 0
        d = self.data
        if (
            self.pos + 1 < len(d)
            and d[self.pos] == 0xFF
            and 0xD0 <= d[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError("jpeg: expected RSTn at restart interval")

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            raise EOFError
        if self.nbits == 0:
            raise EOFError
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _extend(bits: int, size: int) -> int:
    if size == 0:
        return 0
    if bits < (1 << (size - 1)):
        return bits - (1 << size) + 1
    return bits


def _decode_huff(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code")


def decode_jpeg(payload: bytes):
    """Decode baseline JFIF JPEG to (H, W, 3) uint8 RGB, or ``None``
    for anything this decoder doesn't speak (progressive, arithmetic,
    12-bit, >2 sampling factors)."""
    try:
        return _decode_jpeg_inner(payload)
    except Exception:
        return None


def _decode_jpeg_inner(payload: bytes):
    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        return None
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    scan = None
    restart_interval = 0
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = int.from_bytes(payload[pos + 2 : pos + 4], "big")
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                if pq != 0:
                    return None  # 16-bit tables: not baseline-8
                tbl = np.frombuffer(body[i + 1 : i + 65], dtype=np.uint8)
                quant[tq] = tbl.astype(np.int32)
                i += 65
        elif marker == 0xC0:  # SOF0 baseline
            precision = body[0]
            if precision != 8:
                return None
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            ncomp = body[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            return None  # non-baseline SOF
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(body[i + 17 : i + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = _canonical_codes(bits, vals)
                i += 17 + nv
        elif marker == 0xDA:  # SOS
            ns = body[0]
            sel = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                sel.append((cs, tt >> 4, tt & 0x0F))
            scan = (sel, pos + 2 + seglen)
            break
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            restart_interval = int.from_bytes(body[0:2], "big")
        # else: APPn/COM skipped
        pos += 2 + seglen
    if frame is None or scan is None:
        return None
    h, w, comps = frame
    sel, data_start = scan
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax > 2 or vmax > 2:
        return None
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    reader = _BitReader(payload, data_start)
    # per-component block grids
    planes = []
    for cid, ch, cv, tq in comps:
        bw, bh = mcux * ch, mcuy * cv
        planes.append(np.zeros((bh * bw, 8, 8), dtype=np.float64))
    pred = [0] * len(comps)
    sel_by_comp = {cs: (td, ta) for cs, td, ta in sel}
    mcu_i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                # T.81 E.2.4: consume RSTn (pad bits + marker) and
                # reset every DC predictor — each restart interval is
                # an independently-decodable run.
                reader.restart()
                pred = [0] * len(comps)
            mcu_i += 1
            for ci, (cid, ch, cv, tq) in enumerate(comps):
                td, ta = sel_by_comp[cid]
                dct_t, act = huff_dc[td], huff_ac[ta]
                q = quant[tq]
                for by in range(cv):
                    for bx in range(ch):
                        zz = np.zeros(64, dtype=np.int32)
                        s = _decode_huff(reader, dct_t)
                        diff = _extend(reader.read_bits(s), s)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(reader, act)
                            r, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC overrun")
                            zz[k] = _extend(reader.read_bits(size), size)
                            k += 1
                        coeff = np.zeros(64, dtype=np.float64)
                        coeff[ZIGZAG] = zz * q
                        bw = mcux * ch
                        idx = (my * cv + by) * bw + (mx * ch + bx)
                        planes[ci][idx] = coeff.reshape(8, 8)
    # IDCT all blocks per component, assemble planes, upsample
    out_planes = []
    for ci, (cid, ch, cv, tq) in enumerate(comps):
        bw, bh = mcux * ch, mcuy * cv
        spatial = _idct_blocks(planes[ci]) + 128.0
        grid = spatial.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(
            bh * 8, bw * 8
        )
        # upsample to full resolution by sample repetition
        ry, rx = vmax // cv, hmax // ch
        if ry > 1 or rx > 1:
            grid = np.repeat(np.repeat(grid, ry, axis=0), rx, axis=1)
        out_planes.append(grid[:h, :w])
    if len(out_planes) == 1:
        y = np.clip(out_planes[0], 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    if len(out_planes) != 3:
        return None
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
