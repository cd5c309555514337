"""Baseline JPEG (ITU-T T.81 / JFIF) codec in pure numpy + stdlib — no
PIL, no libjpeg.

Scope: baseline sequential DCT, 8-bit, 3 components (YCbCr), sampling
factors 1 and 2 — 4:4:4, 4:2:2, and 4:2:0, the last being what cameras
and web encoders actually emit — with Huffman entropy coding in the
Annex-K table shapes. The encoder emits a spec-valid interchange-format
stream (SOI / APP0-JFIF / DQT / SOF0 / DHT / SOS / entropy-coded data
with 0xFF byte stuffing / EOI) in any of the three samplings; the
decoder reads the
quantization and Huffman tables FROM THE STREAM (as every conforming
decoder must) and walks the general interleaved MCU layout, so it
decodes any baseline JPEG with factors ≤ 2, not just its own output,
and raises a typed error for progressive or restart-interval streams
(honest scoping — those need a fuller scan machine, not different
libraries).

JPEG is lossy: round-trip tests pin exact dimensions plus a mean/max
reconstruction-error bound (the quantization tables' guarantee), unlike
the byte-exact BMP/PNG codecs in operators/multimodal.py.

Entropy coding is per-symbol Python (bit IO does not vectorize); the
DCT/IDCT, quantization, and color transforms are vectorized numpy over
all blocks at once. Fine for the feature-extraction demo sizes this
engine encodes on executors; a production path would bind libjpeg-turbo
into the same Arrow-batched mapInPandas shape.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# constants: zigzag order, Annex-K quantization + Huffman table shapes
# ---------------------------------------------------------------------------

ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# (bits-per-length counts, symbol values) — the Annex-K shapes. The
# decoder never assumes these: it reads whatever DHT the stream carries.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))

AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
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
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
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

# orthonormal 8-point DCT-II matrix: FDCT = C @ X @ C.T, IDCT = C.T @ Y @ C
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16)
_C[0] *= np.sqrt(1 / 8)
_C[1:] *= np.sqrt(2 / 8)


# ---------------------------------------------------------------------------
# canonical Huffman construction (spec C.2: codes assigned in length order)
# ---------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for an encoder."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _build_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol for a decoder."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            byte = (self._acc >> self._n) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing (spec F.1.2.3)
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits


class _BitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy stream truncated")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            nxt = self.data[self.pos] if self.pos < len(self.data) else None
            if nxt == 0x00:
                self.pos += 1  # stuffed byte: literal 0xFF
            else:
                raise ValueError("unexpected marker inside entropy stream")
        self._acc = (self._acc << 8) | b
        self._n += 8

    def bit(self) -> int:
        if self._n == 0:
            self._fill()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v


def _huff_decode(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _value_bits(v: int, t: int) -> int:
    return v if v >= 0 else v + (1 << t) - 1


def _extend(r: int, t: int) -> int:
    if t == 0:
        return 0
    return r if r >= (1 << (t - 1)) else r - (1 << t) + 1


# ---------------------------------------------------------------------------
# color transforms + block helpers (vectorized)
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y, cb, cr = ycc[..., 0], ycc[..., 1] - 128.0, ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


def _to_blocks(plane: np.ndarray) -> tuple[np.ndarray, int, int]:
    """Edge-replicate-pad a (h, w) plane to multiples of 8 and reshape to
    (n_blocks, 8, 8) in raster block order."""
    h, w = plane.shape
    ph, pw = (-h) % 8, (-w) % 8
    padded = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    bh, bw = padded.shape[0] // 8, padded.shape[1] // 8
    blocks = padded.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    return blocks, bh, bw


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _quantized_zigzag(plane: np.ndarray, quant: np.ndarray) -> tuple[np.ndarray, int, int]:
    """(n_blocks, 64) quantized zigzag coefficients for one component
    plane, plus its block-grid shape."""
    blocks, bh, bw = _to_blocks(plane)
    coefs = np.einsum("ij,njk,lk->nil", _C, blocks, _C)
    q = np.round(coefs / quant).astype(np.int64)
    # clamp to the categories the Annex-K tables can express
    np.clip(q, -1023, 1023, out=q)
    return q[:, ZIGZAG // 8, ZIGZAG % 8], bh, bw


def _emit_block(bw_: _BitWriter, zz, pred: list, ci: int, tsel: int, dc_codes, ac_codes) -> None:
    diff = int(zz[0]) - pred[ci]
    pred[ci] = int(zz[0])
    t = _category(diff)
    code, ln = dc_codes[tsel][t]
    bw_.write(code, ln)
    if t:
        bw_.write(_value_bits(diff, t), t)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[tsel][0xF0]  # ZRL
            bw_.write(code, ln)
            run -= 16
        t = _category(v)
        code, ln = ac_codes[tsel][(run << 4) | t]
        bw_.write(code, ln)
        bw_.write(_value_bits(v, t), t)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[tsel][0x00]  # EOB
        bw_.write(code, ln)


def encode_jpeg(rgb: np.ndarray, subsampling: str = "444") -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a baseline JFIF JPEG —
    ``subsampling="444"`` (one Y/Cb/Cr block per MCU), ``"422"``
    (horizontal-only chroma halving: 2 Y + 1 Cb + 1 Cr per 16x8 MCU —
    the broadcast/video-frame convention), or ``"420"`` (2x2 chroma
    subsampling: 4 Y + 1 Cb + 1 Cr per 16x16 MCU, chroma planes are
    2x2 block means — what cameras and web encoders actually emit).
    Tables are written into DQT/DHT, so ANY conforming decoder
    (including :func:`decode_jpeg_pixels`) reconstructs from the
    stream alone."""
    rgb = np.asarray(rgb)
    if rgb.ndim != 3 or rgb.shape[2] != 3 or rgb.dtype != np.uint8:
        raise ValueError("encode_jpeg expects an (h, w, 3) uint8 array")
    if subsampling not in ("444", "422", "420"):
        raise ValueError(
            f"subsampling must be '444', '422', or '420', got {subsampling!r}"
        )
    h, w = rgb.shape[:2]
    if h < 1 or w < 1 or h > 65535 or w > 65535:
        raise ValueError(f"JPEG dimensions out of range: {w}x{h}")

    ycc = _rgb_to_ycbcr(rgb.astype(np.float64)) - 128.0
    dc_codes = (
        _build_codes(DC_LUMA_BITS, DC_LUMA_VALS),
        _build_codes(DC_CHROMA_BITS, DC_CHROMA_VALS),
    )
    ac_codes = (
        _build_codes(AC_LUMA_BITS, AC_LUMA_VALS),
        _build_codes(AC_CHROMA_BITS, AC_CHROMA_VALS),
    )
    bw_ = _BitWriter()
    pred = [0, 0, 0]

    if subsampling == "444":
        samp = [0x11, 0x11, 0x11]
        quants = (QUANT_LUMA, QUANT_CHROMA, QUANT_CHROMA)
        coefs = [
            _quantized_zigzag(ycc[..., ci], quants[ci])[0] for ci in range(3)
        ]
        for bi in range(coefs[0].shape[0]):
            for ci in range(3):
                _emit_block(
                    bw_, coefs[ci][bi], pred, ci, 0 if ci == 0 else 1,
                    dc_codes, ac_codes,
                )
    else:
        # subsampled chroma: pad to MCU alignment (edge replicate),
        # chroma planes = hy x hx block means of the padded plane, Y
        # blocks interleaved hy x hx per MCU followed by one Cb + one Cr
        hx, hy = (2, 2) if subsampling == "420" else (2, 1)
        samp = [(hx << 4) | hy, 0x11, 0x11]
        ph, pw = (-h) % (8 * hy), (-w) % (8 * hx)
        padded = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
        yq, ybh, ybw = _quantized_zigzag(padded[..., 0], QUANT_LUMA)
        hh, ww = padded.shape[0] // hy, padded.shape[1] // hx
        chroma = padded.reshape(hh, hy, ww, hx, 3).mean(axis=(1, 3))
        cbq, cbh, cbw = _quantized_zigzag(chroma[..., 1], QUANT_CHROMA)
        crq, _, _ = _quantized_zigzag(chroma[..., 2], QUANT_CHROMA)
        mcux, mcuy = ybw // hx, ybh // hy
        for my in range(mcuy):
            for mx in range(mcux):
                for by in range(hy):
                    for bx in range(hx):
                        _emit_block(
                            bw_,
                            yq[(my * hy + by) * ybw + (mx * hx + bx)],
                            pred, 0, 0, dc_codes, ac_codes,
                        )
                _emit_block(bw_, cbq[my * cbw + mx], pred, 1, 1, dc_codes, ac_codes)
                _emit_block(bw_, crq[my * cbw + mx], pred, 2, 1, dc_codes, ac_codes)
    bw_.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00" + struct.pack(">HH", 1, 1) + b"\x00\x00")
    dqt = seg(
        0xFFDB,
        b"\x00" + bytes(int(QUANT_LUMA.flat[z]) for z in ZIGZAG)
        + b"\x01" + bytes(int(QUANT_CHROMA.flat[z]) for z in ZIGZAG),
    )
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, samp[0], 0, 2, samp[1], 1, 3, samp[2], 1]),
    )
    dht = seg(
        0xFFC4,
        b"\x00" + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS)
        + b"\x01" + bytes(DC_CHROMA_BITS) + bytes(DC_CHROMA_VALS)
        + b"\x10" + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS)
        + b"\x11" + bytes(AC_CHROMA_BITS) + bytes(AC_CHROMA_VALS),
    )
    sos = seg(0xFFDA, b"\x03" + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00")
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + sos + bytes(bw_.out) + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg_pixels(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline JPEG to (width, height, (h, w, 3) uint8 RGB).
    Sampling factors 1 and 2 are supported — 4:4:4, 4:2:2, and 4:2:0
    (the camera/web default); the MCU walk interleaves each component's
    h×v blocks and subsampled chroma upsamples by pixel repetition.
    Tables come from the stream's DQT/DHT segments; progressive (SOF2)
    or restart-interval streams raise ValueError with the reason
    (scoping, not corruption)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (no SOI)")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    comps: list[tuple[int, int, int]] = []  # (id, dc_table, ac_table)
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        marker = struct.unpack_from(">H", payload, pos)[0]
        if marker == 0xFFD9:
            break
        (ln,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + ln]
        if marker == 0xFFDB:
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization tables unsupported")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(body[bp + 1 : bp + 65], dtype=np.uint8)
                quant[tq] = tbl.reshape(8, 8)
                bp += 65
        elif marker in (0xFFC1, 0xFFC2, 0xFFC3):
            raise ValueError("only baseline sequential JPEG (SOF0) is supported")
        elif marker == 0xFFC0:
            prec, fh, fw, nc = struct.unpack_from(">BHHB", body, 0)
            if prec != 8 or nc != 3:
                raise ValueError(f"unsupported JPEG: precision={prec} comps={nc}")
            frame = (fh, fw)
            for i in range(nc):
                cid, samp, tq = body[6 + 3 * i : 9 + 3 * i]
                hi, vi = samp >> 4, samp & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError(
                        f"sampling factor {hi}x{vi} unsupported (1 or 2 only — "
                        f"covers 4:4:4, 4:2:2, and 4:2:0)"
                    )
                comps.append((cid, tq, hi, vi))
        elif marker == 0xFFC4:
            bp = 0
            while bp < len(body):
                tc, th = body[bp] >> 4, body[bp] & 0x0F
                bits = list(body[bp + 1 : bp + 17])
                n = sum(bits)
                vals = list(body[bp + 17 : bp + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _build_decode_map(bits, vals)
                bp += 17 + n
        elif marker == 0xFFDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xFFDA:
            ns = body[0]
            sel = {}
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                sel[cid] = (tt >> 4, tt & 0x0F)
            if frame is None:
                raise ValueError("SOS before SOF0")
            # validate table references UP FRONT so a corrupt stream
            # surfaces the documented typed ValueError, never a bare
            # KeyError from deep inside the scan loop (r11 review)
            for cid, tq, _hi, _vi in comps:
                if tq not in quant:
                    raise ValueError(
                        f"JPEG component {cid} references undefined "
                        f"quantization table {tq}"
                    )
                td, ta = sel.get(cid, (None, None))
                if td not in huff_dc or ta not in huff_ac:
                    raise ValueError(
                        f"JPEG scan references undefined Huffman tables "
                        f"(component {cid}: dc={td}, ac={ta})"
                    )
            fh, fw = frame
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            mcux = (fw + 8 * hmax - 1) // (8 * hmax)
            mcuy = (fh + 8 * vmax - 1) // (8 * vmax)
            reader = _BitReader(payload, pos + 2 + ln)
            # per-component block grids (mcuy*vi rows x mcux*hi cols)
            comp_zz = [
                np.zeros((mcuy * vi * mcux * hi, 64), dtype=np.int64)
                for (_cid, _tq, hi, vi) in comps
            ]
            pred = [0] * len(comps)
            for my in range(mcuy):
                for mx in range(mcux):
                    for ci, (cid, _tq, hi, vi) in enumerate(comps):
                        td, ta = sel[cid]
                        for by in range(vi):
                            for bx in range(hi):
                                t = _huff_decode(reader, huff_dc[td])
                                diff = _extend(reader.bits(t), t) if t else 0
                                pred[ci] += diff
                                row = my * vi + by
                                col = mx * hi + bx
                                zz = comp_zz[ci][row * (mcux * hi) + col]
                                zz[0] = pred[ci]
                                k = 1
                                while k < 64:
                                    rs = _huff_decode(reader, huff_ac[ta])
                                    run, t = rs >> 4, rs & 0x0F
                                    if rs == 0x00:  # EOB
                                        break
                                    if rs == 0xF0:  # ZRL
                                        k += 16
                                        continue
                                    k += run
                                    if k > 63:
                                        raise ValueError(
                                            "AC coefficient index overran the block"
                                        )
                                    zz[k] = _extend(reader.bits(t), t)
                                    k += 1
            planes = []
            for ci, (cid, tq, hi, vi) in enumerate(comps):
                bh_i, bw_i = mcuy * vi, mcux * hi
                blocks = np.zeros((bh_i * bw_i, 8, 8), dtype=np.float64)
                blocks[:, ZIGZAG // 8, ZIGZAG % 8] = comp_zz[ci]
                blocks *= quant[tq]
                spatial = np.einsum("ji,njk,kl->nil", _C, blocks, _C) + 128.0
                full = (
                    spatial.reshape(bh_i, bw_i, 8, 8)
                    .transpose(0, 2, 1, 3)
                    .reshape(bh_i * 8, bw_i * 8)
                )
                # nearest-neighbor chroma upsample back to full resolution
                if hi != hmax or vi != vmax:
                    full = np.repeat(
                        np.repeat(full, vmax // vi, axis=0), hmax // hi, axis=1
                    )
                planes.append(full[:fh, :fw])
            rgb = _ycbcr_to_rgb(np.stack(planes, axis=-1))
            out = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
            return (fw, fh, out)
        pos += 2 + ln
    raise ValueError("JPEG stream ended without a scan")


def parse_jpeg(payload: bytes) -> tuple[int, int, int]:
    """JPEG decode to the metadata slots: (width, height, 1). The full
    entropy + IDCT reconstruction runs, so corrupt streams fail here."""
    w, h, _ = decode_jpeg_pixels(payload)
    return (w, h, 1)
