"""Test-only media fixtures: the media table schema, a baseline JPEG
encoder and the JPEG payload generator built on it.

The package decodes media (``mee_spark.multimodal``, ``mee_spark.jpeg``)
but never encodes JPEG; these helpers exist so tests can round-trip real
pixel data through the decoder without an external producer. The
encoder uses the decoder's zig-zag order, DCT basis and canonical
Huffman table builder, so the hand-assembled spec vectors in the tests
stay the independent check of the shared tables.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mee_spark.jpeg import _T, ZIGZAG, _huff_decode_table

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),        # image | audio | video
    StructField("mime", StringType(), False),
    StructField("payload", BinaryType(), False),     # opaque bytes
    StructField("width", IntegerType(), True),       # typed metadata
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
])

# Annex K.1/K.2 example quantization tables (quality 50 reference)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

# Annex K.3 example Huffman tables (luminance DC/AC) — (BITS, HUFFVAL)
HUFF_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
HUFF_DC_VALS = list(range(12))
HUFF_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
HUFF_AC_VALS = [
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


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict:
    """{symbol: (code, length)} for the encoder."""
    return {sym: (code, length)
            for (length, code), sym in _huff_decode_table(bits, vals).items()}


def _scaled_quant(quality: int) -> np.ndarray:
    """IJG quality scaling of the Annex K luminance table (public
    formula): 50 -> reference, 100 -> all ones."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (QUANT_LUMA * scale + 50) // 100
    return np.clip(q, 1, 255).reshape(8, 8)


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.cur, self.nbits = 0, 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.cur = (self.cur << 1) | ((code >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.cur)
                if self.cur == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.cur, self.nbits = 0, 0

    def flush(self) -> None:
        while self.nbits:  # pad with 1-bits (T.81 F.1.2.3)
            self.write(1, 1)


def _encode_block(bw: _BitWriter, block: np.ndarray, q: np.ndarray,
                  pred: int, dc_tbl: dict, ac_tbl: dict) -> int:
    coef = _T @ (block - 128.0) @ _T.T
    qc = np.round(coef / q).astype(np.int64)
    zz = qc.reshape(-1)[ZIGZAG]
    diff = int(zz[0]) - pred
    s = int(diff != 0 and int(np.abs(diff)).bit_length())
    code, length = dc_tbl[s]
    bw.write(code, length)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    last = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, last + 1):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*ac_tbl[0xF0])  # ZRL
            run -= 16
        s = int(abs(v)).bit_length()
        code, length = ac_tbl[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        bw.write(*ac_tbl[0x00])  # EOB
    return int(zz[0])


def encode_jpeg(img: np.ndarray, quality: int = 90,
                subsampling: str = "4:4:4",
                restart_interval: int = 0) -> bytes:
    """Minimal baseline encoder: one quant table, one DC/AC Huffman pair
    (Annex K luminance tables) shared by all components; YCbCr from RGB;
    4:4:4 or 4:2:0; optional DRI/RSTn restart markers."""
    if img.ndim == 2:
        img = np.repeat(img[:, :, None], 3, axis=2)
    h, w = img.shape[:2]
    f = img.astype(np.float64)
    y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    cb = -0.168736 * f[:, :, 0] - 0.331264 * f[:, :, 1] + 0.5 * f[:, :, 2] + 128
    cr = 0.5 * f[:, :, 0] - 0.418688 * f[:, :, 1] - 0.081312 * f[:, :, 2] + 128
    if subsampling == "4:2:0":
        sampy, sampc = (2, 2), (1, 1)

        def sub(p):
            hh = (p.shape[0] + 1) & ~1
            ww = (p.shape[1] + 1) & ~1
            pp = np.pad(p, ((0, hh - p.shape[0]), (0, ww - p.shape[1])),
                        mode="edge")
            return (pp[0::2, 0::2] + pp[1::2, 0::2] + pp[0::2, 1::2]
                    + pp[1::2, 1::2]) / 4.0
        cb, cr = sub(cb), sub(cr)
    elif subsampling == "4:4:4":
        sampy, sampc = (1, 1), (1, 1)
    else:
        raise NotImplementedError(f"subsampling {subsampling}")
    q = _scaled_quant(quality).astype(np.float64)
    dc_tbl = _huff_encode_table(HUFF_DC_BITS, HUFF_DC_VALS)
    ac_tbl = _huff_encode_table(HUFF_AC_BITS, HUFF_AC_VALS)

    out = bytearray(b"\xFF\xD8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body)

    zz_q = q.reshape(-1)[ZIGZAG].astype(np.uint8)
    seg(0xDB, bytes([0x00]) + zz_q.tobytes())
    comps = b"".join(struct.pack(">BBB", cid, (sh << 4) | sv, 0)
                     for cid, (sh, sv) in ((1, sampy), (2, sampc), (3, sampc)))
    seg(0xC0, struct.pack(">BHHB", 8, h, w, 3) + comps)
    seg(0xC4, bytes([0x00]) + bytes(HUFF_DC_BITS) + bytes(HUFF_DC_VALS))
    seg(0xC4, bytes([0x10]) + bytes(HUFF_AC_BITS) + bytes(HUFF_AC_VALS))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    seg(0xDA, bytes([3]) + b"".join(struct.pack(">BB", cid, 0x00)
                                    for cid in (1, 2, 3)) + b"\x00\x3F\x00")

    hmax, vmax = sampy
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    def pad_to(p, bh, bw_):
        return np.pad(p, ((0, bh - p.shape[0]), (0, bw_ - p.shape[1])),
                      mode="edge")

    y = pad_to(y, mcus_y * vmax * 8, mcus_x * hmax * 8)
    cb = pad_to(cb, mcus_y * sampc[1] * 8, mcus_x * sampc[0] * 8)
    cr = pad_to(cr, mcus_y * sampc[1] * 8, mcus_x * sampc[0] * 8)
    bw = _BitWriter()
    preds = [0, 0, 0]
    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            out_chunk = bytes(bw.out)
            bw.out = bytearray()
            out.extend(out_chunk)
            out.extend(bytes([0xFF, 0xD0 + (rst & 7)]))
            rst = (rst + 1) & 7
            preds = [0, 0, 0]
        my, mx = divmod(m, mcus_x)
        for ci, (plane, (sh, sv)) in enumerate(
                ((y, sampy), (cb, sampc), (cr, sampc))):
            for by in range(sv):
                for bx in range(sh):
                    y0 = (my * sv + by) * 8
                    x0 = (mx * sh + bx) * 8
                    preds[ci] = _encode_block(
                        bw, plane[y0:y0 + 8, x0:x0 + 8], q, preds[ci],
                        dc_tbl, ac_tbl)
    bw.flush()
    out.extend(bw.out)
    out.extend(b"\xFF\xD9")
    return bytes(out)


def make_jpeg_payload(media_id: int, w: int, h: int) -> bytes:
    """Deterministic real baseline-JPEG payload (seeded smooth content —
    gradients survive lossy coding, so tests can bound pixel error)."""
    rng = np.random.default_rng(media_id)
    yy = np.linspace(0, 255, h)[:, None]
    xx = np.linspace(0, 255, w)[None, :]
    phase = rng.uniform(0, 2 * np.pi, 3)
    img = np.stack([
        np.clip(128 + 100 * np.sin(yy / 40 + xx / 60 + p), 0, 255)
        for p in phase], axis=2).astype(np.uint8)
    return encode_jpeg(img, quality=92)
