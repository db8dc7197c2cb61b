"""Baseline JPEG (JFIF) decoder in pure numpy + stdlib — no libjpeg/PIL.

Baseline 8-bit sequential DCT JPEG needs nothing beyond integer/FP
math: marker parse, DQT/DHT tables, Huffman entropy decode (with 0xFF00
byte unstuffing and RSTn restart markers), dequantize, un-zigzag, 8x8
IDCT (one numpy matmul pair per block), chroma upsampling, YCbCr->RGB.
Progressive (SOF2), arithmetic coding (SOF9+), 12-bit precision and
hierarchical modes stay honestly NotImplemented.

The package only decodes: ``multimodal.image_features`` accepts JPEG
payloads that come from outside the program. The tests carry their own
baseline encoder for round trips, and hand-assemble spec bitstreams
independently of it, guarding against a shared encoder/decoder bug.

Everything here derives from the public spec (ITU-T T.81 / ISO 10918-1).

Scale shape: decode runs inside mapInPandas batches (multimodal.py), one
Python call per payload — the per-block Python loop is the honest cost
of spec-level decode without native libs; at 100 TB you would swap this
kernel for libjpeg-turbo behind the same column contract.
"""

from __future__ import annotations

import struct

import numpy as np

# zig-zag scan order: ZIGZAG[k] = natural index of the k-th scanned coef
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal 8-point DCT-II basis: block = T.T @ coef @ T  (IDCT),
# coef = T @ block @ T.T  (forward)
_x = np.arange(8)
_T = np.cos((2 * _x[None, :] + 1) * _x[:, None] * np.pi / 16) / 2.0
_T[0, :] *= 1.0 / np.sqrt(2.0)


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman (T.81 C.2): {(length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over entropy-coded data with T.81 F.1.2.3
    byte stuffing (0xFF00 -> 0xFF) and restart-marker awareness."""

    def __init__(self, buf: bytes, pos: int):
        self.buf, self.pos = buf, pos
        self.cur, self.nbits = 0, 0

    def _next_byte(self) -> int:
        while True:
            if self.pos >= len(self.buf):
                raise ValueError("truncated JPEG entropy data")
            b = self.buf[self.pos]
            self.pos += 1
            if b != 0xFF:
                return b
            marker = self.buf[self.pos] if self.pos < len(self.buf) else None
            if marker == 0x00:  # stuffed FF
                self.pos += 1
                return 0xFF
            # a real marker (RSTn / EOI) — the MCU loop consumes it via
            # sync_restart/at_marker; hitting it mid-symbol is corruption
            self.pos -= 1
            raise ValueError("marker inside entropy-coded segment")

    def read_bit(self) -> int:
        if self.nbits == 0:
            self.cur = self._next_byte()
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    def sync_restart(self, n: int) -> None:
        """Byte-align and consume the expected RSTn marker (skipping any
        stuffed 0xFF00 the 1-bit padding may have produced)."""
        self.nbits = 0
        while (self.pos + 1 < len(self.buf) and self.buf[self.pos] == 0xFF
               and self.buf[self.pos + 1] == 0x00):
            self.pos += 2
        if (self.pos + 1 >= len(self.buf) or self.buf[self.pos] != 0xFF
                or self.buf[self.pos + 1] != 0xD0 + (n & 7)):
            raise ValueError("missing JPEG restart marker")
        self.pos += 2


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the s received bits to a signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _decode_block(br: _BitReader, dc_tbl: dict, ac_tbl: dict,
                  pred: int) -> tuple[np.ndarray, int]:
    coef = np.zeros(64, dtype=np.float64)
    s = br.read_huff(dc_tbl)
    pred += _extend(br.receive(s), s)
    coef[0] = pred
    k = 1
    while k < 64:
        rs = br.read_huff(ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC run past end of block")
        coef[ZIGZAG[k]] = _extend(br.receive(s), s)
        k += 1
    return coef, pred


def _need(seg: bytes, n: int, what: str) -> None:
    if len(seg) < n:
        raise ValueError(f"short JPEG {what} segment")


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JFIF -> HxWx3 uint8 (grayscale replicated to RGB)."""
    if not payload.startswith(b"\xFF\xD8"):
        raise ValueError("not a JPEG payload")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) -> decode table
    frame = None
    restart_interval = 0
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        # spec-legal fill: any run of 0xFF bytes may pad before a marker
        # (T.81 B.1.1.2) — skip them so the next byte is the marker code
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone (no length field); RSTn outside a
            # scan is spec-illegal but harmless to step over
            pos += 2
            continue
        if marker == 0xD9:  # EOI before any scan — also length-less
            break
        if pos + 4 > len(payload):
            raise ValueError("truncated JPEG segment")
        (seglen,) = struct.unpack(">H", payload[pos + 2:pos + 4])
        if seglen < 2:  # length includes its own 2 bytes (T.81 B.1.1.4)
            raise ValueError("bad JPEG segment length")
        if pos + 2 + seglen > len(payload):
            raise ValueError("truncated JPEG segment")
        seg = payload[pos + 4:pos + 2 + seglen]
        # every marker's minimum length is checked before its fields are
        # read, so a short or empty segment is a ValueError, never a
        # struct.error/IndexError from a slice that came back too short
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                _need(seg, i + 65, "DQT")
                tbl = np.zeros(64, dtype=np.int64)
                tbl[ZIGZAG] = np.frombuffer(seg[i + 1:i + 65], dtype=np.uint8)
                quant[tq] = tbl.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                _need(seg, i + 17, "DHT")
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1:i + 17])
                n = sum(bits)
                _need(seg, i + 17 + n, "DHT")
                vals = list(seg[i + 17:i + 17 + n])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. sequential
            _need(seg, 6, "SOF")
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            _need(seg, 6 + 3 * nc, "SOF")
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit JPEG (8-bit only)")
            comps = []
            for c in range(nc):
                cid, samp, tq = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0x0F,
                              "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "progressive/arithmetic/hierarchical JPEG not supported "
                "(baseline sequential only)")
        elif marker == 0xDD:  # DRI
            if len(seg) != 2:
                raise ValueError("bad JPEG DRI segment length")
            (restart_interval,) = struct.unpack(">H", seg)
        elif marker == 0xDA:  # SOS — entropy data follows the segment
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            _need(seg, 1, "SOS")
            ns = seg[0]
            # component specs, then Ss, Se and Ah/Al
            _need(seg, 1 + 2 * ns + 3, "SOS")
            scan = {}
            for c in range(ns):
                cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                scan[cid] = (tabs >> 4, tabs & 0x0F)
            return _decode_scan(payload, pos + 2 + seglen, frame, scan,
                                quant, huff, restart_interval)
        pos += 2 + seglen
    raise ValueError("JPEG has no scan data")


def _decode_scan(buf: bytes, pos: int, frame: dict, scan: dict,
                 quant: dict, huff: dict, restart_interval: int) -> np.ndarray:
    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        planes.append(np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8),
                               dtype=np.float64))
        dc_id, ac_id = scan[c["id"]]
        c["dc_tbl"] = huff.get((0, dc_id))
        c["ac_tbl"] = huff.get((1, ac_id))
        if c["dc_tbl"] is None or c["ac_tbl"] is None:
            raise ValueError("JPEG scan references undefined Huffman table")
        c["q"] = quant[c["tq"]].astype(np.float64)
    br = _BitReader(buf, pos)
    preds = [0] * len(comps)
    rst = 0
    for m in range(mcus_x * mcus_y):
        if restart_interval and m and m % restart_interval == 0:
            br.sync_restart(rst)
            rst = (rst + 1) & 7
            preds = [0] * len(comps)
        my, mx = divmod(m, mcus_x)
        for ci, c in enumerate(comps):
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coef, preds[ci] = _decode_block(
                        br, c["dc_tbl"], c["ac_tbl"], preds[ci])
                    block = _T.T @ (coef.reshape(8, 8) * c["q"]) @ _T
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    planes[ci][y0:y0 + 8, x0:x0 + 8] = block + 128.0
    out = []
    for c, plane in zip(comps, planes):
        up = np.repeat(np.repeat(plane, vmax // c["v"], axis=0),
                       hmax // c["h"], axis=1)
        out.append(up[:h, :w])
    if len(out) == 1:
        g = np.clip(np.round(out[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(out) != 3:
        raise NotImplementedError(f"{len(out)}-component JPEG (1 or 3 only)")
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)
