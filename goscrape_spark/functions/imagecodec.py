"""Vendored minimal image codec: PNG decode/encode + baseline JPEG
encode/decode, pure stdlib-zlib + NumPy.

Why this exists: the reference's image recode (C19,
scraper/images.go:17-99) decodes JPEG/PNG and re-encodes as JPEG at a
configured quality, keeping the result only if smaller.  This is the
package's one image codec (operators/images.py has no other tier), so
the recoded bytes are the same on every executor.  It implements just
enough of both formats — from the public PNG (RFC 2083) and JPEG (ITU
T.81, JFIF) specs — to make the recode path real:

* PNG: 8-bit depth, color types 0/2/3/4/6, all five scanline filters,
  non-interlaced (Adam7 returns None -> caller keeps the original bytes,
  mirroring the reference's decode-error -> keep-data behavior).
* JPEG encode: baseline sequential, 4:4:4, standard Annex-K Huffman
  tables, libjpeg-style quality->quant scaling, NumPy matrix DCT.
* JPEG decode: baseline sequential (SOF0) with 1x1/2x1/1x2/2x2 sampling
  and restart markers; progressive/arithmetic return None.

Alpha is premultiplied onto black exactly like Go's image/jpeg encoder
sees NRGBA pixels through RGBA() (the reference's recodePNG path).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

# Average/Paeth unfiltering is inherently sequential in x and runs per-byte
# in interpreted Python; None/Sub/Up rows are NumPy-vectorized.  A single
# large photo PNG could otherwise pin an executor core for minutes, so the
# vendored tier bails out (-> caller keeps original bytes, like any decode
# failure) once the slow-filtered rows exceed this byte budget.
_SLOW_FILTER_BYTE_CAP = 1 << 23  # 8 MB Average/Paeth row budget;
# capped images keep their ORIGINAL bytes — a documented size-only
# divergence from Go image/png (see operators/images.py docstring)

# Crawl payloads are untrusted: a kilobyte-scale PNG whose IDAT inflates
# ~1000:1 (a zlib bomb) must not allocate gigabytes inside an executor
# task.  Decompression is therefore (a) refused up front when the IHDR
# dimensions imply more raw scanline bytes than this cap, and (b) streamed
# via decompressobj with output hard-bounded at h*(stride+1) bytes, so a
# bomb that LIES about its dimensions is truncated rather than inflated
# (mirroring Go image/png's per-scanline streaming reads).
_DECODE_BYTE_CAP = 1 << 28           # 256 MB of raw scanline data


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def png_decode(data: bytes):
    """-> (H, W, 3) uint8 RGB array, or None if not decodable here."""
    if not data.startswith(_PNG_SIG):
        return None
    pos, ihdr, idat, plte, trns = len(_PNG_SIG), None, [], None, None
    try:
        while pos + 8 <= len(data):
            (length,), typ = struct.unpack(">I", data[pos:pos + 4]), \
                data[pos + 4:pos + 8]
            chunk = data[pos + 8:pos + 8 + length]
            pos += 12 + length
            if typ == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", chunk)
            elif typ == b"PLTE":
                plte = np.frombuffer(chunk, np.uint8).reshape(-1, 3)
            elif typ == b"tRNS":
                trns = chunk
            elif typ == b"IDAT":
                idat.append(chunk)
            elif typ == b"IEND":
                break
        if ihdr is None or not idat:
            return None
        w, h, depth, ctype, comp, filt, interlace = ihdr
        if depth != 8 or comp != 0 or filt != 0 or interlace != 0 \
                or ctype not in _CHANNELS:
            return None
        ch = _CHANNELS[ctype]
        stride = w * ch
        expected = h * (stride + 1)
        if expected > _DECODE_BYTE_CAP:
            return None
        dec = zlib.decompressobj()
        parts, got = [], 0
        buf = b"".join(idat)
        while buf and got < expected:
            out = dec.decompress(buf, expected - got)
            parts.append(out)
            got += len(out)
            buf = dec.unconsumed_tail
        if got < expected and not dec.eof:
            # complete input consumed but final bytes held in the inflate
            # window; flush() output here is bounded by that window
            tail = dec.flush()
            parts.append(tail[:expected - got])
            got += len(parts[-1])
        raw = b"".join(parts)
        if got < expected:
            return None
        out = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint32)
        slow_budget = _SLOW_FILTER_BYTE_CAP
        p = 0
        for y in range(h):
            ftype = raw[p]
            cur = np.frombuffer(raw, np.uint8, stride, p + 1) \
                .astype(np.uint32)
            p += 1 + stride
            if ftype == 0:
                line = cur
            elif ftype == 1:    # Sub: per-channel prefix sum (mod 256
                                # distributes over the cumulative add)
                line = cur.reshape(w, ch).cumsum(axis=0, dtype=np.uint32) \
                    .reshape(-1) & 0xFF
            elif ftype == 2:    # Up: fully parallel against the prior row
                line = (cur + prev) & 0xFF
            elif ftype in (3, 4):   # Average/Paeth: sequential in x
                slow_budget -= stride
                if slow_budget < 0:
                    return None     # caller keeps the original bytes
                lb = bytearray(int(v) for v in cur)
                pb = prev            # uint32 ndarray, int() per access
                if ftype == 3:
                    for i in range(stride):
                        left = lb[i - ch] if i >= ch else 0
                        lb[i] = (lb[i] + ((left + int(pb[i])) >> 1)) & 0xFF
                else:
                    for i in range(stride):
                        left = lb[i - ch] if i >= ch else 0
                        ul = int(pb[i - ch]) if i >= ch else 0
                        lb[i] = (lb[i] +
                                 _paeth(left, int(pb[i]), ul)) & 0xFF
                line = np.frombuffer(bytes(lb), np.uint8).astype(np.uint32)
            else:
                return None
            out[y] = line.astype(np.uint8)
            prev = line
        px = out.reshape(h, w, ch)
        if ctype == 2:
            rgb = px.copy()
            if trns and len(trns) >= 6:
                # tRNS color key (one 16-bit sample per channel; depth 8
                # uses the low byte range): matching pixels are fully
                # transparent -> premultiply to black like the alpha types
                kr, kg, kb = struct.unpack(">HHH", trns[:6])
                key_mask = ((px[:, :, 0] == kr) & (px[:, :, 1] == kg)
                            & (px[:, :, 2] == kb))
                rgb[key_mask] = 0
            return rgb
        if ctype == 0:
            rgb = np.repeat(px, 3, axis=2)
            if trns and len(trns) >= 2:
                (kg,) = struct.unpack(">H", trns[:2])
                rgb[px[:, :, 0] == kg] = 0
            return rgb
        if ctype == 3:
            if plte is None:
                return None
            rgb = plte[px[:, :, 0]]
            if trns:
                # tRNS gives per-palette-entry alpha (entries beyond its
                # length are opaque); premultiply onto black like the other
                # alpha types so palette+transparency recodes match the
                # reference's Go decode (which honors tRNS)
                alpha = np.full(len(plte), 255, np.uint16)
                tv = np.frombuffer(trns, np.uint8)[:len(plte)]
                alpha[:len(tv)] = tv
                a = alpha[px[:, :, 0]][:, :, None]
                rgb = ((rgb.astype(np.uint16) * a + 127) // 255) \
                    .astype(np.uint8)
            return rgb
        # alpha types: premultiply onto black like Go's RGBA() view
        # (image/jpeg encodes the premultiplied channel values)
        if ctype == 4:
            g = px[:, :, 0].astype(np.uint16)
            a = px[:, :, 1].astype(np.uint16)
            gp = ((g * a + 127) // 255).astype(np.uint8)
            return np.repeat(gp[:, :, None], 3, axis=2)
        rgb = px[:, :, :3].astype(np.uint16)
        a = px[:, :, 3:4].astype(np.uint16)
        return ((rgb * a + 127) // 255).astype(np.uint8)
    except Exception:
        return None


def png_encode(rgb: np.ndarray) -> bytes:
    """Minimal RGB PNG writer (filter 0 rows) — fixture/test support."""
    h, w, _ = rgb.shape
    raw = b"".join(b"\x00" + rgb[y].tobytes() for y in range(h))

    def chunk(typ: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + typ + payload +
                struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr) +
            chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


# ---------------------------------------------------------------------------
# JPEG shared tables (ITU T.81 Annex K — public spec constants)
# ---------------------------------------------------------------------------

_QL = np.array([  # luminance base quant table, K.1
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

_QC = np.array([  # chrominance base quant table, K.2
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

_ZZ = np.array([  # zigzag scan order (flat index into row-major 8x8)
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# standard Huffman tables, Annex K.3: (bits[1..16], values)
_DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
         list(range(12)))
_DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
         list(range(12)))
_AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

# orthonormal DCT-II matrix: dct(X) = C @ X @ C.T
_C = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _C[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * \
            (np.sqrt(0.125) if _k == 0 else 0.5)


def _quality_tables(quality: int):
    """libjpeg quality scaling of the Annex-K base tables."""
    q = max(1, min(quality, 100))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    ql = np.clip((_QL * scale + 50) // 100, 1, 255).astype(np.int32)
    qc = np.clip((_QC * scale + 50) // 100, 1, 255).astype(np.int32)
    return ql, qc


def _huff_codes(bits, values):
    """Canonical Huffman: -> {symbol: (code, length)}."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[values[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            b = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(b)
            if b == 0xFF:          # byte stuffing
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)   # 1-fill to byte boundary
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _dht_segment(tclass: int, tid: int, table) -> bytes:
    bits, values = table
    payload = bytes([tclass << 4 | tid]) + bytes(bits) + bytes(values)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def jpeg_encode(rgb: np.ndarray, quality: int = 75) -> bytes:
    """Baseline JFIF encoder, 4:4:4 sampling, standard Huffman tables."""
    h, w = rgb.shape[:2]
    ql, qc = _quality_tables(quality)
    r = rgb[:, :, 0].astype(np.float64)
    g = rgb[:, :, 1].astype(np.float64)
    b = rgb[:, :, 2].astype(np.float64)
    planes = [0.299 * r + 0.587 * g + 0.114 * b,
              128 - 0.168736 * r - 0.331264 * g + 0.5 * b,
              128 + 0.5 * r - 0.418688 * g - 0.081312 * b]

    # pad to 8-multiples by edge replication, blockify, DCT, quantize — all
    # NumPy; only the entropy coding below walks blocks in Python
    bh, bw = -(-h // 8), -(-w // 8)
    coefs = []
    for ci, plane in enumerate(planes):
        p = np.pad(plane, ((0, bh * 8 - h), (0, bw * 8 - w)), mode="edge")
        blocks = (p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
                  .reshape(-1, 8, 8) - 128.0)
        d = _C @ blocks @ _C.T
        q = ql if ci == 0 else qc
        coefs.append(np.round(d / q).astype(np.int32)
                     .reshape(-1, 64)[:, _ZZ])

    dc_tabs = [_huff_codes(*_DC_L), _huff_codes(*_DC_C)]
    ac_tabs = [_huff_codes(*_AC_L), _huff_codes(*_AC_C)]
    bwtr = _BitWriter()
    pred = [0, 0, 0]
    for blk in range(bh * bw):
        for ci in range(3):
            zz = coefs[ci][blk]
            dct_t, act = dc_tabs[min(ci, 1)], ac_tabs[min(ci, 1)]
            diff = int(zz[0]) - pred[ci]
            pred[ci] = int(zz[0])
            size = _category(diff)
            code, ln = dct_t[size]
            bwtr.write(code, ln)
            if size:
                bwtr.write(diff if diff > 0 else diff + (1 << size) - 1,
                           size)
            run = 0
            nz = np.nonzero(zz[1:])[0]
            last = nz[-1] + 1 if len(nz) else 0
            for k in range(1, last + 1):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    c, ln = act[0xF0]          # ZRL
                    bwtr.write(c, ln)
                    run -= 16
                size = _category(v)
                c, ln = act[(run << 4) | size]
                bwtr.write(c, ln)
                bwtr.write(v if v > 0 else v + (1 << size) - 1, size)
                run = 0
            if last < 63:
                c, ln = act[0x00]              # EOB
                bwtr.write(c, ln)

    def dqt(tid, tab):
        return (b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) +
                bytes(int(x) for x in tab.reshape(-1)[_ZZ]))

    sof = (b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3) +
           bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    sos = (b"\xff\xda" + struct.pack(">HB", 12, 3) +
           bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    app0 = (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" +
            bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0]))
    return (b"\xff\xd8" + app0 + dqt(0, ql) + dqt(1, qc) + sof +
            _dht_segment(0, 0, _DC_L) + _dht_segment(1, 0, _AC_L) +
            _dht_segment(0, 1, _DC_C) + _dht_segment(1, 1, _AC_C) +
            sos + bwtr.flush() + b"\xff\xd9")


# ---------------------------------------------------------------------------
# JPEG decoder (baseline sequential only)
# ---------------------------------------------------------------------------


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at
    markers (caller handles RSTn by reset())."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24 and self.pos < len(d):
            byte = d[self.pos]
            if byte == 0xFF:
                nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
                if nxt != 0x00:
                    break       # RSTn (caller resets) / EOI / next segment
                self.pos += 2   # stuffed 0xFF00 -> literal 0xFF data byte
            else:
                self.pos += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8

    def read(self, n: int) -> int:
        while self.nbits < n:
            before = (self.pos, self.nbits)
            self._fill()
            if (self.pos, self.nbits) == before:   # starved at a marker
                self.acc <<= 8
                self.nbits += 8
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v

    def restart(self) -> None:
        """Skip the RSTn marker and byte-align."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1


def _huff_decoder(bits, values):
    """-> {(length, code): symbol} for MSB-first incremental decoding."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _read_symbol(br: _BitReader, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("bad huffman code")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def jpeg_decode(data: bytes):
    """-> (H, W, 3) uint8 RGB, or None (progressive/arithmetic/corrupt)."""
    if not data.startswith(b"\xff\xd8"):
        return None
    try:
        pos = 2
        qt: dict[int, np.ndarray] = {}
        hdec: dict[tuple, dict] = {}
        frame = None
        comps: list[dict] = []
        dri = 0
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                pos += 1
                continue
            marker = data[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
            seg = data[pos + 4:pos + 2 + seglen]
            if marker == 0xC0:                     # SOF0 baseline
                prec, h, w, nc = seg[0], *struct.unpack(">HH", seg[1:5]), \
                    seg[5]
                if prec != 8:
                    return None
                frame = (h, w)
                comps = []
                for i in range(nc):
                    cid, hv, tq = seg[6 + 3 * i:9 + 3 * i]
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                                  "tq": tq})
            elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9,
                            0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                return None                        # not baseline sequential
            elif marker == 0xC4:                   # DHT
                o = 0
                while o < len(seg):
                    tc, th = seg[o] >> 4, seg[o] & 15
                    bits = list(seg[o + 1:o + 17])
                    n = sum(bits)
                    vals = list(seg[o + 17:o + 17 + n])
                    hdec[(tc, th)] = _huff_decoder(bits, vals)
                    o += 17 + n
            elif marker == 0xDB:                   # DQT
                o = 0
                while o < len(seg):
                    pq, tq = seg[o] >> 4, seg[o] & 15
                    if pq != 0:
                        return None
                    tab = np.zeros(64, np.int32)
                    tab[_ZZ] = np.frombuffer(seg[o + 1:o + 65], np.uint8)
                    qt[tq] = tab.reshape(8, 8)
                    o += 65
            elif marker == 0xDD:                   # DRI
                (dri,) = struct.unpack(">H", seg[:2])
            elif marker == 0xDA:                   # SOS -> entropy data
                ns = seg[0]
                stabs = {}
                for i in range(ns):
                    cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                    stabs[cs] = (tt >> 4, tt & 15)
                if frame is None or len(comps) not in (1, 3):
                    return None
                return _decode_scan(data, pos + 2 + seglen, frame, comps,
                                    stabs, qt, hdec, dri)
            pos += 2 + seglen
        return None
    except Exception:
        return None


def _decode_scan(data, pos, frame, comps, stabs, qt, hdec, dri):
    h, w = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax > 2 or vmax > 2:
        return None
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        c["cols"] = mcux * c["h"] * 8
        c["rows"] = mcuy * c["v"] * 8
        c["plane"] = np.zeros((c["rows"], c["cols"]), np.float64)
    br = _BitReader(data, pos)
    pred = {c["id"]: 0 for c in comps}
    n_mcu = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and n_mcu and n_mcu % dri == 0:
                br.restart()
                pred = {c["id"]: 0 for c in comps}
            n_mcu += 1
            for c in comps:
                dc_t = hdec[(0, stabs[c["id"]][0])]
                ac_t = hdec[(1, stabs[c["id"]][1])]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, np.int32)
                        size = _read_symbol(br, dc_t)
                        diff = _extend(br.read(size), size) if size else 0
                        pred[c["id"]] += diff
                        zz[0] = pred[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _read_symbol(br, ac_t)
                            run, size = rs >> 4, rs & 15
                            if size == 0:
                                if run == 15:
                                    k += 16
                                    continue
                                break          # EOB
                            k += run
                            if k > 63:
                                break
                            zz[k] = _extend(br.read(size), size)
                            k += 1
                        blk = np.zeros(64, np.int64)
                        blk[_ZZ] = zz * q.reshape(-1)[_ZZ]
                        px = _C.T @ blk.reshape(8, 8) @ _C + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        c["plane"][y0:y0 + 8, x0:x0 + 8] = px
    planes = []
    for c in comps:
        p = c["plane"]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0),
                      hmax // c["h"], axis=1)
        planes.append(p[:h, :w])
    if len(planes) == 1:
        y = np.clip(planes[0], 0, 255).astype(np.uint8)
        return np.repeat(y[:, :, None], 3, axis=2)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    return np.clip(np.stack([r, g, b], axis=2), 0, 255).astype(np.uint8)
