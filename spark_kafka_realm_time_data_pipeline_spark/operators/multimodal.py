"""Multimodal column pattern: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` (the only place Python touches executor data, amortized per
batch, never per row).

The container has no imaging LIBRARIES, but BMP needs none: the feature
path round-trips every payload through a REAL 24-bit BMP container —
``encode_bmp`` (deterministic: pixel bytes cycle the payload bytes, so the
oracle can replay the stats analytically) and ``decode_bmp`` (a genuine
pure-Python parser: file/info headers via struct, bottom-up row order,
4-byte row stride padding).  Adding a format means one row function
(payload -> stats tuple) plus one schema; the Spark plumbing — typed
batch building, batch iteration, partitioning — is shared by every format
(``_feature_batch`` / ``extract_features``).  PNG decodes for real too —
chunk walk + CRC32 validation + stdlib-zlib IDAT inflate + per-row filter
reversal (Sub/Up/Average/Paeth).
Baseline-grayscale JPEG decodes for real as well — marker/DQT/DHT parse,
canonical Huffman rebuild, differential DC + run-length AC entropy
decode, dequantize, dezigzag, and an 8x8 orthonormal IDCT (numpy).
Audio likewise decodes through a pure-Python WAV (RIFF / 16-bit PCM)
codec; only codecs needing non-stdlib libraries (MP3/AAC) and video
remain env-blocked stubs.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    import pandas as pd

FEATURE_SCHEMA = "doc_id long, width int, height int, n_pixels int, pixel_sum long"

# BMP geometry derived from payload length: varies width/height across docs
# (so the decoder's stride/padding handling is actually exercised — w*3 is
# not always a multiple of 4) while staying analytically replayable.
BMP_W_BASE, BMP_W_MOD = 4, 13
BMP_H_BASE, BMP_H_MOD = 4, 5


def encode_bmp(data: bytes) -> bytes:
    """Pack ``data`` into a REAL bottom-up 24-bit BMP: pixel byte j (in
    top-down raster order) is ``data[j % len(data)]`` (0x00 if empty), the
    geometry derives from the payload length, rows are written bottom-up
    with 4-byte stride padding — a standards-conforming file any BMP
    reader opens.  Deterministic, so the DuckDB oracle can compute the
    decoded pixel stats without parsing BMP at all."""
    n = len(data)
    w = BMP_W_BASE + n % BMP_W_MOD
    h = BMP_H_BASE + n % BMP_H_MOD
    total = 3 * w * h
    raster = bytes(data[j % n] for j in range(total)) if n else bytes(total)
    pad = (-3 * w) % 4
    row_bytes = []
    for i in range(h - 1, -1, -1):  # bottom-up row order
        row_bytes.append(raster[i * 3 * w : (i + 1) * 3 * w] + b"\x00" * pad)
    pixel_data = b"".join(row_bytes)
    file_size = 54 + len(pixel_data)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 2835, 2835, 0, 0
    )
    return header + pixel_data


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a 24-bit uncompressed BMP: validate the magic, read the pixel
    offset and dimensions from the headers, walk the bottom-up rows with
    stride padding, and return (width, height, top-down raster bytes)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_off,) = struct.unpack_from("<I", payload, 10)
    width, height = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant: bpp={bpp} compression={compression}")
    stride = (width * 3 + 3) // 4 * 4
    rows = []
    for r in range(height):  # file rows are bottom-up; reassemble top-down
        start = pixel_off + r * stride
        rows.append(payload[start : start + width * 3])
    rows.reverse()
    return width, height, b"".join(rows)


# --- PNG (8-bit grayscale, zlib IDAT, all five row filters) ------------------
#
# PNG needs no imaging library: the container is chunks + CRC32 + a zlib
# stream of filtered scanlines, all stdlib.  The encoder below writes a
# standards-conforming file (any PNG reader opens it) and deliberately
# cycles the row filter type 0..4 so the decoder's filter-reversal code
# (Sub/Up/Average/Paeth) is genuinely exercised on every image, not just
# filter-None.  Pixel byte j (top-down raster) is data[j % n], so the
# DuckDB oracle replays decoded stats analytically, same law as BMP.

PNG_SIG = b"\x89PNG\r\n\x1a\n"
PNG_W_BASE, PNG_W_MOD = 5, 11
PNG_H_BASE, PNG_H_MOD = 3, 7


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body))
    )


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec §6.6): nearest of left/up/up-left to the
    linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(data: bytes) -> bytes:
    """Pack ``data`` into a REAL 8-bit grayscale PNG: pixel byte j (in
    top-down raster order) is ``data[j % len(data)]`` (0x00 if empty),
    geometry derives from the payload length, and each scanline is
    filtered with filter type ``row % 5`` before the zlib deflate — so a
    decoder must reverse None/Sub/Up/Average/Paeth to get the raster back.
    Deterministic, so the DuckDB oracle computes decoded pixel stats
    without parsing PNG at all."""
    import zlib

    n = len(data)
    w = PNG_W_BASE + n % PNG_W_MOD
    h = PNG_H_BASE + n % PNG_H_MOD
    total = w * h
    raster = bytes(data[j % n] for j in range(total)) if n else bytes(total)
    prior = bytes(w)
    filtered = bytearray()
    for r in range(h):
        row = raster[r * w : (r + 1) * w]
        ftype = r % 5
        filtered.append(ftype)
        for x in range(w):
            left = row[x - 1] if x else 0
            up = prior[x]
            upleft = prior[x - 1] if x else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:
                pred = _paeth(left, up, upleft)
            filtered.append((row[x] - pred) & 0xFF)
        prior = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # gray8, no interlace
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Parse an 8-bit grayscale PNG for real: validate the signature, walk
    the chunk list verifying each CRC32, parse IHDR, inflate the
    concatenated IDAT stream with stdlib zlib, and reverse the per-row
    filters (None/Sub/Up/Average/Paeth, bpp=1).  Returns (width, height,
    top-down raster bytes)."""
    import zlib

    if payload[: len(PNG_SIG)] != PNG_SIG:
        raise ValueError("not a PNG payload")
    off, w = len(PNG_SIG), None
    idat = bytearray()
    while off + 8 <= len(payload):
        (size,) = struct.unpack_from(">I", payload, off)
        ctype = payload[off + 4 : off + 8]
        body = payload[off + 8 : off + 8 + size]
        (crc,) = struct.unpack_from(">I", payload, off + 8 + size)
        if zlib.crc32(ctype + body) != crc:
            raise ValueError(f"bad CRC in {ctype!r} chunk")
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if (depth, color, comp, filt, interlace) != (8, 0, 0, 0, 0):
                raise ValueError(
                    f"unsupported PNG variant: depth={depth} color={color} "
                    f"interlace={interlace}"
                )
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        off += 12 + size
    if w is None:
        raise ValueError("missing IHDR chunk")
    filtered = zlib.decompress(bytes(idat))
    if len(filtered) != h * (w + 1):
        raise ValueError("IDAT length does not match geometry")
    prior = bytes(w)
    rows = []
    for r in range(h):
        ftype = filtered[r * (w + 1)]
        line = filtered[r * (w + 1) + 1 : (r + 1) * (w + 1)]
        row = bytearray(w)
        for x in range(w):
            left = row[x - 1] if x else 0
            up = prior[x]
            upleft = prior[x - 1] if x else 0
            if ftype == 0:
                pred = 0
            elif ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            elif ftype == 4:
                pred = _paeth(left, up, upleft)
            else:
                raise ValueError(f"bad filter type {ftype}")
            row[x] = (line[x] + pred) & 0xFF
        prior = bytes(row)
        rows.append(prior)
    return w, h, b"".join(rows)


# --- JPEG (baseline JFIF, grayscale) ------------------------------------------
#
# Baseline JPEG needs no imaging library either — the container is marker
# segments + canonical Huffman codes + quantized DCT coefficients, and the
# whole pipeline (bit unstuffing, Huffman decode, run-length AC expansion,
# dezigzag, dequantize, 8x8 IDCT) is struct/numpy work.  The DECODER below
# is a full baseline-grayscale implementation from the public JPEG spec
# (ITU T.81): it handles arbitrary DC/AC coefficients, ZRL runs, EOB,
# 8- or 16-bit quant tables, and any conforming single-component scan.
# The ENCODER is deliberately restricted to DC-ONLY constant 8x8 blocks
# (block k's pixel value is data[k % n], unit quant table): a constant
# block's DCT is exactly DC=(c-128)*8 with zero AC, and any correct IDCT
# returns c bit-exactly — so the normally-lossy codec becomes a lossless
# round trip and the DuckDB oracle can replay decoded pixel stats
# analytically, the same two-independent-routes law as BMP/PNG.  The AC /
# run-length half of the decoder is exercised by pytest against an
# independent numpy IDCT on hand-built coefficient blocks.

JPEG_WB_BASE, JPEG_WB_MOD = 2, 5  # width  = 8 * (2 + n % 5) pixels
JPEG_HB_BASE, JPEG_HB_MOD = 1, 3  # height = 8 * (1 + n % 3) pixels

# zigzag scan order (T.81 Figure 5): position i in the scan -> raster index
JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# standard luminance Huffman tables (T.81 Annex K.3): BITS counts per code
# length 1..16, then the symbol values in canonical order
_JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_JPEG_DC_VALS = tuple(range(12))
_JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
_JPEG_AC_VALS = (
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
)


def _huff_canonical(bits, vals):
    """Canonical code assignment (T.81 Annex C): returns
    {symbol: (code, length)} for the encoder and
    {(length, code): symbol} for the decoder."""
    enc, dec = {}, {}
    code, i = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[i]] = (code, length)
            dec[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return enc, dec


_DC_ENC, _DC_DEC = _huff_canonical(_JPEG_DC_BITS, _JPEG_DC_VALS)
_AC_ENC, _AC_DEC = _huff_canonical(_JPEG_AC_BITS, _JPEG_AC_VALS)


class _BitWriter:
    """MSB-first bit packer with 0xFF byte stuffing (T.81 §B.1.1.5)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def align(self) -> None:
        """1-pad to a byte boundary (T.81 F.1.2.3 fill bits); a pad byte
        that lands on 0xFF gets the usual stuffed 0x00 via write()."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)

    def flush(self) -> bytes:
        self.align()
        return bytes(self.out)


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def encode_jpeg(data: bytes, restart_interval: int = 0) -> bytes:
    """Pack ``data`` into a REAL baseline JFIF grayscale JPEG: geometry
    derives from the payload length (8x8-block multiples), every 8x8 block
    is the CONSTANT value ``data[k % len(data)]`` (0x00 if empty) encoded
    as a DC-only coefficient block against a unit quant table — standard
    markers, Annex-K Huffman tables, differential DC, EOB per block, byte
    stuffing.  Any JPEG reader opens it; because constant blocks survive
    quantize+IDCT exactly, the decode is bit-exact and the DuckDB oracle
    replays decoded stats analytically (pixel_sum = 64 * cycled block
    sum).  ``restart_interval`` > 0 emits a DRI segment and RSTm markers
    every that-many MCUs (one MCU = one block in a non-interleaved
    single-component scan), with per-interval DC predictor resets —
    T.81 E.1.2, the error-resilience shape real-world encoders emit."""
    n = len(data)
    bw = JPEG_WB_BASE + n % JPEG_WB_MOD  # blocks across
    bh = JPEG_HB_BASE + n % JPEG_HB_MOD  # blocks down
    w, h = 8 * bw, 8 * bh
    head = bytearray()
    head += b"\xff\xd8"  # SOI
    head += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    head += _seg(0xFFDB, b"\x00" + bytes([1] * 64))  # DQT: table 0, all ones
    head += _seg(  # SOF0: baseline, 8-bit, 1 component, 1x1 sampling, Tq=0
        0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    )
    head += _seg(
        0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    )
    head += _seg(
        0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
    )
    if restart_interval:
        head += _seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    head += _seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))  # SOS
    bits = _BitWriter()
    pred = 0
    for k in range(bw * bh):
        if restart_interval and k and k % restart_interval == 0:
            _emit_restart(bits, k // restart_interval - 1)
            pred = 0
        c = data[k % n] if n else 0
        dc = (c - 128) * 8  # DCT of a constant block: DC only (quant = 1)
        diff = dc - pred
        pred = dc
        s = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, length = _DC_ENC[s]
        bits.write(code, length)
        if s:
            v = diff if diff > 0 else diff + (1 << s) - 1  # one's complement
            bits.write(v, s)
        eob_code, eob_len = _AC_ENC[0x00]
        bits.write(eob_code, eob_len)
    return bytes(head) + bits.flush() + b"\xff\xd9"  # EOI


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00 unstuffing;
    stops (raises EOFError) at any real marker."""

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.buf):
                raise EOFError("entropy data exhausted")
            b = self.buf[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.buf[self.pos] if self.pos < len(self.buf) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise EOFError("marker inside entropy data")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, length: int) -> int:
        v = 0
        for _ in range(length):
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


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 EXTEND: map an s-bit magnitude field to its signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_du(reader, dc_dec, ac_dec, pred, quant, basis, np):
    """Decode one 8x8 data unit: Huffman DC category + differential
    predictor, run-length AC with ZRL/EOB, dequantize, dezigzag, IDCT,
    level shift, clamp.  Returns (8x8 uint8 pixels, updated predictor).
    Shared by the grayscale and the interleaved-color scan loops."""
    coef_zz = np.zeros(64, dtype=np.int64)
    s = reader.read_huff(dc_dec)
    diff = _jpeg_extend(reader.read_bits(s), s) if s else 0
    pred += diff
    coef_zz[0] = pred
    i = 1
    while i < 64:
        sym = reader.read_huff(ac_dec)
        if sym == 0x00:  # EOB
            break
        if sym == 0xF0:  # ZRL: sixteen zeros
            i += 16
            continue
        run, size = sym >> 4, sym & 0x0F
        i += run
        if i > 63:
            raise ValueError("AC run past end of block")
        coef_zz[i] = _jpeg_extend(reader.read_bits(size), size)
        i += 1
    block = np.zeros(64, dtype=np.float64)
    block[list(JPEG_ZIGZAG)] = coef_zz * quant
    px = basis.T @ block.reshape(8, 8) @ basis
    px = np.clip(np.round(px) + 128, 0, 255).astype(np.uint8)
    return px, pred


def _idct_matrix():
    """Orthonormal 8-point DCT-II basis A: IDCT(X) = A.T @ X @ A."""
    import math

    import numpy as np

    a = np.zeros((8, 8))
    for u in range(8):
        cu = 1 / math.sqrt(2) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = 0.5 * cu * math.cos((2 * x + 1) * u * math.pi / 16)
    return a


# SOF markers for coding processes this decoder does not implement
# (progressive, extended sequential, lossless, arithmetic, hierarchical)
_SOF_UNSUPPORTED = (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                    0xCD, 0xCE, 0xCF)


def _jpeg_segments(payload: bytes):
    """Shared marker-segment walk (T.81 B.1.1): SOI check, fill-byte skip
    (B.1.1.2), EOI stop; yields ``(marker, body, seg_end)`` per segment,
    where ``seg_end`` is the offset just past the segment (for SOS: the
    start of the entropy-coded data).  The one walk all three header
    consumers (grayscale decode, color decode, component-count peek) run,
    so a marker-handling fix lands everywhere at once."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at offset {pos}")
        while pos + 2 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            return
        if pos + 4 > len(payload):  # truncated inside a length field
            raise ValueError(f"truncated segment header at offset {pos}")
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        yield marker, payload[pos + 4 : pos + 2 + seglen], pos + 2 + seglen
        pos += 2 + seglen


def _parse_dqt(body: bytes, qt: dict) -> None:
    """DQT: one or more 8-bit (Pq=0) or 16-bit (Pq=1) tables per segment."""
    off = 0
    while off < len(body):
        pq, tq = body[off] >> 4, body[off] & 0x0F
        off += 1
        if pq == 0:
            qt[tq] = list(body[off : off + 64])
            off += 64
        else:
            qt[tq] = [
                struct.unpack_from(">H", body, off + 2 * i)[0] for i in range(64)
            ]
            off += 128


def _parse_dht(body: bytes, dc_tables: dict, ac_tables: dict) -> None:
    """DHT: one or more canonical tables per segment, keyed (class, id)."""
    off = 0
    while off < len(body):
        tc, th = body[off] >> 4, body[off] & 0x0F
        bits = tuple(body[off + 1 : off + 17])
        nvals = sum(bits)
        vals = tuple(body[off + 17 : off + 17 + nvals])
        _enc, dec = _huff_canonical(bits, vals)
        (dc_tables if tc == 0 else ac_tables)[th] = dec
        off += 17 + nvals


def _parse_dri(body: bytes) -> int:
    """DRI (T.81 B.2.4.4): restart interval in MCUs; 0 disables."""
    (interval,) = struct.unpack_from(">H", body, 0)
    return interval


def _emit_restart(bits: "_BitWriter", rst_idx: int) -> None:
    """End a restart interval on the encoder side (T.81 E.1.2): 1-pad to
    a byte boundary, then the RSTm marker with m cycling 0-7.  Markers
    bypass write() — they are real markers, never byte-stuffed."""
    bits.align()
    bits.out += bytes((0xFF, 0xD0 + (rst_idx & 7)))


def _consume_restart(reader: "_BitReader", rst_idx: int) -> None:
    """Decoder side of a restart boundary: discard the fill bits of the
    current byte, then require the expected RSTm marker (the modulo-8
    counter detects dropped/duplicated intervals, T.81 E.2.4)."""
    reader.nbits = 0
    buf, pos = reader.buf, reader.pos
    want = 0xD0 + (rst_idx & 7)
    if pos + 2 > len(buf) or buf[pos] != 0xFF or buf[pos + 1] != want:
        got = buf[pos : pos + 2].hex() if pos + 2 <= len(buf) else "EOF"
        raise ValueError(
            f"expected RST{rst_idx & 7} marker at offset {pos}, got {got}"
        )
    reader.pos = pos + 2


def decode_jpeg(payload: bytes) -> tuple[int, int, bytes]:
    """Full baseline-grayscale JPEG decode from the public spec: marker
    walk (APPn/COM skipped), DQT (8/16-bit), DHT (canonical code
    rebuild), SOF0 geometry, then the entropy-coded scan — Huffman DC
    category + differential predictor, run-length AC with ZRL/EOB,
    dezigzag, dequantize, separable 8x8 IDCT (orthonormal DCT-II basis,
    numpy), level shift, clamp, crop to (width, height).  Restart
    intervals (DRI + RSTm markers with modulo-8 sequence verification and
    per-interval DC predictor resets) decode; progressive scans and
    multi-component images raise with the unsupported feature named."""
    import numpy as np

    qt: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    w = h = None
    comp_q = comp_dc = comp_ac = 0
    restart_interval = 0
    scan_at = None
    for marker, body, seg_end in _jpeg_segments(payload):
        if marker == 0xDB:
            _parse_dqt(body, qt)
        elif marker == 0xC4:
            _parse_dht(body, dc_tables, ac_tables)
        elif marker == 0xC0:  # SOF0 baseline
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise ValueError(f"unsupported sample precision {precision}")
            if ncomp != 1:
                raise ValueError(
                    f"unsupported component count {ncomp} (grayscale only)"
                )
            sampling = body[7]  # component entry: id, H|V sampling, Tq
            if sampling != 0x11:
                raise ValueError(f"unsupported sampling factors {sampling:#x}")
            comp_q = body[8]
        elif marker in _SOF_UNSUPPORTED:
            raise ValueError(f"unsupported SOF marker {marker:#x} (baseline only)")
        elif marker == 0xDD:
            restart_interval = _parse_dri(body)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if ns != 1:
                raise ValueError(f"unsupported scan component count {ns}")
            comp_dc, comp_ac = body[2] >> 4, body[2] & 0x0F
            scan_at = seg_end
            break
        # APPn / COM / anything else: skipped by the walk
    if scan_at is None or w is None:
        raise ValueError("missing SOS or SOF0 segment")
    quant = np.array(qt[comp_q], dtype=np.int64)
    dc_dec, ac_dec = dc_tables[comp_dc], ac_tables[comp_ac]
    a = _idct_basis_cached()
    bw, bh = (w + 7) // 8, (h + 7) // 8
    raster = np.zeros((bh * 8, bw * 8), dtype=np.uint8)
    reader = _BitReader(payload, scan_at)
    pred = 0
    for k in range(bw * bh):
        if restart_interval and k and k % restart_interval == 0:
            _consume_restart(reader, k // restart_interval - 1)
            pred = 0
        px, pred = _decode_du(reader, dc_dec, ac_dec, pred, quant, a, np)
        by, bx = divmod(k, bw)
        raster[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
    return w, h, raster[:h, :w].tobytes()


_IDCT_BASIS = None


def _idct_basis_cached():
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        _IDCT_BASIS = _idct_matrix()
    return _IDCT_BASIS


# --- color (YCbCr 4:2:0) baseline JPEG -------------------------------------
# Same two-independent-routes law as the grayscale codec, extended to the
# dominant real-world JPEG shape: three components, luma sampled 2x2 per
# MCU, chroma 1x1 (4:2:0), interleaved MCU scan with per-component DC
# predictors, two quant-table slots, chroma DHT slots (Tc/Th=1), 2x nearest
# chroma upsample, and libjpeg-style integer fixed-point YCbCr->RGB so the
# DuckDB oracle can replay the conversion with exact BIGINT arithmetic.

JPEG_MW_BASE, JPEG_MW_MOD = 1, 2  # MCUs across: width  = 16 * (1 + n % 2)
JPEG_MH_BASE, JPEG_MH_MOD = 1, 3  # MCUs down:   height = 16 * (1 + n % 3)

# libjpeg FIX() constants at 16 fractional bits for the JFIF full-range
# conversion R = Y + 1.40200 Cr', G = Y - 0.34414 Cb' - 0.71414 Cr',
# B = Y + 1.77200 Cb' (primes are the 128-centered values)
_FIX_R_CR = 91881  # round(1.40200 * 65536)
_FIX_G_CB = 22554  # round(0.34414 * 65536)
_FIX_G_CR = 46802  # round(0.71414 * 65536)
_FIX_B_CB = 116130  # round(1.77200 * 65536)
_FIX_BIAS = 256 << 16  # keeps every numerator positive: floor == truncate,
# so DuckDB's integer // replays the shift exactly


def _ycbcr_to_rgb_fixed(y, cb, cr, np):
    """Integer fixed-point YCbCr->RGB (inputs int64 arrays, outputs clamped
    int64).  Every term is floor((k * c' + 32768) / 65536) computed via a
    positive-biased shift, so the arithmetic is integer-exact and
    SQL-replayable: (k*c + 32768 + 2^24) // 65536 - 256."""
    cbx, crx = cb - 128, cr - 128
    radj = ((_FIX_R_CR * crx + 32768 + _FIX_BIAS) >> 16) - 256
    gadj = ((_FIX_G_CB * cbx + _FIX_G_CR * crx + 32768 + _FIX_BIAS) >> 16) - 256
    badj = ((_FIX_B_CB * cbx + 32768 + _FIX_BIAS) >> 16) - 256
    r = np.clip(y + radj, 0, 255)
    g = np.clip(y - gadj, 0, 255)
    b = np.clip(y + badj, 0, 255)
    return r, g, b


def encode_jpeg_color(
    data: bytes,
    restart_interval: int = 0,
    sampling: tuple = ((2, 2), (1, 1), (1, 1)),
) -> bytes:
    """Pack ``data`` into a REAL baseline JFIF COLOR JPEG: 3 components,
    two unit quant tables, luma + chroma DHT slots, interleaved MCU scan
    with per-component differential DC.  ``sampling`` sets the
    per-component (H, V) factors — the default 4:2:0 (Y 2x2, chroma 1x1)
    matches real camera output byte-for-byte in structure; 4:2:2
    ``((2,1),(1,1),(1,1))``, 4:4:0 ``((1,2),(1,1),(1,1))``, and 4:4:4
    ``((1,1),(1,1),(1,1))`` emit the other layouts real encoders use
    (chroma must be 1x1 here; the DECODER accepts any {1,2} factors whose
    grids divide luma).  Within MCU m, Y data unit j carries the cycled
    byte ``data[(nY*m + j) % n]`` (nY = H1*V1) and the chroma units
    ``data[m % n]`` / ``data[(m+1) % n]``; every data unit is a DC-only
    constant block, so the decode is bit-exact and the oracle replays the
    RGB sums analytically.  The chroma DHT slots reuse the Annex-K luma
    contents — spec-legal (readers decode from the transmitted DHT), and
    it exercises the multi-slot table parse.  ``restart_interval`` > 0
    emits DRI + RSTm markers every that-many MCUs with all three DC
    predictors reset per interval (T.81 E.1.2)."""
    n = len(data)
    (h1, v1), (h2, v2), (h3, v3) = sampling
    if (h2, v2) != (1, 1) or (h3, v3) != (1, 1) or not (
        1 <= h1 <= 2 and 1 <= v1 <= 2
    ):
        raise ValueError(f"unsupported encoder sampling {sampling}")
    mw = JPEG_MW_BASE + n % JPEG_MW_MOD
    mh = JPEG_MH_BASE + n % JPEG_MH_MOD
    w, h = 8 * h1 * mw, 8 * v1 * mh
    head = bytearray()
    head += b"\xff\xd8"  # SOI
    head += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    head += _seg(0xFFDB, b"\x00" + bytes([1] * 64))  # DQT slot 0 (luma)
    head += _seg(0xFFDB, b"\x01" + bytes([1] * 64))  # DQT slot 1 (chroma)
    head += _seg(  # SOF0: Y id1 Tq0, Cb id2 Tq1, Cr id3 Tq1
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, (h1 << 4) | v1, 0])
        + bytes([2, (h2 << 4) | v2, 1])
        + bytes([3, (h3 << 4) | v3, 1]),
    )
    head += _seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    head += _seg(0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    head += _seg(0xFFC4, b"\x01" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    head += _seg(0xFFC4, b"\x11" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    if restart_interval:
        head += _seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    head += _seg(  # SOS: Y -> tables 0/0, Cb/Cr -> tables 1/1
        0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    )
    bits = _BitWriter()
    preds = [0, 0, 0]

    def put(ci: int, value: int) -> None:
        dc = (value - 128) * 8  # DCT of a constant block: DC only (quant 1)
        diff = dc - preds[ci]
        preds[ci] = dc
        s = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, length = _DC_ENC[s]
        bits.write(code, length)
        if s:
            v = diff if diff > 0 else diff + (1 << s) - 1  # one's complement
            bits.write(v, s)
        eob_code, eob_len = _AC_ENC[0x00]
        bits.write(eob_code, eob_len)

    n_y = h1 * v1
    for m in range(mw * mh):
        if restart_interval and m and m % restart_interval == 0:
            _emit_restart(bits, m // restart_interval - 1)
            preds[0] = preds[1] = preds[2] = 0
        for j in range(n_y):  # Y data units: left-right, top-bottom
            put(0, data[(n_y * m + j) % n] if n else 0)
        put(1, data[m % n] if n else 128)  # Cb
        put(2, data[(m + 1) % n] if n else 128)  # Cr
    return bytes(head) + bits.flush() + b"\xff\xd9"  # EOI


def decode_jpeg_color(payload: bytes) -> tuple[int, int, bytes]:
    """Full baseline color JPEG decode: marker walk, multi-slot DQT/DHT,
    SOF0 with per-component sampling factors, interleaved MCU entropy
    decode (Hi*Vi data units per component per MCU, per-component DC
    predictors), nearest-neighbor chroma upsample to the luma grid,
    integer fixed-point YCbCr->RGB, crop.  Returns ``(width, height,
    interleaved RGB bytes)``.  Supports every sampling layout whose
    factors are all in {1, 2} — each plane is upsampled to the densest
    transmitted grid, which covers the layouts real encoders emit
    (4:2:0 Y 2x2, 4:2:2 Y 2x1, 4:4:0 Y 1x2, 4:4:4 all 1x1) and the
    spec-legal oddballs (e.g. chroma denser than luma); any factor
    outside {1, 2} raises with the factors named.  Restart intervals
    (DRI + RSTm with modulo-8
    verification and per-interval resets of all three DC predictors)
    decode; progressive scans raise with the unsupported feature
    named."""
    import numpy as np

    qt: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    w = h = None
    comp_geom: list[tuple[int, int, int]] = []  # (sampling H|V, Tq) per comp
    scan_tables: list[tuple[int, int]] = []  # (Td, Ta) per scan component
    restart_interval = 0
    scan_at = None
    for marker, body, seg_end in _jpeg_segments(payload):
        if marker == 0xDB:
            _parse_dqt(body, qt)
        elif marker == 0xC4:
            _parse_dht(body, dc_tables, ac_tables)
        elif marker == 0xC0:  # SOF0 baseline
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise ValueError(f"unsupported sample precision {precision}")
            if ncomp != 3:
                raise ValueError(
                    f"unsupported component count {ncomp} (use decode_jpeg "
                    "for grayscale)"
                )
            for c in range(3):  # entries follow the 6-byte geometry header
                _cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comp_geom.append((hv >> 4, hv & 0x0F, tq))
            # every factor in {1, 2} is decodable: with factors capped at
            # 2, each plane's grid divides the densest (hmax, vmax) grid
            # by construction, so the np.repeat upsample below is exact —
            # including the spec-legal chroma-denser-than-luma layouts
            ok = all(
                1 <= hh <= 2 and 1 <= vv <= 2 for hh, vv, _tq in comp_geom
            )
            if not ok:
                raise ValueError(
                    "unsupported sampling layout "
                    f"{[(hh, vv) for hh, vv, _ in comp_geom]} (all "
                    "factors must be 1 or 2)"
                )
        elif marker in _SOF_UNSUPPORTED:
            raise ValueError(f"unsupported SOF marker {marker:#x} (baseline only)")
        elif marker == 0xDD:
            restart_interval = _parse_dri(body)
        elif marker == 0xDA:  # SOS
            ns = body[0]
            if ns != 3:
                raise ValueError(f"unsupported scan component count {ns}")
            for c in range(3):
                tt = body[2 + 2 * c]
                scan_tables.append((tt >> 4, tt & 0x0F))
            scan_at = seg_end
            break
        # APPn / COM / anything else: skipped by the walk
    if scan_at is None or w is None or not comp_geom:
        raise ValueError("missing SOS or SOF0 segment")
    basis = _idct_basis_cached()
    quants = [np.array(qt[tq], dtype=np.int64) for _, _, tq in comp_geom]
    hmax = max(hh for hh, _vv, _tq in comp_geom)
    vmax = max(vv for _hh, vv, _tq in comp_geom)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mw, mh = (w + mcu_w - 1) // mcu_w, (h + mcu_h - 1) // mcu_h
    planes = [
        np.zeros((mh * vv * 8, mw * hh * 8), dtype=np.uint8)
        for hh, vv, _tq in comp_geom
    ]
    reader = _BitReader(payload, scan_at)
    preds = [0, 0, 0]
    for m in range(mw * mh):
        if restart_interval and m and m % restart_interval == 0:
            _consume_restart(reader, m // restart_interval - 1)
            preds = [0, 0, 0]
        my, mx = divmod(m, mw)
        for ci, (hh, vv, _tq) in enumerate(comp_geom):
            td, ta = scan_tables[ci]
            for j in range(hh * vv):  # left-right, top-bottom per T.81 A.2.3
                px, preds[ci] = _decode_du(
                    reader, dc_tables[td], ac_tables[ta], preds[ci],
                    quants[ci], basis, np,
                )
                ry = (my * vv + j // hh) * 8
                rx = (mx * hh + j % hh) * 8
                planes[ci][ry : ry + 8, rx : rx + 8] = px
    up = [
        np.repeat(
            np.repeat(planes[ci], vmax // vv, axis=0), hmax // hh, axis=1
        )
        for ci, (hh, vv, _tq) in enumerate(comp_geom)
    ]
    r, g, b = _ycbcr_to_rgb_fixed(
        up[0].astype(np.int64), up[1].astype(np.int64), up[2].astype(np.int64),
        np,
    )
    rgb = np.stack([r, g, b], axis=-1).astype(np.uint8)[:h, :w]
    return w, h, rgb.tobytes()


# --- progressive (SOF2) grayscale JPEG --------------------------------------
# Same two-independent-routes law, extended to the other dominant real-world
# JPEG shape: progressive mode (T.81 Annex G) transmits each block's
# coefficients across MULTIPLE scans — spectral selection (a zigzag band per
# scan) crossed with successive approximation (high bits first, then one
# refinement bit per scan) — so web images render coarse-to-fine.  The
# decoder below is scan-general for single-component streams: DC
# first/refine, AC first/refine with EOBRUN bookkeeping and correction
# bits, per-scan Huffman table redefinition, and restart markers resetting
# both the DC predictor and the EOB run.  Color progressive (per-component
# non-interleaved dimensions) stays a documented raise.

# the AC scans of the progressive ENCODER need EOBn symbols ((r<<4)|0,
# T.81 G.1.2.2) that Annex-K's baseline AC table does not define, so the
# encoder transmits this minimal custom table: EOB0..EOB5 covers runs up
# to 63 blocks, far past the bounded geometry.  Spec-legal — decoders
# rebuild whatever canonical table the DHT carries.
_JPEG_PROG_AC_BITS = (0, 0, 6, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_JPEG_PROG_AC_VALS = (0x00, 0x10, 0x20, 0x30, 0x40, 0x50)
_PROG_AC_ENC, _PROG_AC_DEC = _huff_canonical(_JPEG_PROG_AC_BITS, _JPEG_PROG_AC_VALS)


def _emit_eobrun(bits: "_BitWriter", eobrun: int, ac_enc: dict) -> None:
    """EOBn: symbol (r<<4)|0 followed by r extension bits, covering EOB
    runs of 2^r .. 2^(r+1)-1 blocks (T.81 G.1.2.2)."""
    r = eobrun.bit_length() - 1
    code, length = ac_enc[r << 4]
    bits.write(code, length)
    if r:
        bits.write(eobrun - (1 << r), r)


def encode_jpeg_progressive(data: bytes, restart_interval: int = 0) -> bytes:
    """Pack ``data`` into a REAL progressive (SOF2) grayscale JPEG with
    the same geometry/content law as encode_jpeg — every 8x8 block is the
    constant value ``data[k % n]`` — transmitted across 3-4 scans:

    1. DC first pass  (Ss=0 Se=0 Ah=0 Al=1): differential Huffman DC of
       the arithmetically right-shifted coefficients;
    2. DC refinement  (Ss=0 Se=0 Ah=1 Al=0): one raw bit per block;
    3. AC band(s), first pass (Al=0): with constant blocks every AC is
       zero, so each scan is one EOBn run over all blocks (extension
       bits exercised).  Odd-length payloads split the band into two
       scans (Ss=1-5, Ss=6-63) so the spectral-selection path is hit.

    Constant blocks survive quantize+IDCT bit-exactly and DC first+refine
    reconstructs every DC exactly, so decoded pixels equal the baseline
    encode_jpeg pixels for the same payload and the DuckDB oracle replays
    stats analytically.  ``restart_interval`` > 0 emits DRI + per-scan
    RSTm markers (EOBn runs never span a restart, per T.81 E.2.4)."""
    n = len(data)
    bw = JPEG_WB_BASE + n % JPEG_WB_MOD
    bh = JPEG_HB_BASE + n % JPEG_HB_MOD
    w, h = 8 * bw, 8 * bh
    nblocks = bw * bh
    dcs = [((data[k % n] if n else 0) - 128) * 8 for k in range(nblocks)]
    head = bytearray()
    head += b"\xff\xd8"
    head += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    head += _seg(0xFFDB, b"\x00" + bytes([1] * 64))
    head += _seg(  # SOF2: progressive DCT, 8-bit, 1 component, 1x1, Tq=0
        0xFFC2, struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    )
    head += _seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    head += _seg(
        0xFFC4, b"\x10" + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS)
    )
    if restart_interval:
        head += _seg(0xFFDD, struct.pack(">H", restart_interval))
    out = bytearray(head)

    def sos(ss: int, se: int, ah: int, al: int) -> bytes:
        return _seg(0xFFDA, bytes([1, 1, 0x00, ss, se, (ah << 4) | al]))

    # scan 1: DC first pass at Al=1 (arithmetic shift, T.81 G.1.2.1)
    out += sos(0, 0, 0, 1)
    bits = _BitWriter()
    pred = 0
    for k, dc in enumerate(dcs):
        if restart_interval and k and k % restart_interval == 0:
            _emit_restart(bits, k // restart_interval - 1)
            pred = 0
        v = dc >> 1
        diff = v - pred
        pred = v
        s = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, length = _DC_ENC[s]
        bits.write(code, length)
        if s:
            bits.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    out += bits.flush()

    # scan 2: DC refinement at Al=0 — one raw bit (bit 0 of the DC)
    out += sos(0, 0, 1, 0)
    bits = _BitWriter()
    for k, dc in enumerate(dcs):
        if restart_interval and k and k % restart_interval == 0:
            _emit_restart(bits, k // restart_interval - 1)
        bits.write(dc & 1, 1)
    out += bits.flush()

    # AC scans: all coefficients are zero -> pure EOBn runs
    bands = [(1, 5), (6, 63)] if n % 2 else [(1, 63)]
    for ss, se in bands:
        out += sos(ss, se, 0, 0)
        bits = _BitWriter()
        if restart_interval:
            done = 0
            while done < nblocks:
                chunk = min(restart_interval, nblocks - done)
                if done:
                    _emit_restart(bits, done // restart_interval - 1)
                _emit_eobrun(bits, chunk, _PROG_AC_ENC)
                done += chunk
        else:
            _emit_eobrun(bits, nblocks, _PROG_AC_ENC)
        out += bits.flush()
    return bytes(out + b"\xff\xd9")


def _prog_dc_unit(reader, block, ah, al, dc_dec, pred: int) -> int:
    """One data unit of a DC scan: first pass (Ah=0) decodes a
    differential size and stores pred << Al; refinement ORs bit Al in
    (two's complement, so (x >> 1 << 1) | (x & 1) == x for either
    sign).  Returns the updated predictor."""
    if ah == 0:
        s = reader.read_huff(dc_dec)
        diff = _jpeg_extend(reader.read_bits(s), s) if s else 0
        pred += diff
        block[0] = pred << al
    elif reader.read_bit():
        block[0] |= 1 << al
    return pred


def _prog_scan_single(
    reader, blocks, ss, se, ah, al, dc_dec, ac_dec, restart_interval
) -> None:
    """Non-interleaved scan (T.81 G.1.1: any single-component scan) over
    one component's blocks in raster order; restarts reset the predictor
    and the EOB run every ``restart_interval`` blocks."""
    pred = 0
    state = {"eobrun": 0}
    for k, block in enumerate(blocks):
        if restart_interval and k and k % restart_interval == 0:
            _consume_restart(reader, k // restart_interval - 1)
            pred = 0
            state["eobrun"] = 0
        if ss == 0:
            pred = _prog_dc_unit(reader, block, ah, al, dc_dec, pred)
        elif ah == 0:
            _prog_ac_first(reader, block, ss, se, al, ac_dec, state)
        else:
            _prog_ac_refine(reader, block, ss, se, al, ac_dec, state)


def _prog_scan_dc_interleaved(
    reader, coefs, mw, mh, ah, al, dc_decs, restart_interval
) -> None:
    """Interleaved 4:2:0 DC scan (the only multi-component scan shape
    progressive mode allows, T.81 G.1.1): per MCU, four Y data units then
    Cb then Cr, with per-component predictors; restarts every
    ``restart_interval`` MCUs reset all three."""
    preds = [0, 0, 0]
    for m in range(mw * mh):
        if restart_interval and m and m % restart_interval == 0:
            _consume_restart(reader, m // restart_interval - 1)
            preds = [0, 0, 0]
        my, mx = divmod(m, mw)
        for j in range(4):
            bidx = (2 * my + j // 2) * (2 * mw) + (2 * mx + j % 2)
            preds[0] = _prog_dc_unit(
                reader, coefs[0][bidx], ah, al, dc_decs[0], preds[0]
            )
        for ci in (1, 2):
            preds[ci] = _prog_dc_unit(
                reader, coefs[ci][my * mw + mx], ah, al, dc_decs[ci], preds[ci]
            )


def _prog_ac_first(reader, block, ss, se, al, ac_dec, state) -> None:
    """AC first pass for one block (T.81 G.1.2.2): run-size pairs with
    ZRL, values shifted by Al, EOBn starting a multi-block EOB run."""
    if state["eobrun"]:
        state["eobrun"] -= 1
        return
    i = ss
    while i <= se:
        sym = reader.read_huff(ac_dec)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:
                i += 16  # ZRL
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.read_bits(r)
            return
        i += r
        if i > se:
            raise ValueError("AC run past band end")
        block[i] = _jpeg_extend(reader.read_bits(s), s) << al
        i += 1


def _prog_ac_refine(reader, block, ss, se, al, ac_dec, state) -> None:
    """AC refinement for one block (T.81 G.1.2.3): newly nonzero
    coefficients arrive as ±1<<Al; every already-nonzero coefficient
    crossed — including the rest of the band once an EOB run starts —
    consumes one correction bit that grows its magnitude by 1<<Al."""
    p1, m1 = 1 << al, -1 << al

    def correct(i: int) -> None:
        if reader.read_bit() and (block[i] & p1) == 0:
            block[i] += p1 if block[i] >= 0 else m1

    i = ss
    if state["eobrun"] == 0:
        while i <= se:
            sym = reader.read_huff(ac_dec)
            r, s = sym >> 4, sym & 0x0F
            if s == 0 and r != 15:
                state["eobrun"] = 1 << r
                if r:
                    state["eobrun"] += reader.read_bits(r)
                break
            if s == 0:  # ZRL: skip 16 zero-history positions
                newval = 0
            elif s == 1:
                newval = p1 if reader.read_bit() else m1
            else:
                raise ValueError("invalid AC refinement size (must be 1)")
            while i <= se:
                if block[i] != 0:
                    correct(i)
                else:
                    if r == 0:
                        if newval:
                            block[i] = newval
                        i += 1
                        break
                    r -= 1
                i += 1
    if state["eobrun"]:
        while i <= se:  # correction-only sweep over the band's tail
            if block[i] != 0:
                correct(i)
            i += 1
        state["eobrun"] -= 1


def encode_jpeg_progressive_color(
    data: bytes, restart_interval: int = 0
) -> bytes:
    """Pack ``data`` into a REAL progressive (SOF2) 4:2:0 COLOR JPEG with
    the same geometry/content law as encode_jpeg_color — MCU m carries Y
    quadrants ``data[(4m+j) % n]`` and chroma ``data[m % n]`` /
    ``data[(m+1) % n]`` as DC-only constant data units — transmitted the
    way real progressive encoders do (T.81 G.1.1):

    1. interleaved DC first pass (all 3 components, Al=1);
    2. interleaved DC refinement (one raw bit per data unit);
    3. non-interleaved AC band scans, one (or two for odd n, splitting
       Y's band) per component — pure EOBn runs over each component's own
       block raster since every AC is zero.

    Decoded pixels equal the baseline encode_jpeg_color pixels for the
    same payload, so the DuckDB oracle replays the per-channel sums
    analytically through the same fixed-point conversion.
    ``restart_interval`` > 0 emits DRI + RSTm markers (per-MCU in the
    interleaved scans, per-block in the AC scans)."""
    n = len(data)
    mw = JPEG_MW_BASE + n % JPEG_MW_MOD
    mh = JPEG_MH_BASE + n % JPEG_MH_MOD
    w, h = 16 * mw, 16 * mh
    head = bytearray()
    head += b"\xff\xd8"
    head += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    head += _seg(0xFFDB, b"\x00" + bytes([1] * 64))
    head += _seg(0xFFDB, b"\x01" + bytes([1] * 64))
    head += _seg(
        0xFFC2,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x22, 0])
        + bytes([2, 0x11, 1])
        + bytes([3, 0x11, 1]),
    )
    head += _seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    head += _seg(0xFFC4, b"\x01" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    head += _seg(
        0xFFC4, b"\x10" + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS)
    )
    head += _seg(
        0xFFC4, b"\x11" + bytes(_JPEG_PROG_AC_BITS) + bytes(_JPEG_PROG_AC_VALS)
    )
    if restart_interval:
        head += _seg(0xFFDD, struct.pack(">H", restart_interval))
    out = bytearray(head)

    def unit_value(ci: int, m: int, j: int) -> int:
        if not n:
            return 0 if ci == 0 else 128
        if ci == 0:
            return data[(4 * m + j) % n]
        return data[(m + (ci - 1)) % n]

    def dc_of(ci: int, m: int, j: int = 0) -> int:
        return (unit_value(ci, m, j) - 128) * 8

    def put_dc_first(bits: "_BitWriter", preds: list, ci: int, dc: int) -> None:
        v = dc >> 1  # Al = 1, arithmetic shift
        diff = v - preds[ci]
        preds[ci] = v
        s = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, length = _DC_ENC[s]
        bits.write(code, length)
        if s:
            bits.write(diff if diff > 0 else diff + (1 << s) - 1, s)

    # scan 1: interleaved DC first (ns=3, Al=1)
    out += _seg(
        0xFFDA, bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x01])
    )
    bits = _BitWriter()
    preds = [0, 0, 0]
    for m in range(mw * mh):
        if restart_interval and m and m % restart_interval == 0:
            _emit_restart(bits, m // restart_interval - 1)
            preds = [0, 0, 0]
        for j in range(4):
            put_dc_first(bits, preds, 0, dc_of(0, m, j))
        put_dc_first(bits, preds, 1, dc_of(1, m))
        put_dc_first(bits, preds, 2, dc_of(2, m))
    out += bits.flush()

    # scan 2: interleaved DC refinement (one raw bit per data unit)
    out += _seg(
        0xFFDA, bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0x10])
    )
    bits = _BitWriter()
    for m in range(mw * mh):
        if restart_interval and m and m % restart_interval == 0:
            _emit_restart(bits, m // restart_interval - 1)
        for j in range(4):
            bits.write(dc_of(0, m, j) & 1, 1)
        bits.write(dc_of(1, m) & 1, 1)
        bits.write(dc_of(2, m) & 1, 1)
    out += bits.flush()

    # AC band scans: single-component, zero coefficients -> EOBn runs
    nblocks = {1: 4 * mw * mh, 2: mw * mh, 3: mw * mh}
    y_bands = [(1, 5), (6, 63)] if n % 2 else [(1, 63)]
    scans = [(1, ss, se) for ss, se in y_bands] + [(2, 1, 63), (3, 1, 63)]
    for cid, ss, se in scans:
        ta = 0 if cid == 1 else 1
        out += _seg(0xFFDA, bytes([1, cid, ta, ss, se, 0x00]))
        bits = _BitWriter()
        total = nblocks[cid]
        if restart_interval:
            done = 0
            while done < total:
                chunk = min(restart_interval, total - done)
                if done:
                    _emit_restart(bits, done // restart_interval - 1)
                _emit_eobrun(bits, chunk, _PROG_AC_ENC)
                done += chunk
        else:
            _emit_eobrun(bits, total, _PROG_AC_ENC)
        out += bits.flush()
    return bytes(out + b"\xff\xd9")


def _parse_prog_sos(body: bytes):
    """Progressive SOS header: ns component selectors with table ids,
    then Ss, Se, Ah|Al.  Returns (comps, ss, se, ah, al) with comps a
    list of (component id, Td, Ta)."""
    ns = body[0]
    comps = [
        (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
        for i in range(ns)
    ]
    off = 1 + 2 * ns
    return comps, body[off], body[off + 1], body[off + 2] >> 4, body[off + 2] & 0x0F


def decode_jpeg_progressive(payload: bytes) -> tuple[int, int, bytes]:
    """Full progressive (SOF2) JPEG decode — ``(width, height, raster)``.
    Thin wrapper over :func:`decode_jpeg_progressive_counted` keeping the
    3-tuple contract decode_image's format routing expects."""
    w, h, raster, _n_scans = decode_jpeg_progressive_counted(payload)
    return w, h, raster


def decode_jpeg_progressive_counted(
    payload: bytes,
) -> tuple[int, int, bytes, int]:
    """Full progressive (SOF2) JPEG decode from the public spec —
    grayscale AND 4:2:0 color.  Returns ``(width, height, raster,
    n_scans)`` where ``n_scans`` counts the SOS scans the decoder
    actually consumed — a measured value, so a scan-sequencing bug
    surfaces through the count instead of being replayed analytically
    on both sides.  The header walk collects DQT/DHT/DRI up
    to the first SOS, then scans decode in sequence — each SOS names its
    component(s), a zigzag band (Ss..Se), and an approximation level
    (Ah, Al); DC scans (the only shape T.81 G.1.1 allows to interleave
    components) integrate successive approximation bits with
    per-component predictors, AC scans (always single-component, in that
    component's own block raster) integrate run-size values, EOB runs,
    and refinement correction bits into per-component coefficient
    accumulators; DHT/DQT/DRI may be redefined between scans; RSTm
    markers reset predictors and the EOB run.  After the last scan:
    dequantize, dezigzag, IDCT, then for color the 2x chroma upsample and
    the same integer fixed-point YCbCr->RGB as the baseline color path —
    identical reconstruction math, reached through a genuinely different
    bitstream.  Sampling layouts other than gray 1x1 / color 4:2:0
    raise."""
    import numpy as np

    qt: dict[int, list[int]] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    w = h = ncomp = None
    comp_tq: dict[int, int] = {}  # component id -> quant table
    comp_index: dict[int, int] = {}  # component id -> 0/1/2
    restart_interval = 0
    scan_params = None
    pos = None
    for marker, body, seg_end in _jpeg_segments(payload):
        if marker == 0xDB:
            _parse_dqt(body, qt)
        elif marker == 0xC4:
            _parse_dht(body, dc_tables, ac_tables)
        elif marker == 0xC2:  # SOF2 progressive
            precision, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if precision != 8:
                raise ValueError(f"unsupported sample precision {precision}")
            if ncomp not in (1, 3):
                raise ValueError(
                    f"unsupported progressive component count {ncomp}"
                )
            hvs = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comp_tq[cid] = tq
                comp_index[cid] = c
                hvs.append((hv >> 4, hv & 0x0F))
            if ncomp == 1 and hvs != [(1, 1)]:
                raise ValueError("unsupported grayscale sampling factors")
            if ncomp == 3 and hvs != [(2, 2), (1, 1), (1, 1)]:
                raise ValueError(
                    "unsupported progressive sampling layout (only 4:2:0 "
                    "— Y 2x2, chroma 1x1 — decodes)"
                )
        elif marker == 0xC0:
            raise ValueError("baseline SOF0 stream (use decode_jpeg)")
        elif marker in _SOF_UNSUPPORTED and marker != 0xC2:
            raise ValueError(f"unsupported SOF marker {marker:#x}")
        elif marker == 0xDD:
            restart_interval = _parse_dri(body)
        elif marker == 0xDA:
            scan_params = _parse_prog_sos(body)
            pos = seg_end
            break
    if pos is None or w is None:
        raise ValueError("missing SOS or SOF2 segment")
    if ncomp == 1:
        grids = [((w + 7) // 8, (h + 7) // 8)]
        mw = mh = 0
    else:
        mw, mh = (w + 15) // 16, (h + 15) // 16
        grids = [(2 * mw, 2 * mh), (mw, mh), (mw, mh)]
    coefs = [
        [[0] * 64 for _ in range(gw * gh)] for gw, gh in grids
    ]  # zigzag-index space, per component

    n_scans = 0
    while True:
        comps, ss, se, ah, al = scan_params
        n_scans += 1
        reader = _BitReader(payload, pos)
        if len(comps) == 1:
            cid, td, ta = comps[0]
            ci = comp_index[cid]
            # resolve the tables this scan shape actually reads (DC
            # refinement is raw bits — no table) so a scan referencing an
            # untransmitted DHT raises the same named error every other
            # malformed feature gets, not a NoneType AttributeError
            if ss == 0 and ah == 0 and td not in dc_tables:
                raise ValueError(f"undefined DC Huffman table {td} in scan")
            if ss > 0 and ta not in ac_tables:
                raise ValueError(f"undefined AC Huffman table {ta} in scan")
            _prog_scan_single(
                reader, coefs[ci], ss, se, ah, al,
                dc_tables.get(td), ac_tables.get(ta), restart_interval,
            )
        elif len(comps) == ncomp == 3 and ss == 0:
            if se != 0:
                raise ValueError("DC scan must have Se=0")
            if ah == 0:
                missing = [td for _c, td, _t in comps if td not in dc_tables]
                if missing:
                    raise ValueError(
                        f"undefined DC Huffman table {missing[0]} in scan"
                    )
            dc_decs = [dc_tables.get(td) for _cid, td, _ta in comps]
            _prog_scan_dc_interleaved(
                reader, coefs, mw, mh, ah, al, dc_decs, restart_interval
            )
        else:
            raise ValueError(
                "unsupported progressive scan layout (AC scans are "
                "single-component, T.81 G.1.1)"
            )
        reader.nbits = 0  # drop the scan's byte-alignment fill bits
        pos = reader.pos
        # inter-scan segment walk: tables may be redefined; stop at EOI
        scan_params = None
        while True:
            if pos + 2 > len(payload) or payload[pos] != 0xFF:
                raise ValueError(f"expected marker after scan at offset {pos}")
            while pos + 2 < len(payload) and payload[pos + 1] == 0xFF:
                pos += 1  # fill bytes
            marker = payload[pos + 1]
            if marker == 0xD9:  # EOI
                break
            (seglen,) = struct.unpack_from(">H", payload, pos + 2)
            body = payload[pos + 4 : pos + 2 + seglen]
            if marker == 0xDB:
                _parse_dqt(body, qt)
            elif marker == 0xC4:
                _parse_dht(body, dc_tables, ac_tables)
            elif marker == 0xDD:
                restart_interval = _parse_dri(body)
            elif marker == 0xDA:
                scan_params = _parse_prog_sos(body)
                pos += 2 + seglen
                break
            else:
                raise ValueError(
                    f"unexpected marker {marker:#x} between scans"
                )
            pos += 2 + seglen
        if scan_params is None:
            break

    basis = _idct_basis_cached()

    def comp_plane(ci: int, cid: int) -> "np.ndarray":
        gw, gh = grids[ci]
        quant = np.array(qt[comp_tq[cid]], dtype=np.int64)
        plane = np.zeros((gh * 8, gw * 8), dtype=np.uint8)
        for k, coef_zz in enumerate(coefs[ci]):
            block = np.zeros(64, dtype=np.float64)
            block[list(JPEG_ZIGZAG)] = np.array(coef_zz, dtype=np.int64) * quant
            px = basis.T @ block.reshape(8, 8) @ basis
            px = np.clip(np.round(px) + 128, 0, 255).astype(np.uint8)
            by, bx = divmod(k, gw)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px
        return plane

    cids = sorted(comp_index, key=comp_index.get)
    if ncomp == 1:
        return w, h, comp_plane(0, cids[0])[:h, :w].tobytes(), n_scans
    yplane = comp_plane(0, cids[0])
    cb = np.repeat(np.repeat(comp_plane(1, cids[1]), 2, axis=0), 2, axis=1)
    cr = np.repeat(np.repeat(comp_plane(2, cids[2]), 2, axis=0), 2, axis=1)
    r, g, b = _ycbcr_to_rgb_fixed(
        yplane.astype(np.int64), cb.astype(np.int64), cr.astype(np.int64), np
    )
    rgb = np.stack([r, g, b], axis=-1).astype(np.uint8)[:h, :w]
    return w, h, rgb.tobytes(), n_scans


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Attach the multimodal column pattern to the documents table: payload
    (binary) + metadata struct.  On a real corpus the payload comes off the
    source (parquet/kafka) already binary."""
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("image/fake").alias("content_type"),
            F.octet_length("text").alias("n_bytes"),
            (F.col("doc_id") % 1000).alias("shard"),
        ).alias("meta"),
    )


def _jpeg_mode(payload: bytes) -> tuple[bool, int]:
    """Peek (progressive?, component count) from the SOF marker
    (header-only walk, no entropy decode) so decode_image can route
    baseline gray/color and progressive gray.  SOF markers for coding
    processes no decoder here implements raise the same actionable
    error the decoders raise."""
    for marker, body, _seg_end in _jpeg_segments(payload):
        if marker == 0xC0:  # SOF0: precision(1) h(2) w(2) ncomp(1)
            return False, body[5]
        if marker == 0xC2:  # SOF2 progressive
            return True, body[5]
        if marker in _SOF_UNSUPPORTED:
            raise ValueError(f"unsupported SOF marker {marker:#x}")
        if marker == 0xDA:  # SOS before SOF: malformed
            break
    raise ValueError("missing SOF segment")


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """Decode an image payload.  BMP (24-bit RGB), PNG (gray8), and
    JPEG — baseline grayscale AND 4:2:0 color AND progressive grayscale
    (routed by the SOF marker + component count) — all decode for real
    (pure Python/stdlib/numpy, no imaging libraries); remaining formats
    are env-blocked stubs.  The raster is 1 byte/pixel for grayscale
    sources, 3 for RGB."""
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload[: len(PNG_SIG)] == PNG_SIG:
        return decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        progressive, ncomp = _jpeg_mode(payload)
        if progressive:
            return decode_jpeg_progressive(payload)
        if ncomp == 3:
            return decode_jpeg_color(payload)
        return decode_jpeg(payload)
    raise NotImplementedError(
        "only BMP, PNG, and baseline JPEG decode without an imaging "
        "library; other image formats and video require libs not present "
        "in this environment"
    )


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes int, frame_checksum long"
FRAME_SIZE = 32  # bytes per fake "frame"
FRAME_STRIDE = 4  # sample every 4th frame


def _fake_frame_batch(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Deterministic frame-sampling stand-in: chop the payload into
    FRAME_SIZE-byte frames, keep every FRAME_STRIDE-th, checksum each.  A
    real video decoder slots in here with the identical one-to-many batch
    shape (one input row -> n output rows)."""
    import pandas as pd

    out = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_checksum": []}
    for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
        payload = payload or b""
        n_frames = max((len(payload) + FRAME_SIZE - 1) // FRAME_SIZE, 1)
        for idx in range(0, n_frames, FRAME_STRIDE):
            chunk = payload[idx * FRAME_SIZE : (idx + 1) * FRAME_SIZE]
            out["doc_id"].append(doc_id)
            out["frame_idx"].append(idx)
            out["frame_bytes"].append(len(chunk))
            out["frame_checksum"].append(int(sum(chunk)))
    return pd.DataFrame(out)


def sample_frames(binary_docs: DataFrame) -> DataFrame:
    """One-to-many mapInPandas: binary payload -> sampled frame rows.  The
    row-expanding variant of the multimodal pattern (video frame sampling,
    audio chunking)."""
    return _map_payload_batches(binary_docs, _fake_frame_batch, FRAME_SCHEMA)


RESIZE_CHARS = 64
RESIZE_SCHEMA = "doc_id long, orig_chars int, resized_chars int, resized_checksum long"


def _fake_resize_batch(pdf: "pd.DataFrame") -> "pd.DataFrame":
    """Deterministic resize stand-in: truncate/NUL-pad the decoded text to
    RESIZE_CHARS characters and checksum Unicode code points (a real image
    resize slots in with the identical batch shape: one row in, one
    fixed-size row out).  Character/code-point semantics (not bytes) so the
    DuckDB oracle — which has no blob byte access — replays it exactly for
    ANY text, not just ASCII."""
    import pandas as pd

    texts = pdf["payload"].map(lambda b: (b or b"").decode("utf-8"))
    resized = texts.map(lambda s: s[:RESIZE_CHARS].ljust(RESIZE_CHARS, "\x00"))
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "orig_chars": texts.map(len).astype("int32"),
            "resized_chars": resized.map(len).astype("int32"),
            "resized_checksum": resized.map(
                lambda s: sum(ord(c) for c in s)
            ).astype("int64"),
        }
    )


def _map_payload_batches(binary_docs: DataFrame, batch_fn, schema: str) -> DataFrame:
    """Shared mapInPandas wrapper for the multimodal operators: narrow map
    over (doc_id, payload), Arrow both ways.  Python-worker parallelism is
    partition-bound, so the compact rows are fanned out to the session's
    parallelism first (see dedup.fan_out) — a handful of parquet splits
    would otherwise cap the decode at a handful of Python workers."""
    from .dedup import fan_out

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            yield batch_fn(pdf)

    return fan_out(binary_docs.select("doc_id", "payload")).mapInPandas(run, schema)


def resize_payloads(binary_docs: DataFrame) -> DataFrame:
    """Arrow-batched fixed-size normalization — the resize member of the
    multimodal quartet (decode / extract / resize / frame-sample)."""
    return _map_payload_batches(binary_docs, _fake_resize_batch, RESIZE_SCHEMA)


# --- Feature extraction: one batch builder, one row function per format -----
#
# Each row function calls its encoder and decoder by name, and query
# functions pass it to extract_features by name — never through a dict or
# tuple of functions: tools/closure_fp.py does not walk those, so a codec
# edit would no longer flip the query's proof fingerprint.


def _feature_batch(pdf: "pd.DataFrame", schema: str, row_fn) -> "pd.DataFrame":
    """Run ``row_fn`` over one Arrow batch and build the typed frame
    ``schema`` declares: doc_id, then one column per value of the row
    function's stats tuple.  A null payload decodes as ``b""``.  Pandas
    dtypes come from the DDL types, so an empty batch is typed too."""
    import pandas as pd

    dtypes = {"long": "int64", "int": "int32", "string": "object"}
    cols = [col.split() for col in schema.split(",")]
    rows = [row_fn(payload or b"") for payload in pdf["payload"]]
    values = [pdf["doc_id"].tolist()] + (list(zip(*rows)) or [()] * (len(cols) - 1))
    return pd.DataFrame(
        {
            name: pd.Series(vals, dtype=dtypes[ddl_type])
            for (name, ddl_type), vals in zip(cols, values, strict=True)
        }
    )


def extract_features(binary_docs: DataFrame, row_fn, schema: str) -> DataFrame:
    """Arrow-batched feature extraction over the binary column: a real
    codec round-trip per payload through ``row_fn``.  Swapping the format
    swaps the row function and schema; the plan is unchanged."""
    return _map_payload_batches(
        binary_docs, lambda pdf: _feature_batch(pdf, schema, row_fn), schema
    )


def _byte_sum(raster: bytes) -> int:
    """Sum of a decoded raster's bytes (the grayscale pixel sum, or all
    three channels of an RGB raster)."""
    return sum(raster)


def _rgb_sums(rgb: bytes, width: int, height: int) -> tuple[int, int, int]:
    """Per-channel sums of an interleaved RGB raster; the reshape checks
    that the decoder returned exactly width x height x 3 bytes."""
    import numpy as np

    arr = np.frombuffer(rgb, np.uint8).reshape(height, width, 3).astype(np.int64)
    return int(arr[..., 0].sum()), int(arr[..., 1].sum()), int(arr[..., 2].sum())


def _bmp_row(payload: bytes) -> tuple:
    """FEATURE_SCHEMA row: encode the payload into a real BMP and decode it
    back with the real parser.  The encode leg stands in for 'the corpus
    already stores images'; the decode leg is the actual work a
    feature-extraction pass does at scale."""
    width, height, raster = decode_image(encode_bmp(payload))
    return width, height, width * height, _byte_sum(raster)


# --- WAV (RIFF / 16-bit PCM) codec -------------------------------------------

WAV_RATE_BASE = 8000  # Hz; actual rate varies with payload length so the
WAV_RATE_MOD = 5  # fmt-chunk parse is exercised, not a constant
AUDIO_SCHEMA = "doc_id long, n_samples int, sample_rate int, amp_sum long, peak int"


def encode_wav(data: bytes) -> bytes:
    """Pack ``data`` into a REAL mono 16-bit PCM WAV — RIFF header, fmt
    chunk, data chunk: byte b becomes the signed sample (b - 128) * 256 and
    the sample rate derives from the payload length.  Standards-conforming
    (any WAV reader plays it) and deterministic, so the DuckDB oracle can
    replay the decoded stats from the text bytes without parsing RIFF."""
    n = len(data)
    rate = WAV_RATE_BASE + (n % WAV_RATE_MOD) * 1000
    samples = struct.pack(f"<{n}h", *((b - 128) * 256 for b in data)) if n else b""
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(samples))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(samples))
        + samples
    )


def decode_wav(payload: bytes) -> tuple[int, "object"]:
    """Parse a RIFF/WAVE container for real: validate the magic, walk the
    word-aligned chunk list to find fmt (must be PCM / mono / 16-bit) and
    data, and reinterpret the data chunk as signed little-endian int16
    samples (a zero-copy numpy view — the batch path stays vectorized)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    off, rate, samples = 12, None, None
    while off + 8 <= len(payload):
        cid = payload[off : off + 4]
        (size,) = struct.unpack_from("<I", payload, off + 4)
        body = payload[off + 8 : off + 8 + size]
        if cid == b"fmt ":
            fmt_tag, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt_tag != 1 or channels != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV variant: fmt={fmt_tag} ch={channels} bits={bits}"
                )
        elif cid == b"data":
            import numpy as np

            samples = np.frombuffer(body[: size // 2 * 2], dtype="<i2")
        off += 8 + size + (size % 2)  # RIFF chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return rate, samples


def decode_audio(payload: bytes) -> tuple[int, "object"]:
    """Decode an audio payload.  WAV/PCM decodes for real (pure Python, no
    libraries); compressed codecs are env-blocked — no audio libs in this
    container."""
    if payload[:4] == b"RIFF":
        return decode_wav(payload)
    raise NotImplementedError(
        "only WAV/PCM decodes without an audio library; MP3/AAC/OGG decode "
        "requires libs not present in this environment"
    )


def _wav_row(payload: bytes) -> tuple:
    """AUDIO_SCHEMA row: encode the payload into a real WAV and decode it
    back with the real RIFF parser — the audio analog of _bmp_row; an
    MP3/AAC decoder would slot in here with the plan unchanged."""
    import numpy as np

    rate, samples = decode_audio(encode_wav(payload))
    amps = np.abs(np.asarray(samples, dtype=np.int64))
    return len(samples), rate, int(amps.sum()), int(amps.max()) if len(amps) else 0


def _png_row(payload: bytes) -> tuple:
    """FEATURE_SCHEMA row: encode the payload into a real PNG (deflate on
    encode) and decode it back with the real parser — CRC-checked chunk
    walk, zlib inflate, five-filter scanline reversal.  The closest this
    package gets to production image decode without an imaging library
    (grayscale: 1 byte/pixel)."""
    width, height, raster = decode_image(encode_png(payload))
    return width, height, width * height, _byte_sum(raster)


def _jpeg_row(payload: bytes) -> tuple:
    """FEATURE_SCHEMA row: encode the payload into a real baseline JFIF
    JPEG and decode it back with the full baseline decoder — marker walk,
    Huffman decode, differential DC, dequantize, dezigzag, 8x8 IDCT
    (grayscale: 1 byte/pixel).  The decoder is a complete
    baseline-grayscale implementation; only the encoder restricts itself
    to DC-only blocks, so the round trip stays bit-exact and
    oracle-replayable."""
    width, height, raster = decode_image(encode_jpeg(payload))
    return width, height, width * height, _byte_sum(raster)


COLOR_SCHEMA = (
    "doc_id long, width int, height int, n_pixels int, "
    "r_sum long, g_sum long, b_sum long"
)


def _jpeg_color_row(payload: bytes) -> tuple:
    """COLOR_SCHEMA row: encode the payload into a real 4:2:0 color JPEG
    and run the full interleaved-MCU color decode (Huffman, per-component
    DC predictors, chroma upsample, fixed-point YCbCr->RGB).  The color
    conversion is integer-exact, so the per-channel sums are
    oracle-replayable."""
    width, height, rgb = decode_jpeg_color(encode_jpeg_color(payload))
    return width, height, width * height, *_rgb_sums(rgb, width, height)


def _decode_sof2(stream: bytes) -> tuple[int, int, bytes, int]:
    """Route an encoded progressive stream through the same SOF peek
    decode_image uses (_jpeg_mode), then decode it with the multi-scan
    decoder, which also counts the scans it consumed."""
    progressive, _ncomp = _jpeg_mode(stream)
    if not progressive:
        raise ValueError("encoder emitted a non-SOF2 stream")
    return decode_jpeg_progressive_counted(stream)


PROG_SCHEMA = "doc_id long, width int, height int, n_scans int, pixel_sum long"


def _jpeg_progressive_row(payload: bytes) -> tuple:
    """PROG_SCHEMA row: encode the payload into a progressive (SOF2)
    grayscale JPEG — DC first + DC refine + one or two spectral AC band
    scans — and decode it through _decode_sof2.  Pixels are identical to
    the baseline encode of the same payload by construction, so the oracle
    replays pixel_sum analytically and any successive-approximation,
    EOBRUN, or scan-sequencing bug mis-sums.  n_scans is COUNTED from the
    scans the decoder consumed while the oracle replays the encoder's
    spectral split analytically, so the two routes are independent and a
    sequencing bug surfaces through the column."""
    width, height, raster, n_scans = _decode_sof2(encode_jpeg_progressive(payload))
    return width, height, n_scans, _byte_sum(raster)


PROG_COLOR_SCHEMA = (
    "doc_id long, width int, height int, n_scans int, "
    "r_sum long, g_sum long, b_sum long"
)


def _jpeg_progressive_color_row(payload: bytes) -> tuple:
    """PROG_COLOR_SCHEMA row: encode the payload into a progressive 4:2:0
    COLOR JPEG — interleaved DC first/refine scans plus per-component AC
    band scans, the web's dominant JPEG shape — and decode it through
    _decode_sof2.  Pixels equal the baseline color encode by construction,
    so the oracle replays the fixed-point per-channel sums analytically;
    n_scans is COUNTED from the scans the decoder consumed while the
    oracle replays the encoder's spectral split, so a per-component
    predictor mixup, scan-sequencing, or upsample bug mis-sums or
    mis-counts."""
    width, height, rgb, n_scans = _decode_sof2(encode_jpeg_progressive_color(payload))
    return width, height, n_scans, *_rgb_sums(rgb, width, height)


DRI_SCHEMA = (
    "doc_id long, width int, height int, restart_interval int, "
    "n_restarts int, r_sum long, g_sum long, b_sum long"
)


def _jpeg_dri_row(payload: bytes) -> tuple:
    """DRI_SCHEMA row: encode the payload into a 4:2:0 color JPEG WITH
    restart markers (interval 1 + n % 2, so every multi-MCU image carries
    RSTm markers and per-interval predictor resets — the error-resilience
    shape most real-world camera/libjpeg output carries), run the full
    color decode, and emit per-channel sums plus the restart geometry.
    The decode only succeeds if every RSTm is consumed at the right MCU
    with the right modulo-8 index — a desynced reader hits 'marker inside
    entropy data' or a wrong-index raise, so the value match proves the
    restart path, not just the pixel math."""
    interval = 1 + len(payload) % 2
    width, height, rgb = decode_jpeg_color(
        encode_jpeg_color(payload, restart_interval=interval)
    )
    mcus = (width // 16) * (height // 16)
    return (
        width, height, interval, (mcus - 1) // interval,
        *_rgb_sums(rgb, width, height),
    )


SAMPLING_SCHEMA = (
    "doc_id long, sampling string, width int, height int, n_pixels int, "
    "r_sum long, g_sum long, b_sum long"
)

# the non-4:2:0 baseline layouts real encoders emit, cycled per doc by
# (n // 3) % 3 (decorrelated from the n % 2 / n % 3 MCU geometry keys)
_JPEG_SAMPLING_CYCLE = (
    ("4:2:2", ((2, 1), (1, 1), (1, 1))),
    ("4:4:0", ((1, 2), (1, 1), (1, 1))),
    ("4:4:4", ((1, 1), (1, 1), (1, 1))),
)


def _jpeg_sampling_row(payload: bytes) -> tuple:
    """SAMPLING_SCHEMA row: encode the payload into a baseline color JPEG
    at a NON-4:2:0 sampling layout — 4:2:2 (Y 2x1), 4:4:0 (Y 1x2), or
    4:4:4 (all 1x1), cycled by payload length — and run the
    sampling-general color decode (per-layout MCU geometry, data-unit
    raster order, per-axis chroma upsample).  Within MCU m, Y data unit j
    carries the cycled byte ``data[(nY*m + j) % n]`` and the MCU's chroma
    is ``data[m % n]`` / ``data[(m+1) % n]``, so the oracle replays the
    per-channel sums with the same exact-BIGINT fixed-point replay as the
    4:2:0 query, with nY and the plane geometry parametrized by the
    layout."""
    name, layout = _JPEG_SAMPLING_CYCLE[(len(payload) // 3) % 3]
    width, height, rgb = decode_jpeg_color(encode_jpeg_color(payload, sampling=layout))
    return name, width, height, width * height, *_rgb_sums(rgb, width, height)
