"""BMP / PNG / WAV codec tests — pure Python, no Spark session needed.

Each decoder must be a real parser, not merely the encoder's inverse: the
independent-writer tests decode files hand-packed byte-by-byte in the test
(BMP with stride padding, PNG with a split IDAT stream).
"""

import struct

import pytest

from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
    BMP_H_BASE,
    BMP_H_MOD,
    BMP_W_BASE,
    BMP_W_MOD,
    decode_bmp,
    encode_bmp,
)


def test_bmp_roundtrip_cycles_payload_bytes():
    data = b"hello bmp world"
    n = len(data)
    w, h, raster = decode_bmp(encode_bmp(data))
    assert w == BMP_W_BASE + n % BMP_W_MOD
    assert h == BMP_H_BASE + n % BMP_H_MOD
    assert len(raster) == 3 * w * h
    assert raster == bytes(data[j % n] for j in range(3 * w * h))


def test_decode_handles_independent_writer_with_stride_padding():
    # 3x2 24-bit BMP packed by hand: row stride = 12 (9 pixel bytes + 3 pad).
    # Top row pixels 1..9, bottom row 10..18; file stores rows bottom-up.
    w, h, stride = 3, 2, 12
    top = bytes(range(1, 10))
    bottom = bytes(range(10, 19))
    pixel_data = bottom + b"\x00" * 3 + top + b"\x00" * 3
    payload = (
        struct.pack("<2sIHHI", b"BM", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
        + pixel_data
    )
    assert len(pixel_data) == h * stride
    dw, dh, raster = decode_bmp(payload)
    assert (dw, dh) == (w, h)
    assert raster == top + bottom  # reassembled top-down, padding stripped


def test_empty_payload_encodes_zero_pixels():
    w, h, raster = decode_bmp(encode_bmp(b""))
    assert (w, h) == (BMP_W_BASE, BMP_H_BASE)
    assert raster == bytes(3 * w * h)
    assert sum(raster) == 0


def test_png_roundtrip_exercises_all_five_filters():
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        PNG_H_BASE,
        PNG_H_MOD,
        PNG_W_BASE,
        PNG_W_MOD,
        decode_png,
        encode_png,
    )

    # len 44 -> h = 3 + 44 % 7 = 5 rows: filters None/Sub/Up/Average/Paeth
    data = bytes((i * 37 + 11) % 256 for i in range(44))
    n = len(data)
    w, h, raster = decode_png(encode_png(data))
    assert w == PNG_W_BASE + n % PNG_W_MOD
    assert h == PNG_H_BASE + n % PNG_H_MOD == 5
    assert raster == bytes(data[j % n] for j in range(w * h))


def test_png_decode_handles_independent_writer_with_split_idat():
    """A real PNG writer may split the zlib stream across several IDAT
    chunks; hand-pack a 3x2 gray8 image (filter-None rows) that way."""
    import zlib

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        PNG_SIG,
        decode_png,
    )

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body))
            + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    raster = bytes(range(1, 7))
    stream = zlib.compress(b"\x00" + raster[:3] + b"\x00" + raster[3:])
    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
    payload = (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", stream[:4])
        + chunk(b"IDAT", stream[4:])
        + chunk(b"IEND", b"")
    )
    assert decode_png(payload) == (3, 2, raster)


def test_png_decode_rejects_corrupt_crc_and_rgb_variant():
    import re
    import zlib

    import pytest

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        PNG_SIG,
        decode_png,
        encode_png,
    )

    tampered = bytearray(encode_png(b"tamper"))
    tampered[len(tampered) // 2] ^= 0xFF
    with pytest.raises(ValueError, match="bad CRC"):
        decode_png(bytes(tampered))

    ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0)  # color type 2 = RGB
    rgb = (
        PNG_SIG
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
    )
    with pytest.raises(ValueError, match=re.escape("unsupported PNG variant")):
        decode_png(rgb)


def test_wav_roundtrip_maps_bytes_to_samples():
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        WAV_RATE_BASE,
        WAV_RATE_MOD,
        decode_wav,
        encode_wav,
    )

    data = b"audio payload bytes!"
    rate, samples = decode_wav(encode_wav(data))
    assert rate == WAV_RATE_BASE + (len(data) % WAV_RATE_MOD) * 1000
    assert list(samples) == [(b - 128) * 256 for b in data]


def test_wav_decode_rejects_stereo():
    import pytest

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_wav,
    )

    stereo = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 8000, 32000, 4, 16)
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        decode_wav(stereo)


def test_wav_decode_skips_unknown_chunks():
    """A writer may insert LIST/INFO chunks between fmt and data; the
    word-aligned chunk walk must skip them."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    wav = encode_wav(b"xy")
    fmt_chunk = wav[12:36]
    data_chunk = wav[36:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded to even
    rebuilt = (
        b"RIFF"
        + struct.pack("<I", 4 + len(fmt_chunk) + len(extra) + len(data_chunk))
        + b"WAVE" + fmt_chunk + extra + data_chunk
    )
    rate, samples = decode_wav(rebuilt)
    assert list(samples) == [(ord("x") - 128) * 256, (ord("y") - 128) * 256]


# --- JPEG (baseline grayscale) ------------------------------------------------


def test_jpeg_roundtrip_cycles_block_values():
    """Encode->decode is bit-exact for DC-only constant blocks across
    payload lengths covering every geometry residue (and the empty
    payload)."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        JPEG_HB_BASE,
        JPEG_HB_MOD,
        JPEG_WB_BASE,
        JPEG_WB_MOD,
        decode_jpeg,
        encode_jpeg,
    )

    for n in [0, 1, 2, 7, 11, 15, 16, 254, 255, 256]:
        data = bytes((7 * j + 250) % 256 for j in range(n))  # hits 0xFF region
        w, h, raster = decode_jpeg(encode_jpeg(data))
        bw, bh = JPEG_WB_BASE + n % JPEG_WB_MOD, JPEG_HB_BASE + n % JPEG_HB_MOD
        assert (w, h) == (8 * bw, 8 * bh)
        for k in range(bw * bh):
            c = data[k % n] if n else 0
            by, bx = divmod(k, bw)
            block = [
                raster[(by * 8 + y) * w + bx * 8 + x]
                for y in range(8)
                for x in range(8)
            ]
            assert block == [c] * 64, (n, k)


def _independent_idct(coef_raster):
    """Test-local IDCT straight from the T.81 formula (double cosine sum),
    independent of the module's matrix factorization."""
    import math

    out = []
    for y in range(8):
        row = []
        for x in range(8):
            s = 0.0
            for u in range(8):
                cu = 1 / math.sqrt(2) if u == 0 else 1.0
                for v in range(8):
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv / 4.0
                        * coef_raster[u][v]
                        * math.cos((2 * y + 1) * u * math.pi / 16)
                        * math.cos((2 * x + 1) * v * math.pi / 16)
                    )
            row.append(max(0, min(255, round(s) + 128)))
        out.append(row)
    return out


def test_jpeg_decoder_handles_ac_runs_and_nonunit_quant():
    """Independent-writer test for the GENERAL half of the decoder: a
    hand-assembled scan with AC coefficients, a ZRL 16-zero run, and a
    non-unit 8-bit quant table, checked against a from-the-formula IDCT.
    The nonzero horizontal AC must vary pixels along x but not y — pins
    the zigzag/IDCT orientation, not just values."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        _AC_ENC,
        _DC_ENC,
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        JPEG_ZIGZAG,
        decode_jpeg,
    )

    quant_zz = [(i % 9) + 1 for i in range(64)]  # non-unit, varies by index

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    class Bits:
        def __init__(self):
            self.s = ""

        def put(self, value, length):
            self.s += format(value, f"0{length}b") if length else ""

        def bytes_(self):
            s = self.s + "1" * (-len(self.s) % 8)
            out = bytearray()
            for i in range(0, len(s), 8):
                b = int(s[i : i + 8], 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    # zigzag coefficients: DC=40; AC idx1=-3; ZRL over 2..17; three more
    # zeros (18..20); idx21=7; EOB
    bits = Bits()
    code, ln = _DC_ENC[6]
    bits.put(code, ln)
    bits.put(40, 6)  # positive: raw bits
    code, ln = _AC_ENC[0x02]  # run 0, size 2
    bits.put(code, ln)
    bits.put(0b00, 2)  # -3 in one's complement (2 bits)
    code, ln = _AC_ENC[0xF0]  # ZRL
    bits.put(code, ln)
    code, ln = _AC_ENC[0x33]  # run 3, size 3
    bits.put(code, ln)
    bits.put(7, 3)
    code, ln = _AC_ENC[0x00]  # EOB
    bits.put(code, ln)

    jpeg = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes(quant_zz))
        + seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + seg(0xFFDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bits.bytes_()
        + b"\xff\xd9"
    )
    w, h, raster = decode_jpeg(jpeg)
    assert (w, h) == (8, 8)

    coef_zz = [0] * 64
    coef_zz[0], coef_zz[1], coef_zz[21] = 40, -3, 7
    coef_raster = [[0] * 8 for _ in range(8)]
    for i, v in enumerate(coef_zz):
        r = JPEG_ZIGZAG[i]
        coef_raster[r // 8][r % 8] = v * quant_zz[i]
    expected = _independent_idct(coef_raster)
    got = [[raster[y * 8 + x] for x in range(8)] for y in range(8)]
    assert got == expected
    # zigzag index 1 is the first HORIZONTAL frequency: rows must differ
    # along x; orientation-transposed decoders fail here
    assert any(got[0][x] != got[0][0] for x in range(8))


def test_jpeg_decode_rejects_progressive_and_corrupt_restart_streams():
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )
    import pytest

    good = encode_jpeg(b"ab")
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="baseline only"):
        decode_jpeg(progressive)
    # a stream that DECLARES a restart interval but carries no RSTm
    # markers is corrupt (T.81 E.2.4 requires one per interval): splice
    # a nonzero DRI right after SOI and the reader must name the miss
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 1)
    with pytest.raises(ValueError, match="expected RST0"):
        decode_jpeg(good[:2] + dri + good[2:])


def test_jpeg_dri_roundtrip_matches_plain_and_wraps_rst_counter():
    """Restart intervals are pixel-neutral (predictor resets re-shape the
    BITSTREAM, not the decode), every interval boundary carries an RSTm
    with m cycling 0-7, and >8 restarts exercise the modulo wrap."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        decode_jpeg_color,
        encode_jpeg,
        encode_jpeg_color,
    )

    for payload in (b"", b"a", b"restart markers!", bytes(range(256))):
        plain = decode_jpeg(encode_jpeg(payload))
        for interval in (1, 2, 3, 7):
            assert (
                decode_jpeg(encode_jpeg(payload, restart_interval=interval))
                == plain
            )
        color_plain = decode_jpeg_color(encode_jpeg_color(payload))
        for interval in (1, 2, 5):
            assert (
                decode_jpeg_color(
                    encode_jpeg_color(payload, restart_interval=interval)
                )
                == color_plain
            )
    # n=13 -> bw=2+3=5, bh=1+1=2 -> 10 blocks; interval 1 -> 9 restarts,
    # so the marker sequence is RST0..RST7 then RST0 again (wrap)
    enc = encode_jpeg(b"0123456789abc", restart_interval=1)
    markers = [
        enc[i + 1] - 0xD0
        for i in range(len(enc) - 1)
        if enc[i] == 0xFF and 0xD0 <= enc[i + 1] <= 0xD7
    ]
    assert markers == [0, 1, 2, 3, 4, 5, 6, 7, 0]
    assert decode_jpeg(enc) == decode_jpeg(encode_jpeg(b"0123456789abc"))


def test_jpeg_progressive_roundtrip_matches_baseline_pixels():
    """A progressive (SOF2) stream of the same payload decodes to
    byte-identical pixels as the baseline stream: DC successive
    approximation (first pass at Al=1 + one refinement bit) reconstructs
    every DC exactly, and the AC band scans are pure EOBn runs.  Odd
    payload lengths split the AC band across two scans (spectral
    selection); restart intervals segment every scan."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    for payload in (b"", b"a", b"ab", b"progressive!", bytes(range(256))):
        base = decode_jpeg(encode_jpeg(payload))
        assert decode_jpeg_progressive(encode_jpeg_progressive(payload)) == base
        for interval in (1, 3):
            assert (
                decode_jpeg_progressive(
                    encode_jpeg_progressive(payload, restart_interval=interval)
                )
                == base
            )
    # the stream really is multi-scan SOF2: 4 scans for odd n, 3 for even
    enc = encode_jpeg_progressive(b"abc")
    assert enc.count(b"\xff\xc2") == 1
    n_scans = sum(
        1 for i in range(len(enc) - 1) if enc[i] == 0xFF and enc[i + 1] == 0xDA
    )
    assert n_scans == 4
    assert encode_jpeg_progressive(b"ab").count(b"\xff\xda") == 3


def test_jpeg_progressive_roundtrip_property():
    """Hypothesis sweep: progressive and baseline encodes of the same
    payload decode to identical rasters for arbitrary byte strings."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        decode_jpeg_progressive,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    @settings(max_examples=25, deadline=None)
    @given(st.binary(min_size=0, max_size=300))
    def check(payload):
        assert decode_jpeg_progressive(
            encode_jpeg_progressive(payload)
        ) == decode_jpeg(encode_jpeg(payload))

    check()


def test_jpeg_progressive_ac_first_and_refine_from_independent_writer():
    """Independent-writer test for the GENERAL progressive paths the
    constant-block encoder cannot reach: nonzero AC coefficients
    transmitted at Al=1 (values shifted), then an AC REFINEMENT scan at
    Al=0 carrying a newly-nonzero +-1, correction bits that grow
    already-nonzero magnitudes, and an EOB0 whose correction sweep covers
    the band tail; plus a DC refinement bit.  Expected pixels come from
    the from-the-formula IDCT of the final coefficient matrix — not from
    any decoder under test."""
    import numpy as np

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        _DC_ENC,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        JPEG_ZIGZAG,
        _huff_canonical,
        _idct_matrix,
        decode_jpeg_progressive,
    )

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    class Bits:
        def __init__(self):
            self.s = ""

        def put(self, value, length):
            if length:
                self.s += format(value, f"0{length}b")

        def bytes_(self):
            s = self.s + "1" * (-len(self.s) % 8)
            out = bytearray()
            for i in range(0, len(s), 8):
                b = int(s[i : i + 8], 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    # custom AC table: EOB0, run0/size1, run0/size2, ZRL, run3/size1
    ac_bits = [0] * 16
    ac_bits[2] = 5  # five 3-bit codes
    ac_vals = (0x00, 0x01, 0x02, 0xF0, 0x31)
    ac_enc, _ = _huff_canonical(tuple(ac_bits), ac_vals)

    head = bytearray()
    head += b"\xff\xd8"
    head += seg(0xFFDB, b"\x00" + bytes([1] * 64))
    head += seg(0xFFC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    head += seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    head += seg(0xFFC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))

    stream = bytearray(head)
    # scan 1 — DC first, Al=1: dc=41 -> transmit 41>>1 = 20 (size 5)
    stream += seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x01]))
    b = Bits()
    code, ln = _DC_ENC[5]
    b.put(code, ln)
    b.put(20, 5)
    stream += b.bytes_()
    # scan 2 — AC first, band 1-63, Al=1: zz1 = -3 (stored -6), ZRL over
    # zz2-17, zz18 = +1 (stored +2), EOB0
    stream += seg(0xFFDA, bytes([1, 1, 0x00, 1, 63, 0x01]))
    b = Bits()
    code, ln = ac_enc[0x02]
    b.put(code, ln)
    b.put(0b00, 2)  # -3 one's complement
    code, ln = ac_enc[0xF0]
    b.put(code, ln)
    code, ln = ac_enc[0x01]
    b.put(code, ln)
    b.put(1, 1)  # +1
    code, ln = ac_enc[0x00]
    b.put(code, ln)
    stream += b.bytes_()
    # scan 3 — DC refine, Al=0: bit 0 of dc=41 -> 1
    stream += seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x10]))
    b = Bits()
    b.put(1, 1)
    stream += b.bytes_()
    # scan 4 — AC refine, band 1-63, Al=0: symbol run3/size1 places a new
    # +1 at zz5 after three zero-history skips; crossing zz1 (history -6)
    # consumes a correction bit (1 -> grows to -7); then EOB0 whose tail
    # sweep corrects zz18 (bit 1 -> 2 becomes 3)
    stream += seg(0xFFDA, bytes([1, 1, 0x00, 1, 63, 0x10]))
    b = Bits()
    code, ln = ac_enc[0x31]
    b.put(code, ln)
    b.put(1, 1)  # sign: positive -> newval = +1
    b.put(1, 1)  # correction for zz1
    code, ln = ac_enc[0x00]
    b.put(code, ln)
    b.put(1, 1)  # tail correction for zz18
    stream += b.bytes_()
    stream += b"\xff\xd9"

    w, h, raster = decode_jpeg_progressive(bytes(stream))
    assert (w, h) == (8, 8)

    coef_zz = np.zeros(64, dtype=np.int64)
    coef_zz[0] = 41
    coef_zz[1] = -7
    coef_zz[5] = 1
    coef_zz[18] = 3
    block = np.zeros(64, dtype=np.float64)
    block[list(JPEG_ZIGZAG)] = coef_zz
    a = _idct_matrix()
    px = a.T @ block.reshape(8, 8) @ a
    expected = np.clip(np.round(px) + 128, 0, 255).astype(np.uint8)
    assert raster == expected.tobytes()


def test_jpeg_color_decodes_422_440_and_444_sampling_layouts():
    """The baseline color decoder is sampling-general (r15): 4:2:2
    (Y 2x1), 4:4:0 (Y 1x2), and 4:4:4 (all 1x1) round-trip against an
    analytic per-pixel expectation built straight from the content law +
    the fixed-point conversion — per-layout MCU geometry, data-unit
    raster order, and per-axis chroma upsample all pinned.  The default
    4:2:0 stream stays byte-for-byte what the r14 encoder emitted."""
    import numpy as np

    from spark_kafka_realm_time_data_pipeline_spark.operators import (
        multimodal as M,
    )

    def expected_rgb(payload, sampling):
        n = len(payload)
        (h1, v1), _, _ = sampling
        mw = M.JPEG_MW_BASE + n % M.JPEG_MW_MOD
        mh = M.JPEG_MH_BASE + n % M.JPEG_MH_MOD
        w, hgt = 8 * h1 * mw, 8 * v1 * mh
        ny = h1 * v1
        y = np.zeros((hgt, w), np.int64)
        cb = np.zeros_like(y)
        cr = np.zeros_like(y)
        for m in range(mw * mh):
            my, mx = divmod(m, mw)
            for j in range(ny):
                val = payload[(ny * m + j) % n] if n else 0
                ry, rx = (my * v1 + j // h1) * 8, (mx * h1 + j % h1) * 8
                y[ry : ry + 8, rx : rx + 8] = val
            cb[my * v1 * 8 : (my + 1) * v1 * 8,
               mx * h1 * 8 : (mx + 1) * h1 * 8] = payload[m % n] if n else 128
            cr[my * v1 * 8 : (my + 1) * v1 * 8,
               mx * h1 * 8 : (mx + 1) * h1 * 8] = (
                payload[(m + 1) % n] if n else 128
            )
        r, g, b = M._ycbcr_to_rgb_fixed(y, cb, cr, np)
        return np.stack([r, g, b], axis=-1).astype(np.uint8).tobytes(), w, hgt

    layouts = [
        ((2, 1), (1, 1), (1, 1)),  # 4:2:2
        ((1, 2), (1, 1), (1, 1)),  # 4:4:0
        ((1, 1), (1, 1), (1, 1)),  # 4:4:4
        ((2, 2), (1, 1), (1, 1)),  # 4:2:0 (the default, via the same path)
    ]
    for samp in layouts:
        for payload in (b"", b"a", b"sampling!", bytes(range(256))):
            w, h, rgb = M.decode_jpeg_color(
                M.encode_jpeg_color(payload, sampling=samp)
            )
            exp, we, he = expected_rgb(payload, samp)
            assert (w, h) == (we, he)
            assert rgb == exp
            w2, h2, rgb2 = M.decode_jpeg_color(
                M.encode_jpeg_color(payload, restart_interval=2, sampling=samp)
            )
            assert rgb2 == rgb


def test_jpeg_color_encoder_rejects_unsupported_sampling_request():
    """The ENCODER only emits the chroma-1x1 layouts (the shapes real
    encoders use); asking for anything else raises rather than writing a
    stream the content law cannot describe."""
    import pytest

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        encode_jpeg_color,
    )

    with pytest.raises(ValueError, match="sampling"):
        encode_jpeg_color(b"x", sampling=((2, 2), (2, 1), (1, 1)))
    with pytest.raises(ValueError, match="sampling"):
        encode_jpeg_color(b"x", sampling=((3, 1), (1, 1), (1, 1)))


def test_jpeg_progressive_interscan_table_redefinition():
    """T.81 allows DHT redefinition BETWEEN scans; the inter-scan walk
    must honor the newest table.  The second DC scan here (a refinement)
    follows a redefined AC table used by the final AC scan — the stream
    decodes only if the walk parsed the mid-stream DHT instead of
    reusing the header's."""
    import numpy as np

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        _DC_ENC,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        JPEG_ZIGZAG,
        _huff_canonical,
        _idct_matrix,
        decode_jpeg_progressive,
    )

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    class Bits:
        def __init__(self):
            self.s = ""

        def put(self, value, length):
            if length:
                self.s += format(value, f"0{length}b")

        def bytes_(self):
            s = self.s + "1" * (-len(self.s) % 8)
            out = bytearray()
            for i in range(0, len(s), 8):
                b = int(s[i : i + 8], 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    # header AC table: ONLY EOB0 — sufficient for nothing but an empty
    # band scan; the real table arrives mid-stream
    ac0_bits = [0] * 16
    ac0_bits[0] = 1
    ac0_vals = (0x00,)
    # redefined AC table: EOB0 + run0/size1 at 2 bits
    ac1_bits = [0] * 16
    ac1_bits[1] = 2
    ac1_vals = (0x00, 0x01)
    ac1_enc, _ = _huff_canonical(tuple(ac1_bits), ac1_vals)

    stream = bytearray()
    stream += b"\xff\xd8"
    stream += seg(0xFFDB, b"\x00" + bytes([1] * 64))
    stream += seg(0xFFC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    stream += seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    stream += seg(0xFFC4, b"\x10" + bytes(ac0_bits) + bytes(ac0_vals))
    # scan 1: DC first at Al=0 (no refinement needed): dc = 24 (size 5)
    stream += seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x00]))
    b = Bits()
    code, ln = _DC_ENC[5]
    b.put(code, ln)
    b.put(24, 5)
    stream += b.bytes_()
    # redefine AC table 1 between scans
    stream += seg(0xFFC4, b"\x10" + bytes(ac1_bits) + bytes(ac1_vals))
    # scan 2: AC band 1-63 at Al=0 using the REDEFINED table: zz1 = +1,
    # then EOB0
    stream += seg(0xFFDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
    b = Bits()
    code, ln = ac1_enc[0x01]
    b.put(code, ln)
    b.put(1, 1)
    code, ln = ac1_enc[0x00]
    b.put(code, ln)
    stream += b.bytes_()
    stream += b"\xff\xd9"

    w, h, raster = decode_jpeg_progressive(bytes(stream))
    coef_zz = np.zeros(64, dtype=np.int64)
    coef_zz[0] = 24
    coef_zz[1] = 1
    block = np.zeros(64, dtype=np.float64)
    block[list(JPEG_ZIGZAG)] = coef_zz
    a = _idct_matrix()
    expected = np.clip(np.round(a.T @ block.reshape(8, 8) @ a) + 128, 0, 255)
    assert raster == expected.astype(np.uint8).tobytes()


def test_jpeg_dri_decode_rejects_missequenced_restart_marker():
    """The modulo-8 RSTm index is VERIFIED, not skipped: flipping the
    first RST0 to RST5 must raise, naming what was expected."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )
    import pytest

    enc = bytearray(encode_jpeg(b"0123456789abc", restart_interval=1))
    for i in range(len(enc) - 1):
        if enc[i] == 0xFF and enc[i + 1] == 0xD0:
            enc[i + 1] = 0xD5
            break
    with pytest.raises(ValueError, match="expected RST0"):
        decode_jpeg(bytes(enc))


def test_jpeg_dri_predictor_reset_is_load_bearing():
    """An independent writer that emits RSTm markers but does NOT reset
    its DC predictors produces different decoded pixels — proving the
    decoder's per-interval reset actually changes the interpretation
    (i.e. the reset path is exercised, not dead code)."""
    from spark_kafka_realm_time_data_pipeline_spark.operators import (
        multimodal as M,
    )

    payload = b"predictor reset proof"  # n=21: bw=3, bh=1 -> 3 blocks
    good = M.encode_jpeg(payload, restart_interval=1)

    # re-encode by hand WITHOUT predictor resets at restart boundaries
    n = len(payload)
    bw = M.JPEG_WB_BASE + n % M.JPEG_WB_MOD
    bh = M.JPEG_HB_BASE + n % M.JPEG_HB_MOD
    sos_at = good.index(b"\xff\xda")
    head = good[: sos_at + 10]  # headers + the 10-byte SOS segment
    bits = M._BitWriter()
    pred = 0
    for k in range(bw * bh):
        if k:
            M._emit_restart(bits, k - 1)
            # deliberately NOT resetting pred
        dc = (payload[k % n] - 128) * 8
        diff = dc - pred
        pred = dc
        s = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, length = M._DC_ENC[s]
        bits.write(code, length)
        if s:
            v = diff if diff > 0 else diff + (1 << s) - 1
            bits.write(v, s)
        eob_code, eob_len = M._AC_ENC[0x00]
        bits.write(eob_code, eob_len)
    bad = head + bits.flush() + b"\xff\xd9"

    w, h, good_px = M.decode_jpeg(good)
    w2, h2, bad_px = M.decode_jpeg(bad)
    assert (w, h) == (w2, h2)
    assert good_px != bad_px


def test_jpeg_decode_skips_fill_bytes_before_marker():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker;
    a conforming writer that pads must still decode."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    good = encode_jpeg(b"fill-byte-case")
    base_w, base_h, base_raster = decode_jpeg(good)
    # pad the first marker after SOI with fill bytes: ...FFD8 FFFF FF<mk>...
    padded = good[:2] + b"\xff\xff" + good[2:]
    w, h, raster = decode_jpeg(padded)
    assert (w, h, raster) == (base_w, base_h, base_raster)


def test_jpeg_decode_parses_16bit_quant_table():
    """Pq=1 DQT (16-bit entries) from an external writer must parse; the
    unit values keep the round trip exact."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
        encode_jpeg,
    )

    good = encode_jpeg(b"xyz")
    old_dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)
    new_dqt = (
        b"\xff\xdb" + struct.pack(">H", 131) + b"\x10"  # Pq=1 (16-bit), Tq=0
        + struct.pack(">64H", *([1] * 64))
    )
    assert old_dqt in good
    w, h, raster = decode_jpeg(good.replace(old_dqt, new_dqt, 1))
    w0, h0, raster0 = decode_jpeg(good)
    assert (w, h, raster) == (w0, h0, raster0)


# --- JPEG (baseline 4:2:0 color) -----------------------------------------------


def test_jpeg_color_roundtrip_matches_analytic_replay():
    """Color encode->decode is bit-exact: per-channel sums equal the
    analytic replay (cycled quadrant Y + MCU chroma through the
    fixed-point conversion), across geometry residues and the empty
    payload."""
    import numpy as np

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_color,
    )

    for n in [0, 1, 2, 5, 6, 7, 11, 254, 255, 256]:
        data = bytes((7 * j + 250) % 256 for j in range(n))
        w, h, rgb = decode_jpeg_color(encode_jpeg_color(data))
        arr = np.frombuffer(rgb, np.uint8).reshape(h, w, 3).astype(np.int64)
        got = (
            w,
            h,
            int(arr[..., 0].sum()),
            int(arr[..., 1].sum()),
            int(arr[..., 2].sum()),
        )
        assert got == _jpeg_color_analytic_sums(data), n


def test_jpeg_color_quadrant_placement_and_chroma_constancy():
    """Pins the MCU layout, not just the sums: quadrant j of MCU m is the
    8x8 region at (16*my + 8*(j//2), 16*mx + 8*(j%2)) carrying the cycled
    byte as Y, and the upsampled chroma is constant across each MCU."""
    import numpy as np

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        JPEG_MH_BASE,
        JPEG_MH_MOD,
        JPEG_MW_BASE,
        JPEG_MW_MOD,
        _ycbcr_to_rgb_fixed,
        decode_jpeg_color,
        encode_jpeg_color,
    )

    data = bytes([10, 60, 110, 160, 210, 40, 90])  # n=7 -> mw=2, mh=2
    n = len(data)
    mw = JPEG_MW_BASE + n % JPEG_MW_MOD
    mh = JPEG_MH_BASE + n % JPEG_MH_MOD
    w, h, rgb = decode_jpeg_color(encode_jpeg_color(data))
    arr = np.frombuffer(rgb, np.uint8).reshape(h, w, 3).astype(np.int64)
    for m in range(mw * mh):
        my, mx = divmod(m, mw)
        cb, cr = data[m % n], data[(m + 1) % n]
        for j in range(4):
            yv = data[(4 * m + j) % n]
            r, g, b = _ycbcr_to_rgb_fixed(
                np.int64(yv), np.int64(cb), np.int64(cr), np
            )
            ry, rx = my * 16 + (j // 2) * 8, mx * 16 + (j % 2) * 8
            quad = arr[ry : ry + 8, rx : rx + 8]
            assert (quad == np.array([r, g, b])).all(), (m, j)


def test_jpeg_color_decode_rejects_unrepresentable_sampling():
    """Sampling factors outside {1, 2} (here Y 3x1) must raise with the
    factors named, not decode with the wrong MCU geometry.  (Layouts
    WITHIN {1,2} — 4:4:4, 4:2:2, 4:4:0, even chroma-denser-than-luma —
    decode since the r15 generalization; see the layout round-trip
    test.)"""
    import pytest

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_color,
    )

    good = encode_jpeg_color(b"xyz")
    # SOF0 component 1 entry: id=1, HV=0x22, Tq=0 -> flip HV to 0x31
    bad = good.replace(bytes([1, 0x22, 0]), bytes([1, 0x31, 0]), 1)
    with pytest.raises(ValueError, match="sampling layout"):
        decode_jpeg_color(bad)


def _jpeg_color_analytic_sums(data: bytes) -> tuple[int, int, int, int, int]:
    """Analytic replay of the color round trip (the DuckDB oracle's law):
    (width, height, r_sum, g_sum, b_sum) from the cycled quadrant bytes
    through the fixed-point conversion."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        JPEG_MH_BASE,
        JPEG_MH_MOD,
        JPEG_MW_BASE,
        JPEG_MW_MOD,
        _FIX_B_CB,
        _FIX_BIAS,
        _FIX_G_CB,
        _FIX_G_CR,
        _FIX_R_CR,
    )

    n = len(data)
    mw = JPEG_MW_BASE + n % JPEG_MW_MOD
    mh = JPEG_MH_BASE + n % JPEG_MH_MOD
    rs = gs = bs = 0
    for q in range(4 * mw * mh):
        m = q // 4
        yv = data[q % n] if n else 0
        cb = data[m % n] if n else 128
        cr = data[(m + 1) % n] if n else 128
        radj = (_FIX_R_CR * (cr - 128) + 32768 + _FIX_BIAS) // 65536 - 256
        gadj = (
            _FIX_G_CB * (cb - 128) + _FIX_G_CR * (cr - 128) + 32768 + _FIX_BIAS
        ) // 65536 - 256
        badj = (_FIX_B_CB * (cb - 128) + 32768 + _FIX_BIAS) // 65536 - 256
        rs += 64 * max(0, min(255, yv + radj))
        gs += 64 * max(0, min(255, yv - gadj))
        bs += 64 * max(0, min(255, yv + badj))
    return 16 * mw, 16 * mh, rs, gs, bs


def test_jpeg_color_roundtrip_property():
    """Hypothesis sweep: ANY payload byte string round-trips bit-exactly
    through the color codec (encoder byte-stuffing, chroma DC predictors
    crossing 0xFF boundaries, clamp saturation at both ends)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_color,
        encode_jpeg_color,
    )

    @settings(max_examples=60, deadline=None)
    @given(st.binary(min_size=0, max_size=300))
    def inner(data):
        w, h, rgb = decode_jpeg_color(encode_jpeg_color(data))
        arr = np.frombuffer(rgb, np.uint8).reshape(h, w, 3).astype(np.int64)
        got = (
            w,
            h,
            int(arr[..., 0].sum()),
            int(arr[..., 1].sum()),
            int(arr[..., 2].sum()),
        )
        assert got == _jpeg_color_analytic_sums(data)

    inner()


def test_decode_image_routes_jpeg_by_component_count():
    """decode_image must route a 3-component JPEG to the color decoder and
    a 1-component one to grayscale (the SOF0 peek), matching the direct
    calls byte-for-byte."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
        decode_jpeg_color,
        encode_jpeg,
        encode_jpeg_color,
    )

    gray = encode_jpeg(b"route-me")
    color = encode_jpeg_color(b"route-me")
    assert decode_image(gray) == decode_jpeg(gray)
    assert decode_image(color) == decode_jpeg_color(color)


def test_jpeg_color_decoder_handles_chroma_ac_from_independent_writer():
    """Independent-writer test for the COLOR-specific half: a hand-packed
    1-MCU 4:2:0 scan where Cb carries a nonzero horizontal AC coefficient.
    Pins the interleave order (4 Y then Cb then Cr), the per-component DC
    predictor chains, the chroma upsample geometry (each chroma sample
    must color a 2x2 pixel block), and the fixed-point conversion —
    against the from-the-formula IDCT."""
    import numpy as np

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        _AC_ENC,
        _DC_ENC,
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _ycbcr_to_rgb_fixed,
        decode_jpeg_color,
    )

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    class Bits:
        def __init__(self):
            self.s = ""

        def put(self, value, length):
            self.s += format(value, f"0{length}b") if length else ""

        def bytes_(self):
            s = self.s + "1" * (-len(self.s) % 8)
            out = bytearray()
            for i in range(0, len(s), 8):
                b = int(s[i : i + 8], 2)
                out.append(b)
                if b == 0xFF:
                    out.append(0x00)
            return bytes(out)

    def put_dc(bits, dc, pred):
        diff = dc - pred
        s = diff.bit_length() if diff > 0 else (-diff).bit_length()
        code, ln = _DC_ENC[s]
        bits.put(code, ln)
        if s:
            bits.put(diff if diff > 0 else diff + (1 << s) - 1, s)
        return dc

    def put_eob(bits):
        code, ln = _AC_ENC[0x00]
        bits.put(code, ln)

    # pixel-value plan (unit quant: DC coefficient = (v - 128) * 8)
    yvals = [16, 48, 96, 160]  # one per Y quadrant
    cb_dc, cb_ac1 = (140 - 128) * 8, 24  # Cb: DC + horizontal AC
    cr_dc = (120 - 128) * 8  # Cr: DC-only constant 120

    bits = Bits()
    pred = 0
    for v in yvals:  # 4 Y data units, one predictor chain
        pred = put_dc(bits, (v - 128) * 8, pred)
        put_eob(bits)
    put_dc(bits, cb_dc, 0)  # Cb predictor chain starts at 0
    code, ln = _AC_ENC[0x05]  # run 0, size 5 (24 = 0b11000)
    bits.put(code, ln)
    bits.put(cb_ac1, 5)
    put_eob(bits)
    put_dc(bits, cr_dc, 0)  # Cr predictor chain starts at 0
    put_eob(bits)

    jpeg = (
        b"\xff\xd8"
        + seg(0xFFDB, b"\x00" + bytes([1] * 64))
        + seg(0xFFDB, b"\x01" + bytes([1] * 64))
        + seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 16, 16, 3)
            + bytes([1, 0x22, 0])
            + bytes([2, 0x11, 1])
            + bytes([3, 0x11, 1]),
        )
        + seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(0xFFC4, b"\x10" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + seg(0xFFC4, b"\x01" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
        + seg(0xFFC4, b"\x11" + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
        + seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
        + bits.bytes_()
        + b"\xff\xd9"
    )
    w, h, rgb = decode_jpeg_color(jpeg)
    assert (w, h) == (16, 16)
    arr = np.frombuffer(rgb, np.uint8).reshape(16, 16, 3)

    # expected chroma planes from the independent IDCT
    cb_coef = [[0] * 8 for _ in range(8)]
    cb_coef[0][0], cb_coef[0][1] = cb_dc, cb_ac1  # zigzag 0 and 1
    cb_plane = _independent_idct(cb_coef)
    assert any(cb_plane[0][x] != cb_plane[0][0] for x in range(8))  # AC alive
    for y in range(16):
        for x in range(16):
            yv = yvals[(y // 8) * 2 + (x // 8)]
            cb = cb_plane[y // 2][x // 2]  # 2x nearest upsample
            r, g, b = _ycbcr_to_rgb_fixed(
                np.int64(yv), np.int64(cb), np.int64(120), np
            )
            assert tuple(arr[y, x]) == (int(r), int(g), int(b)), (y, x)


def test_decode_image_routes_progressive_gray_and_color():
    """decode_image routes SOF2 to the progressive decoder for both
    grayscale and 4:2:0 color (r15); a baseline-color stream with its
    SOF flipped to SOF2 is structurally a baseline scan, so the
    progressive scan-layout check rejects it by name."""
    import pytest

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_image,
        decode_jpeg,
        decode_jpeg_color,
        encode_jpeg,
        encode_jpeg_color,
        encode_jpeg_progressive,
        encode_jpeg_progressive_color,
    )

    assert decode_image(encode_jpeg_progressive(b"sof2")) == decode_jpeg(
        encode_jpeg(b"sof2")
    )
    assert decode_image(
        encode_jpeg_progressive_color(b"sof2")
    ) == decode_jpeg_color(encode_jpeg_color(b"sof2"))
    # a LYING stream: baseline color scan behind an SOF2 marker — its
    # single interleaved FULL-BAND SOS is illegal in progressive mode
    # (interleaved scans must be DC-only, T.81 G.1.1)
    fake = encode_jpeg_color(b"sof2").replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="Se=0"):
        decode_image(fake)


def test_jpeg_progressive_color_roundtrip_matches_baseline():
    """Progressive 4:2:0 color streams decode to byte-identical RGB as
    the baseline color encode of the same payload: interleaved DC
    first+refine with per-component predictors, then per-component AC
    band scans (two for Y on odd lengths).  Restart intervals segment
    the interleaved scans per-MCU and the AC scans per-block."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_progressive,
        encode_jpeg_color,
        encode_jpeg_progressive_color,
    )

    for payload in (b"", b"a", b"ab", b"color scans", bytes(range(256))):
        base = decode_jpeg_color(encode_jpeg_color(payload))
        assert (
            decode_jpeg_progressive(encode_jpeg_progressive_color(payload))
            == base
        )
        for interval in (1, 2):
            assert (
                decode_jpeg_progressive(
                    encode_jpeg_progressive_color(
                        payload, restart_interval=interval
                    )
                )
                == base
            )
    enc = encode_jpeg_progressive_color(b"abc")  # odd n: split Y band
    n_scans = sum(
        1 for i in range(len(enc) - 1) if enc[i] == 0xFF and enc[i + 1] == 0xDA
    )
    assert enc.count(b"\xff\xc2") == 1 and n_scans == 6
    assert encode_jpeg_progressive_color(b"ab").count(b"\xff\xda") == 5


def test_jpeg_progressive_color_roundtrip_property():
    """Hypothesis sweep: progressive color and baseline color encodes of
    the same payload decode to identical RGB rasters."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_color,
        decode_jpeg_progressive,
        encode_jpeg_color,
        encode_jpeg_progressive_color,
    )

    @settings(max_examples=20, deadline=None)
    @given(st.binary(min_size=0, max_size=300))
    def check(payload):
        assert decode_jpeg_progressive(
            encode_jpeg_progressive_color(payload)
        ) == decode_jpeg_color(encode_jpeg_color(payload))

    check()


def test_jpeg_segment_walk_raises_valueerror_on_truncated_header():
    """A payload truncated inside a segment length field (after fill
    bytes) must raise the decoders' documented ValueError, not a raw
    struct.error."""
    import pytest

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg,
    )

    with pytest.raises(ValueError, match="truncated segment header"):
        decode_jpeg(b"\xff\xd8\xff\xff\xff\xc4")


def test_jpeg_progressive_counted_scans_are_measured():
    """r16 (per ADVICE): n_scans comes from the scans the decoder
    actually consumed, not the encoder's analytic formula.  The encoded
    streams' counts still match the spectral split (gray 3 + n%2, color
    5 + n%2), and a hand-built stream with a NON-formula scan count
    (one DC scan + one AC scan = 2) reports what was consumed."""
    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        _DC_ENC,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        decode_jpeg_progressive_counted,
        encode_jpeg_progressive,
        encode_jpeg_progressive_color,
    )

    for payload, expect in ((b"even", 3), (b"odd..", 4), (b"", 3)):
        *_rest, n_scans = decode_jpeg_progressive_counted(
            encode_jpeg_progressive(payload)
        )
        assert n_scans == expect
    for payload, expect in ((b"even", 5), (b"odd..", 6)):
        *_rest, n_scans = decode_jpeg_progressive_counted(
            encode_jpeg_progressive_color(payload)
        )
        assert n_scans == expect

    # hand-built 8x8 stream: DC first (Al=0) then one empty AC scan — a
    # 2-scan layout no encoder formula produces
    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    ac_bits = [0] * 16
    ac_bits[0] = 1  # single 1-bit code: EOB0
    stream = bytearray()
    stream += b"\xff\xd8"
    stream += seg(0xFFDB, b"\x00" + bytes([1] * 64))
    stream += seg(0xFFC2, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    stream += seg(0xFFC4, b"\x00" + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS))
    stream += seg(0xFFC4, b"\x10" + bytes(ac_bits) + bytes((0x00,)))
    stream += seg(0xFFDA, bytes([1, 1, 0x00, 0, 0, 0x00]))
    code, ln = _DC_ENC[0]  # diff 0: size-0 symbol only
    stream += bytes([int(format(code, f"0{ln}b").ljust(8, "1"), 2)])
    stream += seg(0xFFDA, bytes([1, 1, 0x00, 1, 63, 0x00]))
    stream += bytes([0b01111111])  # EOB0 is code '0'; 1-pad fills the byte
    w, h, raster, n_scans = decode_jpeg_progressive_counted(
        bytes(stream) + b"\xff\xd9"
    )
    assert (w, h, n_scans) == (8, 8, 2)
    assert raster == bytes([128]) * 64


def test_jpeg_progressive_undefined_huffman_table_raises_named_error():
    """r16 (per ADVICE): a scan referencing an untransmitted Huffman
    table slot raises the decoder's named ValueError, not an
    AttributeError out of read_huff(None)."""
    import pytest

    from spark_kafka_realm_time_data_pipeline_spark.operators.multimodal import (
        decode_jpeg_progressive,
        encode_jpeg_progressive,
    )

    stream = bytearray(encode_jpeg_progressive(b"abc"))

    def sos_offsets(buf):
        out, i = [], 0
        while True:
            j = buf.find(b"\xff\xda", i)
            if j < 0:
                return out
            out.append(j)
            i = j + 2

    # first SOS is the DC first pass: Td lives in the high nibble of the
    # table byte at offset +6 (FFDA len2 ns cid tt)
    dc_bad = bytearray(stream)
    dc_bad[sos_offsets(dc_bad)[0] + 6] = 0x20  # Td=2: never transmitted
    with pytest.raises(ValueError, match="undefined DC Huffman table 2"):
        decode_jpeg_progressive(bytes(dc_bad))
    # third SOS is the first AC band scan: Ta is the low nibble
    ac_bad = bytearray(stream)
    ac_bad[sos_offsets(ac_bad)[2] + 6] = 0x03  # Ta=3: never transmitted
    with pytest.raises(ValueError, match="undefined AC Huffman table 3"):
        decode_jpeg_progressive(bytes(ac_bad))


def test_jpeg_sampling_feature_batch_matches_analytic_law():
    """The non-4:2:0 registry batch (4:2:2 / 4:4:0 / 4:4:4 cycled by
    (n // 3) % 3) reproduces the analytic content law: per MCU, Y unit j
    carries data[(nY*m + j) % n], chroma is data[m % n]/data[(m+1) % n],
    and every channel sum is 64 * the fixed-point conversion — the same
    replay the DuckDB oracle runs."""
    import numpy as np
    import pandas as pd

    from spark_kafka_realm_time_data_pipeline_spark.operators import (
        multimodal as M,
    )

    payloads = [b"", b"x", b"ab", b"abc", b"abcd", b"quartz!", bytes(range(97))]
    pdf = pd.DataFrame(
        {"doc_id": list(range(len(payloads))), "payload": payloads}
    )
    got = M._feature_batch(pdf, M.SAMPLING_SCHEMA, M._jpeg_sampling_row)
    for i, payload in enumerate(payloads):
        n = len(payload)
        name, ((h1, v1), _, _) = M._JPEG_SAMPLING_CYCLE[(n // 3) % 3]
        mw = M.JPEG_MW_BASE + n % M.JPEG_MW_MOD
        mh = M.JPEG_MH_BASE + n % M.JPEG_MH_MOD
        ny = h1 * v1
        sums = np.zeros(3, np.int64)
        for m in range(mw * mh):
            cb = np.int64(payload[m % n] if n else 128)
            cr = np.int64(payload[(m + 1) % n] if n else 128)
            for j in range(ny):
                y = np.int64(payload[(ny * m + j) % n] if n else 0)
                r, g, b = M._ycbcr_to_rgb_fixed(y, cb, cr, np)
                sums += 64 * np.array([r, g, b], np.int64)
        row = got.iloc[i]
        assert row["sampling"] == name
        assert (row["width"], row["height"]) == (8 * h1 * mw, 8 * v1 * mh)
        assert row["n_pixels"] == row["width"] * row["height"]
        assert (row["r_sum"], row["g_sum"], row["b_sum"]) == tuple(sums)


# The nine feature queries: (registry name, row function, schema, encoder
# the row function calls by name).
FEATURE_QUERIES = [
    ("multimodal_features", "_bmp_row", "FEATURE_SCHEMA", "encode_bmp"),
    ("multimodal_png_stats", "_png_row", "FEATURE_SCHEMA", "encode_png"),
    ("multimodal_jpeg_stats", "_jpeg_row", "FEATURE_SCHEMA", "encode_jpeg"),
    ("multimodal_jpeg_color", "_jpeg_color_row", "COLOR_SCHEMA",
     "encode_jpeg_color"),
    ("multimodal_jpeg_progressive", "_jpeg_progressive_row", "PROG_SCHEMA",
     "encode_jpeg_progressive"),
    ("multimodal_jpeg_progressive_color", "_jpeg_progressive_color_row",
     "PROG_COLOR_SCHEMA", "encode_jpeg_progressive_color"),
    ("multimodal_jpeg_dri", "_jpeg_dri_row", "DRI_SCHEMA", "encode_jpeg_color"),
    ("multimodal_jpeg_sampling", "_jpeg_sampling_row", "SAMPLING_SCHEMA",
     "encode_jpeg_color"),
    ("multimodal_audio", "_wav_row", "AUDIO_SCHEMA", "encode_wav"),
]


@pytest.mark.parametrize(
    "row_name,schema_name", [(r, s) for _, r, s, _ in FEATURE_QUERIES]
)
def test_feature_batch_columns_and_dtypes_follow_the_ddl(row_name, schema_name):
    """_feature_batch derives every column's pandas dtype from the Spark
    DDL (long -> int64, int -> int32, string -> object), for an empty
    batch as well as for null / empty payloads."""
    import pandas as pd

    from spark_kafka_realm_time_data_pipeline_spark.operators import (
        multimodal as M,
    )

    schema, row_fn = getattr(M, schema_name), getattr(M, row_name)
    ddl = [col.split() for col in schema.split(",")]
    want_dtypes = {"long": "int64", "int": "int32", "string": "object"}
    empty = pd.DataFrame(
        {"doc_id": pd.Series([], dtype="int64"), "payload": pd.Series([], dtype=object)}
    )
    nullish = pd.DataFrame({"doc_id": [7, 8], "payload": [None, b""]})
    for pdf in (empty, nullish):
        got = M._feature_batch(pdf, schema, row_fn)
        assert list(got.columns) == [name for name, _ in ddl]
        assert [str(t) for t in got.dtypes] == [want_dtypes[t] for _, t in ddl]
        assert len(got) == len(pdf)
    # a null payload decodes exactly like an empty one
    assert got.iloc[0].drop("doc_id").tolist() == got.iloc[1].drop("doc_id").tolist()
    assert got["doc_id"].tolist() == [7, 8]


@pytest.mark.parametrize(
    "query,encoder", [(q, e) for q, _, _, e in FEATURE_QUERIES]
)
def test_encoder_swap_flips_feature_query_fingerprint(monkeypatch, query, encoder):
    """The proof-freshness gate must see codec edits behind the shared
    batch builder: the query reaches its row function by name, so
    swapping that format's encoder on the module changes the query's
    closure fingerprint.  A dict or tuple table of row functions would
    hide the codec from tools/closure_fp.py and fail this test."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from closure_fp import closure_fingerprint

    from spark_kafka_realm_time_data_pipeline_spark.operators import (
        multimodal as M,
    )
    from spark_kafka_realm_time_data_pipeline_spark.queries import registry

    spec = registry()[query]
    before = closure_fingerprint(spec.fn, spec.oracle)
    monkeypatch.setattr(M, encoder, lambda data, **kw: data)
    assert closure_fingerprint(spec.fn, spec.oracle) != before
