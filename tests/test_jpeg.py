"""The r9 lossy-codec tier is REAL: baseline JPEG implemented from the
ITU T.81 spec. Three independent locks:

1. The BITSTREAM layer equals the pure-math model — decode(encode(px))
   reproduces quant->dequant->IDCT exactly for arbitrary random images
   (separates Huffman/container bugs from transform bugs).
2. The ANALYTIC ORACLE formula equals the general pipeline over the
   ENTIRE synth parameter space (192 base values x 32 steps) — the
   theorem the graded oracle rests on, brute-forced.
3. The decoder reads FOREIGN containers: a hand-assembled JPEG with a
   DIFFERENT quant table and DIFFERENT Huffman code lengths than our
   encoder ever writes, with the expected reconstruction hand-computed
   from the fixed-point formulas. Corrupt/unsupported payloads raise.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ds_mapreduce_spark.operators.jpeg import (
    _QT_NP,
    _fdct_blocks,
    _idct_blocks,
    _quantize,
    DCT_STEP,
    DCT_T,
    JPEG_QT,
    encode_jpeg_bytes,
    encode_jpeg_color_bytes,
    parse_jpeg,
)


def _reference_model(px: bytes, w: int, h: int) -> bytes:
    """quant->dequant->IDCT with no container/entropy layer."""
    arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64).reshape(h, w)
    bw, bh = w // 8, h // 8
    blocks = (
        arr.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128
    )
    q = _quantize(_fdct_blocks(blocks))
    rec = np.clip(_idct_blocks(q * _QT_NP) + 128, 0, 255)
    return (
        rec.reshape(bh, bw, 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(h, w)
        .astype(np.uint8)
        .tobytes()
    )


def test_bitstream_equals_math_model_on_random_images():
    rng = np.random.RandomState(7)
    for _ in range(10):
        w, h = 8 * rng.randint(1, 5), 8 * rng.randint(1, 5)
        px = rng.randint(0, 256, size=w * h).astype(np.uint8).tobytes()
        w2, h2, out = parse_jpeg(encode_jpeg_bytes(px, w, h))
        assert (w2, h2) == (w, h)
        assert out == _reference_model(px, w, h)
        # lossy sanity: the reconstruction tracks the original
        err = np.abs(
            np.frombuffer(out, np.uint8).astype(int)
            - np.frombuffer(px, np.uint8).astype(int)
        )
        assert err.mean() < 48


def _da(x: int, m: int = 8192) -> int:
    """half-away-from-zero round of x/m (the codec's DESCALE)."""
    return (2 * abs(x) + m) // (2 * m) * (1 if x >= 0 else -1)


def test_analytic_formula_equals_pipeline_over_full_parameter_space():
    """The oracle's closed form == the general fixed-point pipeline for
    EVERY (v0, d) the synth can produce — 6144 block variants. This is
    the theorem that lets a LOSSY codec be graded bit-exactly."""
    t00 = DCT_T[0][0]
    for v0 in range(32, 224):
        for d in range(-16, 16):
            c = v0 - 128
            s = np.full((8, 8), c, dtype=np.int64)
            s[:, :4] += d
            s[:, 4:] -= d
            q = _quantize(_fdct_blocks(s[None]))[0]
            # exactly 5 coefficient slots may be nonzero
            mask = np.zeros((8, 8), bool)
            mask[0, [0, 1, 3, 5, 7]] = True
            assert not np.any(q[~mask]), (v0, d)
            rec = np.clip(_idct_blocks((q * _QT_NP)[None])[0] + 128, 0, 255)
            assert np.all(rec == rec[0])  # rows identical by construction
            # analytic closed form (mirrors plans/multimodal_queries.py)
            g0 = _da(8 * c * t00)
            dc = _da(8 * g0 * t00)
            r0 = _da(dc, JPEG_QT[0][0]) * JPEG_QT[0][0]
            h0 = _da(r0 * t00)
            hs = {}
            for u in (1, 3, 5, 7):
                gu = _da(d * DCT_STEP[u])
                cu = _da(8 * gu * t00)
                ru = _da(cu, JPEG_QT[0][u]) * JPEG_QT[0][u]
                hs[u] = _da(ru * t00)
            for x in range(8):
                acc = h0 * t00 + sum(hs[u] * DCT_T[u][x] for u in (1, 3, 5, 7))
                vr = max(0, min(255, _da(acc) + 128))
                assert rec[0, x] == vr, (v0, d, x)


def test_generalized_sum_diff_closed_form_both_quant_rows():
    """The color oracle's coefficient layer: for ARBITRARY left/right
    block values (a, b) — not just the symmetric c+-d grayscale synth —
    the transform still yields exactly DC + 4 odd-u coefficients, and
    the (sum, diff) closed form reproduces them for BOTH Annex K quant
    rows. Brute-forced over all 65536 (a, b) pairs."""
    from ds_mapreduce_spark.operators.jpeg import (
        _QTC_NP,
        JPEG_QT_CHROMA,
    )

    t00 = DCT_T[0][0]
    hstep = {u: DCT_STEP[u] // 2 for u in (1, 3, 5, 7)}
    assert all(DCT_STEP[u] % 2 == 0 for u in hstep)

    def da(x, m):
        x = np.asarray(x, dtype=np.int64)
        return np.sign(x) * ((2 * np.abs(x) + m) // (2 * m))

    A, B = np.meshgrid(np.arange(-128, 128), np.arange(-128, 128), indexing="ij")
    a, b = A.ravel(), B.ravel()
    blocks = np.zeros((len(a), 8, 8), dtype=np.int64)
    blocks[:, :, :4] = a[:, None, None]
    blocks[:, :, 4:] = b[:, None, None]
    coeffs = _fdct_blocks(blocks)
    mask = np.zeros((8, 8), bool)
    mask[0, [0, 1, 3, 5, 7]] = True
    assert not coeffs[:, ~mask].any()
    g0 = da(4 * (a + b) * t00, 8192)
    assert np.array_equal(coeffs[:, 0, 0], da(8 * g0 * t00, 8192))
    for u in (1, 3, 5, 7):
        eu = da((a - b) * hstep[u], 8192)
        assert np.array_equal(coeffs[:, 0, u], da(8 * eu * t00, 8192))
    # quantize + reconstruct per x, both quant rows, full closed form
    for qrow_np, qrow in ((_QT_NP, None), (_QTC_NP, JPEG_QT_CHROMA)):
        row = [int(qrow_np[0, u]) for u in range(8)]
        q = np.sign(coeffs) * ((2 * np.abs(coeffs) + qrow_np) // (2 * qrow_np))
        rec = np.clip(_idct_blocks(q * qrow_np) + 128, 0, 255)
        h0 = da(da(coeffs[:, 0, 0], row[0]) * row[0] * t00, 8192)
        hs = {
            u: da(da(coeffs[:, 0, u], row[u]) * row[u] * t00, 8192)
            for u in (1, 3, 5, 7)
        }
        for x in range(8):
            acc = h0 * t00 + sum(hs[u] * DCT_T[u][x] for u in (1, 3, 5, 7))
            vr = np.clip(da(acc, 8192) + 128, 0, 255)
            assert np.array_equal(rec[:, 0, x], vr), x


def test_color_roundtrip_equals_model_and_gray_is_exact():
    """The COLOR bitstream layer (3-component interleaved MCUs,
    per-component predictors, both quant tables) equals the pure-math
    model; a constant-gray image survives the whole lossy color chain
    EXACTLY (transform rows sum to 256/0, DC of gray quantizes
    losslessly here)."""
    from ds_mapreduce_spark.operators.jpeg import (
        _QTC_NP,
        encode_jpeg_color_bytes,
        rgb_to_ycc,
        ycc_to_rgb,
    )

    rng = np.random.RandomState(29)
    for _ in range(5):
        w, h = 8 * rng.randint(1, 4), 8 * rng.randint(1, 4)
        rgb = rng.randint(0, 256, w * h * 3).astype(np.uint8)
        w2, h2, out = parse_jpeg(encode_jpeg_color_bytes(rgb.tobytes(), w, h))
        assert (w2, h2) == (w, h) and len(out) == w * h * 3
        arr = rgb.astype(np.int64)
        planes = rgb_to_ycc(arr[0::3], arr[1::3], arr[2::3])
        bw, bh = w // 8, h // 8
        recs = []
        for i, p in enumerate(planes):
            qt = _QT_NP if i == 0 else _QTC_NP
            blocks = (
                p.reshape(h, w).reshape(bh, 8, bw, 8)
                .transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128
            )
            q = _quantize(_fdct_blocks(blocks), qt)
            rec = np.clip(_idct_blocks(q * qt) + 128, 0, 255)
            recs.append(
                rec.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(h, w)
            )
        r, g, b = ycc_to_rgb(recs[0], recs[1], recs[2])
        assert out == np.stack([r, g, b], axis=-1).astype(np.uint8).tobytes()
    gray = np.full(8 * 8 * 3, 128, np.uint8)
    _, _, out = parse_jpeg(encode_jpeg_color_bytes(gray.tobytes(), 8, 8))
    assert set(out) == {128}


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _hand_built_jpeg() -> tuple[bytes, int]:
    """An 8x8 grayscale baseline JPEG assembled byte-by-byte from the
    spec — NOT via our encoder. Deliberately different tables:

    - quant table Q[0][0] = 10 (ours is 16), other entries arbitrary;
      written in ZIGZAG order as the spec requires;
    - DC Huffman: ONE code, length 1 ('0'), for category 4;
      AC Huffman: ONE code, length 1 ('0'), for EOB — nothing like our
      flat 4/8-bit tables, so decoding proves DHT is actually read.

    Scan: DC code '0' + magnitude 1010 (diff=+10), then EOB '0':
    bits 0 1010 0 + pad 11 -> 0x53. Reconstruction, hand-computed with
    the fixed-point formulas: R = 10*10 = 100;
    g = round(100*2896/8192) = 35; f = round(35*2896/8192) = 12;
    pixel = 12 + 128 = 140 everywhere.
    """
    qt = [10] + [16] * 63  # zigzag order; first entry is Q[0][0]
    dht = (
        b"\x00"  # DC table 0
        + bytes([1] + [0] * 15)  # one code of length 1
        + bytes([4])  # -> category 4
        + b"\x10"  # AC table 0
        + bytes([1] + [0] * 15)
        + bytes([0x00])  # -> EOB
    )
    payload = (
        b"\xff\xd8"
        + _seg(0xFFDB, b"\x00" + bytes(qt))
        + _seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")
        + _seg(0xFFC4, dht)
        + _seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")
        + bytes([0x53])
        + b"\xff\xd9"
    )
    return payload, 140


def test_decoder_reads_foreign_containers():
    payload, expected = _hand_built_jpeg()
    w, h, px = parse_jpeg(payload)
    assert (w, h) == (8, 8)
    assert list(px) == [expected] * 64


def test_decode_features_on_foreign_container(spark):
    from ds_mapreduce_spark.operators.jpeg import decode_jpeg_features

    payload, expected = _hand_built_jpeg()
    df = spark.createDataFrame(
        [(17, bytearray(payload))], "doc_id bigint, payload binary"
    )
    row = decode_jpeg_features(df).first()
    assert (row["width"], row["height"], row["n_blocks"]) == (8, 8, 1)
    assert row["sum_v"] == 64 * expected
    assert row["sum_sq"] == 64 * expected * expected


def test_encoder_output_is_a_standard_jfif_file():
    px = bytes((5 * i + 11) % 256 for i in range(16 * 8))
    payload = encode_jpeg_bytes(px, 16, 8)
    assert payload.startswith(b"\xff\xd8")  # SOI
    assert payload.endswith(b"\xff\xd9")  # EOI
    assert b"JFIF\x00" in payload[:30]  # APP0 identifier
    assert b"\xff\xc0" in payload  # baseline SOF0, not progressive


def test_corrupt_and_unsupported_fail_loudly():
    payload, _ = _hand_built_jpeg()
    # progressive SOF2 instead of SOF0
    prog = payload.replace(b"\xff\xc0", b"\xff\xc2")
    with pytest.raises(ValueError, match="non-baseline"):
        parse_jpeg(prog)
    # truncated scan: chop the entropy byte and EOI
    with pytest.raises(ValueError, match="truncated"):
        parse_jpeg(payload[:-3])
    # not a JPEG at all
    with pytest.raises(ValueError, match="SOI"):
        parse_jpeg(b"\x89PNG\r\n\x1a\n nope")
    # 4:2:0-subsampled color frame (hv 0x22): unsupported subset
    subsampled = payload.replace(
        _seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00"),
        _seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 8, 8, 3)
            + b"\x01\x22\x00\x02\x11\x01\x03\x11\x01",
        ),
    )
    with pytest.raises(ValueError, match="subsampling"):
        parse_jpeg(subsampled)
    # 2-component frame: neither grayscale nor YCbCr
    twocomp = payload.replace(
        _seg(0xFFC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00"),
        _seg(
            0xFFC0,
            struct.pack(">BHHB", 8, 8, 8, 2) + b"\x01\x11\x00\x02\x11\x00",
        ),
    )
    with pytest.raises(ValueError, match="component"):
        parse_jpeg(twocomp)
    # 16-bit quant table
    deep = payload.replace(b"\xff\xdb\x00\x43\x00", b"\xff\xdb\x00\x43\x10")
    with pytest.raises(ValueError, match="16-bit"):
        parse_jpeg(deep)
    # a DRI promising restarts the scan doesn't contain: the decoder
    # must fail at the missing RST0, not silently misdecode (needs a
    # 2-MCU image — restarts only occur BETWEEN MCUs)
    two_mcu = encode_jpeg_bytes(bytes(range(128)), 16, 8)
    dri = two_mcu[:2] + _seg(0xFFDD, b"\x00\x01") + two_mcu[2:]
    with pytest.raises(ValueError, match="RST|restart|marker"):
        parse_jpeg(dri)
    # invalid Huffman code: flip the scan byte so the first bit is 1,
    # which no code in the hand-built DC table starts with
    bad_scan = payload[:-3] + bytes([0xD3]) + payload[-2:]
    with pytest.raises(ValueError, match="Huffman|truncated|marker"):
        parse_jpeg(bad_scan)


def test_dc_table_symbol_above_category_11_is_rejected():
    """A DC Huffman table may only hold size categories 0..11 (T.81
    F.1.2.1.1); parse_jpeg rejects a larger HUFFVAL entry when it reads
    the DHT, so the scan decoder's ``sym & 0x0F`` size rule never sees
    one."""
    payload = encode_jpeg_bytes(bytes(range(128)), 16, 8)
    dht = payload.index(b"\xff\xc4")
    assert payload[dht + 4] >> 4 == 0  # the segment's first table is DC
    huffval = dht + 4 + 1 + 16  # marker, length, Tc/Th, BITS
    patched = payload[:huffval] + b"\x1f" + payload[huffval + 1 :]
    with pytest.raises(ValueError, match="DC Huffman table 0 has category 31"):
        parse_jpeg(patched)


def test_restart_intervals_roundtrip_and_reset_dc():
    """DRI/RSTn (T.81 §B.2.4.4 — the spec's intra-image parallelism
    seam): a file written with restart markers must decode to EXACTLY
    the same pixels as the same image without them (byte realignment
    and per-segment DC reset on both sides), the markers must actually
    be present and cycle RST0..RST7, and a corrupted marker ordinal
    must raise."""
    import numpy as np

    rng = np.random.RandomState(17)
    px = rng.randint(0, 256, 40 * 16).astype(np.uint8).tobytes()  # 10 MCUs
    plain = encode_jpeg_bytes(px, 40, 16)
    restarted = encode_jpeg_bytes(px, 40, 16, restart_interval=2)
    assert parse_jpeg(restarted)[2] == parse_jpeg(plain)[2]
    scan = restarted[restarted.index(b"\xff\xda") :]
    for m in range(4):  # 10 MCUs / interval 2 -> RST0..RST3
        assert bytes([0xFF, 0xD0 + m]) in scan
    # flip the first restart marker's ordinal -> out-of-cycle -> raise
    bad = restarted.replace(b"\xff\xd0", b"\xff\xd5", 1)
    with pytest.raises(ValueError, match="RST"):
        parse_jpeg(bad)


def test_decoder_crops_non_multiple_of_8_dimensions():
    """Baseline JPEG pads images to whole 8x8 blocks; SOF carries the
    TRUE dimensions and a conforming decoder crops. Our encoder only
    writes block-aligned images, so this spec path is reachable only
    through a foreign container: take an 8x8 file and patch SOF0 to
    claim 6x5 — the entropy stream still holds one MCU, and the
    decoder must return exactly the 6x5 crop of its reconstruction."""
    import numpy as np

    px = bytes((11 * i + 5) % 256 for i in range(64))
    payload = encode_jpeg_bytes(px, 8, 8)
    full = np.frombuffer(parse_jpeg(payload)[2], np.uint8).reshape(8, 8)
    patched = payload.replace(
        struct.pack(">BHHB", 8, 8, 8, 1), struct.pack(">BHHB", 8, 5, 6, 1)
    )
    w, h, out = parse_jpeg(patched)
    assert (w, h) == (6, 5)
    assert np.array_equal(
        np.frombuffer(out, np.uint8).reshape(5, 6), full[:5, :6]
    )


def test_encoder_rejects_bad_geometry():
    with pytest.raises(ValueError, match="multiples of 8"):
        encode_jpeg_bytes(bytes(100), 10, 10)
    with pytest.raises(ValueError, match="multiples of 8"):
        encode_jpeg_bytes(bytes(63), 8, 8)


def test_encoder_bytes_are_pinned():
    """Encoder output is pinned byte for byte, not only through decoded
    values: sha256 of gray and color JPEGs with and without restart
    intervals (one scan holds a stuffed FF 00), and of the ADPCM and
    mu-law WAV containers on an odd sample count (RIFF pad byte)."""
    import hashlib

    from ds_mapreduce_spark.operators.adpcm import encode_adpcm_wav_bytes
    from ds_mapreduce_spark.operators.g711 import encode_ulaw_wav_bytes

    rng = np.random.RandomState(2026)
    gray = rng.randint(0, 256, 40 * 16).astype(np.uint8).tobytes()
    rgb = rng.randint(0, 256, 24 * 16 * 3).astype(np.uint8).tobytes()
    samples = rng.randint(-32768, 32768, 1017).tolist()
    payloads = {
        "gray": encode_jpeg_bytes(gray, 40, 16),
        "gray_rst2": encode_jpeg_bytes(gray, 40, 16, restart_interval=2),
        "color": encode_jpeg_color_bytes(rgb, 24, 16),
        "color_rst2": encode_jpeg_color_bytes(rgb, 24, 16, restart_interval=2),
        "adpcm": encode_adpcm_wav_bytes(samples),
        "ulaw": encode_ulaw_wav_bytes(samples),
    }
    want = {
        "gray": "2ed42ffc02d7b231b77ee6233f2b983c70ae3bc5b3953a98c4f70cf17d85662f",
        "gray_rst2": "b1708cbc2a4a2a64fcdb248165e91f15ceadda17ff35659099bfb41c4be5981f",
        "color": "169f6eb7a524b8aa63e0bed8a71af80b4b54987f677a3e9f6d704cd438ad4c91",
        "color_rst2": "89c82f827b4d00d996ffafa67f0be1e988f1962b78ec8a3ce0c59abb82854f3b",
        "adpcm": "a9cfbb3cb3f56abd7744b0fa3787e65a4ec9994f92530410817674077105c907",
        "ulaw": "85fdff95bc06f45e317a4819bbe519d7664b7bd32d7525436cdaf6f5012a7d2e",
    }
    got = {k: hashlib.sha256(v).hexdigest() for k, v in payloads.items()}
    assert got == want
    stuffed = payloads["gray_rst2"]
    assert b"\xff\x00" in stuffed[_scan_start(stuffed) :]


def _scan_start(payload: bytes) -> int:
    sos = payload.index(b"\xff\xda")
    (seglen,) = struct.unpack(">H", payload[sos + 2 : sos + 4])
    return sos + 2 + seglen


def test_scan_marker_errors():
    """The three ways a scan can end before its last MCU, on hand-cut
    scans of a 10-MCU image: a non-RST marker, a lone trailing 0xFF,
    and the end of the payload."""
    payload = encode_jpeg_bytes(bytes((7 * i) % 256 for i in range(640)), 40, 16)
    start = _scan_start(payload)
    cut = start + (len(payload) - 2 - start) // 2
    while payload[cut - 1] == 0xFF:  # never split a stuffed FF 00
        cut += 1
    head = payload[:cut]
    with pytest.raises(
        ValueError, match="^unexpected marker 0xFFC4 inside scan$"
    ):
        parse_jpeg(head + b"\xff\xc4" + payload[cut:])
    with pytest.raises(ValueError, match="^truncated after 0xFF in scan$"):
        parse_jpeg(head + b"\xff")
    with pytest.raises(ValueError, match="^truncated entropy-coded scan$"):
        parse_jpeg(head)


def test_missing_eoi_and_trailing_bytes_rejected():
    """The segment after the last MCU must close with EOI, and EOI must
    be the payload's last two bytes: a cut-off EOI, EOI replaced by
    zero bytes, and bytes after EOI all fail loudly, with and without
    restart markers."""
    px = bytes((7 * i) % 256 for i in range(16 * 8))
    for restart_interval in (0, 1):
        p = encode_jpeg_bytes(px, 16, 8, restart_interval=restart_interval)
        assert parse_jpeg(p)[:2] == (16, 8)
        assert p.endswith(b"\xff\xd9")
        with pytest.raises(ValueError, match="^expected EOI after the last MCU"):
            parse_jpeg(p[:-2])
        with pytest.raises(ValueError, match="^expected EOI"):
            parse_jpeg(p[:-2] + bytes(3))
        with pytest.raises(ValueError, match="^7 trailing bytes after EOI$"):
            parse_jpeg(p + b"garbage")
        with pytest.raises(ValueError, match="^2 trailing bytes after EOI$"):
            parse_jpeg(p + b"\xff\xd9")
        # a marker other than EOI after the last MCU
        with pytest.raises(
            ValueError, match="^expected EOI after the last MCU, got 0xffd0$"
        ):
            parse_jpeg(p[:-2] + b"\xff\xd0\xff\xd9")


def test_fill_bytes_before_a_marker_are_skipped():
    """Any number of 0xFF fill bytes may precede a marker (T.81
    §B.1.1.2): before EOI and before an RSTn they decode to the same
    pixels as the clean payload, while 0xFF bytes that end the payload
    (no marker code after them) still fail."""
    px = bytes((7 * i) % 256 for i in range(16 * 8))
    clean = encode_jpeg_bytes(px, 16, 8)
    want = parse_jpeg(clean)
    for fill in (b"\xff", b"\xff\xff\xff"):
        assert parse_jpeg(clean[:-2] + fill + b"\xff\xd9") == want
    p = encode_jpeg_bytes(px, 16, 8, restart_interval=1)
    want_rst = parse_jpeg(p)
    assert want_rst[:2] == want[:2]
    rst0 = p.index(b"\xff\xd0")
    for fill in (b"\xff", b"\xff\xff\xff"):
        assert parse_jpeg(p[:rst0] + fill + p[rst0:]) == want_rst
        assert parse_jpeg(p[:-2] + fill + b"\xff\xd9") == want_rst
    for payload in (clean, p):
        with pytest.raises(ValueError, match="^expected EOI after the last MCU"):
            parse_jpeg(payload[:-2] + b"\xff")
        with pytest.raises(ValueError, match="^expected EOI after the last MCU"):
            parse_jpeg(payload[:-2] + b"\xff\xff")
        with pytest.raises(ValueError, match="^1 trailing bytes after EOI$"):
            parse_jpeg(payload + b"\xff")


def test_fill_bytes_before_a_header_marker_are_skipped():
    """Fill bytes may precede the header's markers too (T.81 §B.1.1.2):
    1 or 3 of them before DQT, DHT, SOF0 or SOS decode to the clean
    payload's pixels, while a header that ends in 0xFF bytes raises."""
    px = bytes((7 * i) % 256 for i in range(16 * 8))
    clean = encode_jpeg_bytes(px, 16, 8)
    want = parse_jpeg(clean)
    for code in (b"\xdb", b"\xc4", b"\xc0", b"\xda"):
        at = clean.index(b"\xff" + code)
        for fill in (b"\xff", b"\xff\xff\xff"):
            assert parse_jpeg(clean[:at] + fill + clean[at:]) == want, (code, fill)
    sos = clean.index(b"\xff\xda")
    for tail in (b"\xff", b"\xff\xff\xff"):
        with pytest.raises(ValueError):
            parse_jpeg(clean[:sos] + tail)
