"""Unit tests for the FLAC codec (operators/flac.py): CRC polynomials
against published check values, UTF-8-style coded numbers and Rice
coding by brute-force roundtrip, fixed-predictor reconstruction,
lossless roundtrip on noise / smooth / edge signals, real compression
on a low-entropy signal, and the loud-failure tamper paths (bad magic,
bit flips, MD5 mismatch)."""

import sys

sys.path.insert(0, "/root/repo")

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ds_mapreduce_spark.operators.bitio import (
    BitReader,
    BitWriter,
    crc8,
    crc16,
    unzigzag,
    zigzag,
)
from ds_mapreduce_spark.operators.flac import (
    FLAC_BLOCK_SIZE,
    _best_residual_coding,
    _reconstruct,
    _residuals,
    decode_flac_samples,
    encode_flac_bytes,
    parse_streaminfo,
    utf8_code,
    utf8_decode,
)
from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B


def synth(doc_id: int, n: int = 1024) -> list[int]:
    return [
        (((doc_id % 65536) * PCM_A + i * PCM_B) % 65536) - 32768
        for i in range(n)
    ]


def triangle(n: int = 1024, period: int = 512, step: int = 128) -> list[int]:
    out = []
    for i in range(n):
        ph = i % period
        v = ph * step if ph < period // 2 else (period - ph) * step
        out.append(v - 16384)
    return out


def test_crc_check_values():
    # CRC-8 poly 0x07 init 0 and CRC-16/BUYPASS poly 0x8005 init 0,
    # both MSB-first — the published '123456789' check values
    assert crc8(b"123456789") == 0xF4
    assert crc16(b"123456789") == 0xFEE8
    assert crc8(b"") == 0 and crc16(b"") == 0


def test_utf8_coded_numbers_all_widths():
    cases = (
        list(range(0, 400))
        + [2**11 - 1, 2**11, 2**16 - 1, 2**16, 2**21 - 1, 2**21,
           2**26 - 1, 2**26, 2**31 - 1, 2**31, 2**36 - 1]
    )
    for n in cases:
        b = utf8_code(n)
        v, pos = utf8_decode(b, 0)
        assert (v, pos) == (n, len(b)), n
    # width monotonicity at the documented boundaries
    assert len(utf8_code(0x7F)) == 1 and len(utf8_code(0x80)) == 2
    assert len(utf8_code(2**36 - 1)) == 7
    with pytest.raises(ValueError):
        utf8_code(2**36)
    with pytest.raises(ValueError):
        utf8_decode(b"\x80", 0)  # bare continuation byte


def test_bit_io_roundtrip():
    w = BitWriter()
    vals = [(i * 2654435761) % (1 << (1 + i % 24)) for i in range(200)]
    for i, v in enumerate(vals):
        w.write(v, 1 + i % 24)
    w.align()
    r = BitReader(w.getvalue())
    for i, v in enumerate(vals):
        assert r.read(1 + i % 24) == v
    with pytest.raises(ValueError):
        BitReader(b"\x00").read(9)  # truncation is loud


def test_zigzag_and_rice_choice():
    for r in range(-70000, 70000, 7):
        assert unzigzag(zigzag(r)) == r
    # near-constant residuals -> tiny rice param; huge noise -> the
    # coder may take the raw escape, never a blow-up
    p, _, bits = _best_residual_coding([0] * 256)
    assert p == 0 and bits == 4 + 256
    p, w, bits = _best_residual_coding(
        [((i * 48271) % 131072) - 65536 for i in range(256)]
    )
    assert bits <= 4 + 5 + 18 * 256  # bounded by raw-escape cost


def test_fixed_predictors_reconstruct():
    s = synth(99, 64)
    for order in (0, 1, 2):
        res = _residuals(s, order)
        assert _reconstruct(s[:order], res, order) == s


@pytest.mark.parametrize("doc_id", [0, 1, 7, 65535, 123456789])
def test_lossless_roundtrip_noise(doc_id):
    s = synth(doc_id)
    rate, out = decode_flac_samples(encode_flac_bytes(s))
    assert rate == 8000 and out == s


@pytest.mark.parametrize(
    "s",
    [
        [],
        [0],
        [5] * 37,
        [0] * 1000,
        list(range(-500, 500)),
        [(-1) ** i * 32767 for i in range(700)],  # worst-case order-2
        [-32768, 32767] * 200,
    ],
)
def test_lossless_roundtrip_edges(s):
    rate, out = decode_flac_samples(encode_flac_bytes(s))
    assert out == s


def test_smooth_signal_actually_compresses():
    s = triangle()
    payload = encode_flac_bytes(s)
    # order-2 residuals vanish except at the triangle peaks, so the
    # stream must land FAR below the 2-byte/sample PCM bound
    assert len(payload) * 5 < len(s) * 2, len(payload)
    rate, out = decode_flac_samples(payload)
    assert out == s


def test_noise_signal_lands_at_raw_bound_not_above():
    s = synth(42)
    payload = encode_flac_bytes(s)
    # max-entropy input: no compression possible, but the escape/raw
    # path bounds expansion to ~17/16 of PCM plus headers
    assert len(payload) <= int(len(s) * 2 * 17 / 16) + 128, len(payload)


def test_streaminfo_fields_read_from_container():
    s = synth(3, 700)  # 2 full frames + a 188-sample partial
    payload = encode_flac_bytes(s)
    (min_bs, max_bs, min_fs, max_fs, rate, channels, bps, md5,
     n_samples, pos) = parse_streaminfo(payload)
    assert (min_bs, max_bs) == (188, FLAC_BLOCK_SIZE)
    assert channels == 1 and bps == 16 and rate == 8000
    assert n_samples == 700 and 0 < min_fs <= max_fs
    assert payload[:4] == b"fLaC" and pos == 4 + 4 + 34


@settings(max_examples=150, deadline=None)
@given(
    s=st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=0,
        max_size=700,
    )
)
def test_lossless_roundtrip_property(s):
    """Pure-Python property: ANY int16 sample list survives the full
    encode -> container -> parse -> decode chain bit-for-bit (the
    encoder's order/param/escape choices vary adversarially with the
    shrunk input, so this walks coding paths the fixed cases miss)."""
    rate, out = decode_flac_samples(encode_flac_bytes(s))
    assert out == s


@settings(max_examples=150, deadline=None)
@given(n=st.integers(min_value=0, max_value=2**36 - 1))
def test_utf8_coded_number_property(n):
    b = utf8_code(n)
    v, pos = utf8_decode(b, 0)
    assert (v, pos) == (n, len(b))


@settings(max_examples=100, deadline=None)
@given(
    res=st.lists(
        st.integers(min_value=-(2**17), max_value=2**17 - 1),
        min_size=1,
        max_size=64,
    ),
    order=st.integers(min_value=0, max_value=2),
)
def test_predictor_reconstruct_property(res, order):
    """Residual->reconstruct is the inverse of sample->residual for
    every fixed-predictor order, on arbitrary warmup prefixes."""
    samples = res  # treat the list as the signal itself
    if len(samples) <= order:
        return
    r = _residuals(samples, order)
    assert _reconstruct(samples[:order], r, order) == samples


def test_tamper_paths_fail_loudly():
    payload = bytearray(encode_flac_bytes(synth(42)))
    with pytest.raises(ValueError, match="magic"):
        decode_flac_samples(b"fLaX" + bytes(payload[4:]))
    bad = bytearray(payload)
    bad[30] ^= 0x01  # STREAMINFO MD5 byte
    with pytest.raises(ValueError, match="MD5"):
        decode_flac_samples(bytes(bad))
    bad = bytearray(payload)
    bad[-1] ^= 0xFF  # last frame's CRC-16
    with pytest.raises(ValueError, match="CRC-16"):
        decode_flac_samples(bytes(bad))
    bad = bytearray(payload)
    bad[len(bad) // 2] ^= 0x10  # mid-stream payload bit
    with pytest.raises(ValueError):
        decode_flac_samples(bytes(bad))
    bad = bytearray(payload)
    bad[44] ^= 0x01  # second byte of the first frame's sync code
    with pytest.raises(ValueError):
        decode_flac_samples(bytes(bad))
    with pytest.raises(ValueError, match="trailing"):
        decode_flac_samples(bytes(payload) + b"\x00")
