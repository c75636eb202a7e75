"""The MDCT tier is REAL and its fused-replay oracle is exact: the
flat SQL replays synth -> forward lapped transform -> granule
scalefactors -> quantize -> dequantize -> inverse -> overlap-add and
matches the Python codec chain sample-for-sample AND byte-for-byte
(payload_bytes is a graded column). The constant table is pinned
against its generating formula; unquantized integer TDAC reconstructs
within +/-3 LSB (the transform-pair correctness proof); exp-Golomb
roundtrips by property; containers fail loudly on corruption.
"""

from __future__ import annotations

import math
import struct

import duckdb
import pytest
from hypothesis import given
from hypothesis import strategies as st

from ds_mapreduce_spark.operators.bitio import BitReader, BitWriter, read_ue, write_ue
from ds_mapreduce_spark.operators.mdct import (
    MDCT_BASE_STEPS,
    MDCT_COEF,
    MDCT_CSHIFT,
    MDCT_EMAX,
    MDCT_GRANULE,
    MDCT_N,
    MDCT_QMAX,
    MDCT_WIN,
    decode_mdct_samples,
    encode_mdct_bytes,
    parse_mlt1,
    rnd_div,
)
from ds_mapreduce_spark.operators.multimodal import (
    PCM_A,
    PCM_B,
    WAV_N_SAMPLES,
    WAV_SAMPLE_RATE,
)


def _synth_samples(doc_id: int, n: int = WAV_N_SAMPLES) -> list[int]:
    return [
        (((doc_id % 65536) * PCM_A + i * PCM_B) % 65536) - 32768
        for i in range(n)
    ]


def _fused_replay(x: list[int]) -> tuple[list[int], int]:
    """Straight-line Python replay of the fused encoder+decoder math —
    written INDEPENDENTLY of the numpy/bitstream implementation (plain
    loops, no shared helpers beyond the constants), so agreement locks
    the codec against the spec'd arithmetic, not against itself."""
    n = len(x)
    t_frames = n // MDCT_N + 1

    def g(p: int) -> int:
        return x[p] if 0 <= p < n else 0

    acc_a = [
        [
            sum(g(MDCT_N * (t - 1) + m) * MDCT_COEF[k][m] for m in range(MDCT_WIN))
            for k in range(MDCT_N)
        ]
        for t in range(t_frames)
    ]
    recon_acc = [0] * n
    total_bytes = 12
    for g0 in range(0, t_frames, MDCT_GRANULE):
        ts = range(g0, min(g0 + MDCT_GRANULE, t_frames))
        bits = MDCT_N * 4
        for k in range(MDCT_N):
            e = 0
            while e < MDCT_EMAX and any(
                rnd_div(abs(acc_a[t][k]), MDCT_BASE_STEPS[k] << (MDCT_CSHIFT + e))
                > MDCT_QMAX
                for t in ts
            ):
                e += 1
            for t in ts:
                q = max(
                    -MDCT_QMAX,
                    min(
                        MDCT_QMAX,
                        rnd_div(
                            acc_a[t][k],
                            MDCT_BASE_STEPS[k] << (MDCT_CSHIFT + e),
                        ),
                    ),
                )
                u = 2 * q if q >= 0 else -2 * q - 1
                bits += 2 * (u + 1).bit_length() - 1
                xr = q * (MDCT_BASE_STEPS[k] << e)
                for m in range(MDCT_WIN):
                    j = MDCT_N * (t - 1) + m
                    if 0 <= j < n:
                        recon_acc[j] += xr * MDCT_COEF[k][m]
        total_bytes += (bits + 7) // 8 + 1
    half, div = 1 << (MDCT_CSHIFT + 2), 1 << (MDCT_CSHIFT + 3)
    recon = [
        max(-32768, min(32767, rnd_div(s, div) if s >= 0 else -rnd_div(-s, div)))
        for s in recon_acc
    ]
    return recon, total_bytes


def test_constant_table_matches_generating_formula():
    """Provenance: MDCT_COEF is exactly round(sine-window x MDCT basis
    x 2^14), and no entry sits near a rounding boundary (so a last-ulp
    libm difference on another platform cannot flip one — if this test
    ever fails there, the TABLE stays authoritative)."""
    closest = 1.0
    for k in range(MDCT_N):
        for n in range(MDCT_WIN):
            v = (
                math.sin(math.pi * (n + 0.5) / MDCT_WIN)
                * math.cos(math.pi / MDCT_N * (n + 0.5 + MDCT_N / 2) * (k + 0.5))
                * (1 << MDCT_CSHIFT)
            )
            assert MDCT_COEF[k][n] == round(v), (k, n)
            closest = min(closest, abs(v % 1 - 0.5))
    assert closest > 1e-3


def test_unquantized_tdac_reconstructs_within_3lsb():
    """The transform-pair proof: with quantization OFF (dequantized
    coefficient = raw accumulator), forward + inverse + overlap-add
    reproduces the input within the fixed-point truncation bound —
    time-domain aliasing genuinely cancels in integer arithmetic."""
    for doc_id in (0, 7, 65535, 12345):
        x = _synth_samples(doc_id, 128)
        n = len(x)
        t_frames = n // MDCT_N + 1

        def g(p: int) -> int:
            return x[p] if 0 <= p < n else 0

        acc = [0] * n
        for t in range(t_frames):
            for k in range(MDCT_N):
                a = sum(
                    g(MDCT_N * (t - 1) + m) * MDCT_COEF[k][m]
                    for m in range(MDCT_WIN)
                )
                for m in range(MDCT_WIN):
                    j = MDCT_N * (t - 1) + m
                    if 0 <= j < n:
                        acc[j] += a * MDCT_COEF[k][m]
        div = 1 << (2 * MDCT_CSHIFT + 3)
        recon = [rnd_div(s, div) for s in acc]
        assert max(abs(a - b) for a, b in zip(recon, x)) <= 3, doc_id


@given(st.integers(min_value=0, max_value=1 << 20))
def test_exp_golomb_roundtrips(u):
    w = BitWriter()
    write_ue(w, u)
    w.align()
    assert read_ue(BitReader(w.getvalue())) == u


def test_container_roundtrip_equals_fused_replay():
    """decode(encode(x)) == the independent straight-line replay, and
    len(payload) == the replay's closed-form byte count — the lock
    that makes payload_bytes a gradable column."""
    for doc_id in (0, 1, 7, 65535, 65536, 123456789, 2**40 + 3):
        x = _synth_samples(doc_id)
        payload = encode_mdct_bytes(x)
        rate, decoded = decode_mdct_samples(payload)
        recon, nbytes = _fused_replay(x)
        assert rate == WAV_SAMPLE_RATE
        assert decoded == recon, doc_id
        assert len(payload) == nbytes, doc_id


def test_lossy_but_bounded_and_compressive():
    """Rate-distortion sanity on the corpus distribution: genuinely
    lossy (nonzero error), bounded (max error well under 2% of full
    scale), and genuinely compressive (payload < raw PCM16 bytes)."""
    worst = 0
    for doc_id in (3, 511, 9999, 54321):
        x = _synth_samples(doc_id)
        payload = encode_mdct_bytes(x)
        _, decoded = decode_mdct_samples(payload)
        err = max(abs(a - b) for a, b in zip(decoded, x))
        assert err > 0
        worst = max(worst, err)
        assert len(payload) < 2 * len(x) * 0.85, doc_id
    assert worst < 600


def test_saturation_path_is_deterministic():
    """A full-scale square wave overdrives band 0 past what EMAX can
    absorb: the encoder saturates |q| at QMAX and the decoder still
    roundtrips the (heavily distorted) stream bit-exactly — saturation
    is part of the format, mirrored by the oracle's LEAST/GREATEST."""
    x = [32767 if (i // 16) % 2 == 0 else -32768 for i in range(128)]
    payload = encode_mdct_bytes(x)
    _, decoded = decode_mdct_samples(payload)
    recon, nbytes = _fused_replay(x)
    assert decoded == recon
    assert len(payload) == nbytes


def test_oracle_matches_python_chain():
    """The lock the registration's parity relies on: the DuckDB flat
    replay == the Python codec chain, feature-for-feature INCLUDING
    payload_bytes, on doc_ids exercising the mod-2^16 wrap."""
    from ds_mapreduce_spark.plans.multimodal_queries import _mdct_oracle

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT doc_id FROM (VALUES (0), (3), "
        "(511), (65535), (65536), (123456789)) v(doc_id)"
    )
    rows = con.execute(_mdct_oracle() + " ORDER BY doc_id").fetchall()
    assert len(rows) == 6
    for doc_id, rate, n, peak, sabs, ssq, pbytes in rows:
        x = _synth_samples(doc_id)
        payload = encode_mdct_bytes(x)
        _, dec = decode_mdct_samples(payload)
        assert (rate, n) == (WAV_SAMPLE_RATE, WAV_N_SAMPLES)
        assert peak == max(abs(v) for v in dec), doc_id
        assert sabs == sum(abs(v) for v in dec), doc_id
        assert ssq == sum(v * v for v in dec), doc_id
        assert pbytes == len(payload), doc_id


def test_corrupt_containers_fail_loudly():
    x = _synth_samples(42)
    payload = bytearray(encode_mdct_bytes(x))
    with pytest.raises(ValueError, match="not an MLT1"):
        parse_mlt1(b"JUNK" + bytes(payload[4:]))
    bad_geom = bytearray(payload)
    bad_geom[10] = 8  # n_bands
    with pytest.raises(ValueError, match="geometry"):
        parse_mlt1(bytes(bad_geom))
    flipped = bytearray(payload)
    flipped[20] ^= 0x40  # inside the first granule's coded bytes
    with pytest.raises(ValueError, match="CRC|out of range|truncated"):
        parse_mlt1(bytes(flipped))
    with pytest.raises(ValueError, match="trailing"):
        parse_mlt1(bytes(payload) + b"\x00")
    bad_count = bytearray(payload)
    bad_count[4:8] = struct.pack("<I", WAV_N_SAMPLES + 1)
    with pytest.raises(ValueError, match="hop multiple"):
        parse_mlt1(bytes(bad_count))


def test_granules_are_decode_independent():
    """The parallelism-seam claim: re-encoding only the samples of one
    granule's frames cannot change another granule's coded bytes —
    verified by splicing: two signals differing only inside granule 1's
    exclusive support produce payloads identical outside granule 1."""
    x1 = _synth_samples(7, 256)
    x2 = list(x1)
    # granule 1 covers frames 8..15 -> samples 16*7 .. 16*15+15; its
    # exclusive support (touching no granule-0/2 frame) is 128..223
    for i in range(144, 208):
        x2[i] = -x2[i]
    p1, p2 = encode_mdct_bytes(x1), encode_mdct_bytes(x2)
    _, g1 = _granule_spans(p1)
    _, g2 = _granule_spans(p2)
    assert g1[0] == g2[0] and p1[g1[0][0] : g1[0][1]] == p2[g2[0][0] : g2[0][1]]
    assert p1[g1[1][0] : g1[1][1]] != p2[g2[1][0] : g2[1][1]]


def _granule_spans(payload: bytes) -> tuple[int, list[tuple[int, int]]]:
    """Byte spans of each granule (coded bytes + CRC) via a re-parse."""
    _, n_samples, granules = parse_mlt1(payload)
    r = BitReader(payload, 12)
    spans = []
    for es, frames in granules:
        start = r.byte_pos
        r.read(4 * MDCT_N)
        for qs in frames:
            for q in qs:
                read_ue(r)
        r.align()
        r.read(8)
        spans.append((start, r.byte_pos))
    return n_samples, spans
