"""Differential locks for the r16 vectorized bit-I/O internals.

The r16 optimization round replaced the per-bit/per-code Python loops
in the shared codec bit layer (`operators/bitio.BitReader`/`BitWriter`)
with accumulator/batch forms, and added spans-only container walks.
These tests pin the contract every codec row relies on: each batch
call is bit-identical to the sequential loop it replaced — same
values, same reader state left behind (so container bookkeeping like
`byte_pos`/`align` stays exact), and the same ValueError on
truncation.  The reference implementations here are the literal
pre-r16 loops.
"""

from __future__ import annotations

import itertools
import random
import struct

import numpy as np
import pytest

from ds_mapreduce_spark.operators import mcv
from ds_mapreduce_spark.operators.bitio import (
    BitReader,
    BitWriter,
    crc8,
    crc8_many,
    read_ue,
    write_ue,
    zigzag,
)
from ds_mapreduce_spark.operators.flac import _pack_pcm16le
from ds_mapreduce_spark.operators.jpeg import _da_int, _fdct_blocks, _idct_blocks
from ds_mapreduce_spark.operators.mcv import (
    MCV_FRAMES,
    MCV_H,
    MCV_MAGIC,
    MCV_QI,
    MCV_QP,
    MCV_SEARCH,
    MCV_VX,
    MCV_VY,
    MCV_W,
    _block_origins,
    _from_blocks,
    _to_blocks,
    decode_mcv_frames,
    encode_mcv_batch,
    encode_mcv_bytes,
    mcv_features_batch,
    mcv_frame_spans,
    mcv_frame_spans_batch,
    parse_mcv,
)
from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B


class RefBitReader:
    """The pre-r16 per-bit reader: one bit at a time, loudly truncating."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._data = data
        self._bitpos = pos * 8

    def bit(self) -> int:
        byte = self._bitpos >> 3
        if byte >= len(self._data):
            raise ValueError("FLAC bitstream truncated")
        b = (self._data[byte] >> (7 - (self._bitpos & 7))) & 1
        self._bitpos += 1
        return b

    def read(self, nbits: int) -> int:
        v = 0
        for _ in range(nbits):
            v = (v << 1) | self.bit()
        return v

    def read_unary(self) -> int:
        q = 0
        while self.bit() == 0:
            q += 1
        return q

    def read_ue(self) -> int:
        lz = self.read_unary()
        rest = self.read(lz)
        return ((1 << lz) | rest) - 1

    @property
    def bit_position(self) -> int:
        return self._bitpos


def _reader_bitpos(r: BitReader) -> int:
    return r._fb * 8 - r._navail


def _random_stream(rng: random.Random, nbytes: int) -> bytes:
    return bytes(rng.randrange(256) for _ in range(nbytes))


def test_read_and_unary_match_reference() -> None:
    rng = random.Random(0xB17B17)
    for _ in range(200):
        data = _random_stream(rng, rng.randrange(1, 64))
        fast, ref = BitReader(data), RefBitReader(data)
        while True:
            op = rng.randrange(2)
            try:
                if op == 0:
                    n = rng.randrange(0, 20)
                    want = ref.read(n)
                    got = fast.read(n)
                else:
                    want = ref.read_ue()
                    got = read_ue(fast)
            except ValueError:
                with pytest.raises(ValueError):
                    if op == 0:
                        fast.read(n)
                    else:
                        read_ue(fast)
                break
            assert got == want
            assert _reader_bitpos(fast) == ref.bit_position


def test_read_ue_many_matches_sequential() -> None:
    rng = random.Random(0xEE)
    for trial in range(200):
        # half the trials: real exp-Golomb trains (always decodable);
        # half: random bytes (exercises the truncation paths)
        if trial % 2 == 0:
            vals = [rng.randrange(0, 1 << rng.randrange(1, 16)) for _ in range(rng.randrange(1, 80))]
            w = BitWriter()
            for v in vals:
                write_ue(w, v)
            w.align()
            data = w.getvalue()
        else:
            data = _random_stream(rng, rng.randrange(0, 40))
        count = rng.randrange(1, 90)
        seq, bat = RefBitReader(data), BitReader(data)
        want, err = [], False
        try:
            for _ in range(count):
                want.append(seq.read_ue())
        except ValueError:
            err = True
        if err:
            with pytest.raises(ValueError):
                bat.read_ue_many(count)
        else:
            assert bat.read_ue_many(count) == want
            assert _reader_bitpos(bat) == seq.bit_position
            # the held-bits invariant the container bookkeeping needs
            assert bat._navail < 8


def test_read_rice_many_matches_sequential() -> None:
    rng = random.Random(0x91CE)
    for trial in range(200):
        param = rng.randrange(0, 15)
        if trial % 2 == 0:
            us = [rng.randrange(0, 1 << rng.randrange(1, 14)) for _ in range(rng.randrange(1, 60))]
            w = BitWriter()
            for u in us:
                w.write((1 << param) | (u & ((1 << param) - 1)), (u >> param) + 1 + param)
            w.align()
            data = w.getvalue()
        else:
            data = _random_stream(rng, rng.randrange(0, 40))
        count = rng.randrange(1, 70)
        seq, bat = RefBitReader(data), BitReader(data)
        want, err = [], False
        try:
            for _ in range(count):
                q = seq.read_unary()
                want.append((q << param) | seq.read(param))
        except ValueError:
            err = True
        if err:
            with pytest.raises(ValueError):
                bat.read_rice_many(param, count)
        else:
            assert bat.read_rice_many(param, count) == want
            assert _reader_bitpos(bat) == seq.bit_position
            assert bat._navail < 8


def test_read_many_matches_sequential() -> None:
    rng = random.Random(0xF1D0)
    for _ in range(200):
        data = _random_stream(rng, rng.randrange(0, 48))
        # stagger the start so the batch read begins mid-byte
        pre = rng.randrange(0, 12)
        nbits = rng.randrange(1, 33)
        count = rng.randrange(1, 60)
        seq, bat = BitReader(data), BitReader(data)
        try:
            seq.read(pre)
        except ValueError:
            continue
        bat.read(pre)
        want, err = [], False
        try:
            for _ in range(count):
                want.append(seq.read(nbits))
        except ValueError:
            err = True
        if err:
            with pytest.raises(ValueError):
                bat.read_many(nbits, count)
        else:
            got = bat.read_many(nbits, count)
            assert got.tolist() == want
            assert _reader_bitpos(bat) == _reader_bitpos(seq)
            assert bat._navail < 8
            # a follow-up read sees the identical remaining stream
            try:
                tail_want = seq.read(5)
            except ValueError:
                with pytest.raises(ValueError):
                    bat.read(5)
            else:
                assert bat.read(5) == tail_want


def test_bitwriter_fused_writes_match_per_bit_reference() -> None:
    rng = random.Random(0x3117E)
    for _ in range(200):
        ops = [
            (rng.randrange(0, 1 << 40), rng.randrange(0, 48))
            for _ in range(rng.randrange(1, 40))
        ]
        w = BitWriter()
        bits = []
        for v, n in ops:
            w.write(v, n)
            bits.extend((v >> k) & 1 for k in range(n - 1, -1, -1))
        w.align()
        pad = (-len(bits)) % 8
        bits.extend([0] * pad)
        want = bytes(
            int("".join(map(str, bits[i : i + 8])), 2)
            for i in range(0, len(bits), 8)
        )
        assert w.getvalue() == want


def test_pack_pcm16le_matches_struct_loop() -> None:
    rng = random.Random(0x9C39)
    for _ in range(50):
        samples = [rng.randrange(-0x8000, 0x8000) for _ in range(rng.randrange(0, 300))]
        want = b"".join(struct.pack("<h", s) for s in samples)
        assert _pack_pcm16le(samples) == want
    assert _pack_pcm16le([]) == b""
    for bad in (0x8000, -0x8001, 1 << 40):
        with pytest.raises(struct.error):
            _pack_pcm16le([0, bad, 1])


def test_mdct_encode_vectorized_matches_scalar_reference() -> None:
    """The vectorized scalefactor search + exp-Golomb pack in
    encode_granule_blobs is bit-identical to the per-value reference
    path (_scalefactor/_quantize/write_ue), including EMAX saturation
    and the ±QMAX clamp."""
    import numpy as np

    from ds_mapreduce_spark.operators import mdct as M

    def ref_blobs(samples):
        x = np.asarray(samples, dtype=np.int64)
        acc = M._forward_accumulators(x)
        blobs = []
        for g0 in range(0, acc.shape[0], M.MDCT_GRANULE):
            frames = acc[g0 : g0 + M.MDCT_GRANULE]
            w = M.BitWriter()
            es = []
            for k in range(M.MDCT_N):
                e = M._scalefactor(int(np.abs(frames[:, k]).max()), k)
                es.append(e)
                w.write(e, 4)
            for row in frames:
                for k, a in enumerate(row.tolist()):
                    q = M._quantize(int(a), k, es[k])
                    write_ue(w, (q << 1) if q >= 0 else ((-q) << 1) - 1)
            w.align()
            coded = w.getvalue()
            blobs.append(coded + bytes([M.crc8(coded)]))
        return blobs

    rng = np.random.default_rng(0x3DC7)
    cases = [
        np.zeros(64, dtype=np.int64),
        rng.integers(-32768, 32768, size=256),
        rng.integers(-3, 4, size=128),  # tiny signal: low scalefactors
        (rng.integers(0, 2, size=512) * 2 - 1) * 32767,  # max energy
    ]
    for samples in cases:
        assert M.encode_granule_blobs(samples.tolist()) == ref_blobs(samples)


def test_lzw_compress_code_keys_match_string_keys() -> None:
    """The (prefix_code, byte)-keyed LZW table emits the identical code
    stream as the pre-r16 byte-string-keyed table, including CLEAR
    resets on dictionary overflow and the trailing-EOI layout."""
    from ds_mapreduce_spark.operators.gif import (
        _LZW_MAX_BITS,
        _LZW_MAX_ENTRIES,
        _lzw_compress,
        _lzw_decompress,
    )

    def ref_compress(data: bytes, min_code_size: int) -> bytes:
        clear = 1 << min_code_size
        eoi = clear + 1
        out = bytearray()
        acc = nbits = 0
        bits = min_code_size + 1
        k = 0

        def emit(code: int) -> None:
            nonlocal acc, nbits
            acc |= code << nbits
            nbits += bits
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8

        def emit_data(code: int) -> None:
            nonlocal bits, k
            emit(code)
            k += 1
            if eoi + k >= (1 << bits) and bits < _LZW_MAX_BITS:
                bits += 1

        emit(clear)
        table = {bytes([i]): i for i in range(clear)}
        next_code = eoi + 1
        w = data[:1]
        for byte in data[1:]:
            wk = w + bytes([byte])
            if wk in table:
                w = wk
                continue
            emit_data(table[w])
            if next_code >= _LZW_MAX_ENTRIES:
                emit(clear)
                table = {bytes([i]): i for i in range(clear)}
                next_code = eoi + 1
                bits = min_code_size + 1
                k = 0
            else:
                table[wk] = next_code
                next_code += 1
            w = bytes([byte])
        if w:
            emit_data(table[w])
        emit(eoi)
        if nbits:
            out.append(acc & 0xFF)
        return bytes(out)

    rng = random.Random(0x17B)
    cases = [
        b"",
        b"\x00",
        b"aaaaaaaaaabbbbbbbbbb" * 30,
        bytes(rng.randrange(256) for _ in range(20000)),  # forces overflow
        bytes(rng.randrange(4) for _ in range(5000)),
    ]
    for data in cases:
        for mcs in (2, 8):
            if mcs == 2 and any(b > 3 for b in data):
                continue
            got = _lzw_compress(data, mcs)
            assert got == ref_compress(data, mcs)
            assert _lzw_decompress(got, mcs) == data


def test_crc_slice_by_16_matches_byte_loop() -> None:
    from ds_mapreduce_spark.operators.bitio import (
        _CRC8_TABLE,
        _CRC16_TABLE,
        crc8,
        crc16,
    )

    def ref_crc8(data: bytes) -> int:
        r = 0
        for byte in data:
            r = _CRC8_TABLE[r ^ byte]
        return r

    def ref_crc16(data: bytes) -> int:
        r = 0
        for byte in data:
            r = ((r << 8) & 0xFFFF) ^ _CRC16_TABLE[(r >> 8) ^ byte]
        return r

    rng = random.Random(0xC2C)
    # every length 0..64 (group-boundary edges) plus larger random sizes
    for n in list(range(65)) + [100, 255, 256, 517, 4096]:
        data = bytes(rng.randrange(256) for _ in range(n))
        assert crc8(data) == ref_crc8(data)
        assert crc16(data) == ref_crc16(data)
    # published check value lock is in tests/test_flac.py; re-pin here
    assert crc16(b"123456789") == 0xFEE8  # CRC-16/UMTS (0x8005, init 0)


def test_mcv_frame_spans_matches_parse() -> None:
    rng = np.random.default_rng(7)
    frames = rng.integers(0, 256, size=(MCV_FRAMES, MCV_H, MCV_W))
    payload = encode_mcv_bytes(frames)
    assert mcv_frame_spans(payload) == parse_mcv(payload)[1]
    # same corruption contract: flip a byte inside a frame body
    corrupt = bytearray(payload)
    corrupt[len(corrupt) // 2] ^= 0x5A
    corrupt = bytes(corrupt)

    def outcome(fn):
        try:
            fn(corrupt)
        except ValueError:
            return "valueerror"
        return "ok"

    assert outcome(mcv_frame_spans) == outcome(lambda p: parse_mcv(p))


# ---- MCV encoder: the per-document encoder the batch encoder replaced
def _ref_code_block(w: BitWriter, q: np.ndarray) -> None:
    """Zero-residual flag, then (unless flagged) 64 row-major ue codes,
    folded into one write."""
    flat = q.reshape(64).tolist()
    if not any(flat):
        w.write(1, 1)
        return
    acc = 0
    total = 1  # the zero flag bit
    for v in flat:
        u = (v << 1 if v >= 0 else ((-v) << 1) - 1) + 1
        nb = 2 * u.bit_length() - 1
        acc = (acc << nb) | u
        total += nb
    w.write(acc, total)


def _ref_motion_search(prev: np.ndarray, curbs: np.ndarray):
    """Per-block exhaustive search over the in-picture window; argmin's
    first minimum over the (dy, dx) raster is the tie-break."""
    wins = np.lib.stride_tricks.sliding_window_view(prev, (8, 8))
    mvs = []
    preds = np.empty_like(curbs)
    for bi, (by0, bx0) in enumerate(_block_origins()):
        ylo = max(0, by0 - MCV_SEARCH)
        yhi = min(MCV_H - 8, by0 + MCV_SEARCH)
        xlo = max(0, bx0 - MCV_SEARCH)
        xhi = min(MCV_W - 8, bx0 + MCV_SEARCH)
        region = wins[ylo : yhi + 1, xlo : xhi + 1]
        sad = np.abs(region - curbs[bi]).sum(axis=(-1, -2))
        flat = int(np.argmin(sad))
        ry, rx = divmod(flat, sad.shape[1])
        mvs.append((ylo + ry - by0, xlo + rx - bx0))
        preds[bi] = region[ry, rx]
    return mvs, preds


def _ref_encode_mcv(frames) -> bytes:
    fr = [np.asarray(f, dtype=np.int64).reshape(MCV_H, MCV_W) for f in frames]
    if len(fr) != MCV_FRAMES:
        raise ValueError(f"expected {MCV_FRAMES} frames, got {len(fr)}")
    out = bytearray(
        MCV_MAGIC
        + struct.pack("<HHBBBB", MCV_W, MCV_H, MCV_FRAMES, MCV_QI, MCV_QP, MCV_SEARCH)
    )
    prev = None
    for t, cur in enumerate(fr):
        w = BitWriter()
        curbs = _to_blocks(cur)
        if t == 0:
            q = _da_int(_fdct_blocks(curbs - 128), MCV_QI)
            recon_b = _idct_blocks(q * MCV_QI) + 128
            for bi in range(len(curbs)):
                _ref_code_block(w, q[bi])
        else:
            mvs, preds = _ref_motion_search(prev, curbs)
            q = _da_int(_fdct_blocks(curbs - preds), MCV_QP)
            recon_b = preds + _idct_blocks(q * MCV_QP)
            for bi, (dy, dx) in enumerate(mvs):
                write_ue(w, zigzag(dx))
                write_ue(w, zigzag(dy))
                _ref_code_block(w, q[bi])
        w.align()
        coded = w.getvalue()
        out += coded + bytes([crc8(coded)])
        prev = _from_blocks(np.clip(recon_b, 0, 255))
    return bytes(out)


def _scroll_frames(docs: np.ndarray) -> np.ndarray:
    """(n,) doc ids -> (n, MCV_FRAMES, H, W): the synth scene's closed form."""
    y, x = np.divmod(np.arange(MCV_H * MCV_W), MCV_W)
    t = np.arange(MCV_FRAMES)[:, None]
    src = ((y + MCV_VY * t) % MCV_H) * MCV_W + (x + MCV_VX * t) % MCV_W
    px = ((docs[:, None, None] % 256) * PCM_A + src * PCM_B) % 256
    return px.reshape(len(docs), MCV_FRAMES, MCV_H, MCV_W)


def test_mcv_batch_encoder_matches_per_document_reference() -> None:
    frames = _scroll_frames(np.arange(1, 501))
    want = [_ref_encode_mcv(f) for f in frames]
    # consecutive batches of 0, 1, 7 and 131 documents, cycled to the end
    got, start = [], 0
    for size in itertools.cycle([0, 1, 7, 131]):
        if start >= len(frames):
            break
        batch = encode_mcv_batch(frames[start : start + size])
        assert len(batch) == len(frames[start : start + size])
        got += batch
        start += size
    assert got == want

    rng = np.random.default_rng(2024)
    noise = rng.integers(0, 256, size=(24, MCV_FRAMES, MCV_H, MCV_W))
    flat = np.stack([np.zeros_like(noise[0]), np.full_like(noise[0], 255)])
    for batch in (noise, flat):
        want = [_ref_encode_mcv(f) for f in batch]
        assert encode_mcv_batch(batch) == want
        assert [encode_mcv_bytes(f) for f in batch] == want


def test_mcv_encoder_rejects_wrong_frame_count_and_short_frames() -> None:
    frames = _scroll_frames(np.array([5]))[0].reshape(MCV_FRAMES, -1).tolist()
    with pytest.raises(ValueError):
        encode_mcv_bytes(frames[:5])
    with pytest.raises(ValueError):
        encode_mcv_bytes(frames[:5] + [frames[5][:-1]])
    with pytest.raises(ValueError):
        encode_mcv_batch(_scroll_frames(np.array([5, 6]))[:, :5])


def test_codec_bit_layer_lives_in_bitio() -> None:
    """Layering: `operators/bitio.py` holds the package's only bit
    reader and writer, and no operator takes a bit-layer name from
    another codec. Nothing may be imported from `operators.flac`; an
    import from `operators.mdct` (the MPEG framing reuses its granule
    coder) may take neither a private name nor one bitio defines."""
    import ast
    from pathlib import Path

    from ds_mapreduce_spark.operators import bitio

    ops = Path(bitio.__file__).parent
    tree = ast.parse((ops / "bitio.py").read_text())
    bit_names = {
        n.name
        for n in tree.body
        if isinstance(n, (ast.ClassDef, ast.FunctionDef))
    }
    assert {"BitReader", "BitWriter", "read_ue", "write_ue"} <= bit_names
    bad = []
    for path in sorted(ops.glob("*.py")):
        if path.name == "bitio.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ClassDef) and (
                "BitReader" in node.name or "BitWriter" in node.name
            ):
                bad.append(f"{path.name}: class {node.name}")
            if not isinstance(node, ast.ImportFrom) or not node.module:
                continue
            source = node.module.rsplit(".", 1)[-1]
            if node.level == 0 and not node.module.startswith(
                "ds_mapreduce_spark.operators."
            ):
                continue
            names = [a.name for a in node.names]
            if source == "flac" or (
                source == "mdct"
                and any(n.startswith("_") or n in bit_names for n in names)
            ):
                bad.append(f"{path.name}: from {node.module} import {names}")
    assert not bad, bad


def test_crc8_many_matches_crc8() -> None:
    rng = random.Random(0xC8C8)
    sizes = list(range(65)) + [255, 517]
    buf = bytes(rng.randrange(256) for _ in range(sum(sizes) + 100))
    starts, ends, at = [], [], 0
    for n in sizes:
        starts.append(at)
        ends.append(at + n)
        at += n
    # unsorted ranges, overlapping ones and empty ones at odd offsets
    order = list(range(len(sizes)))
    rng.shuffle(order)
    starts = [starts[i] for i in order] + [7, 0, len(buf), 3]
    ends = [ends[i] for i in order] + [7, len(buf), len(buf), 600]
    got = crc8_many(buf, starts, ends)
    assert got.tolist() == [crc8(buf[s:e]) for s, e in zip(starts, ends)]
    assert crc8_many(buf, [], []).tolist() == []
    assert crc8_many(np.frombuffer(buf, dtype=np.uint8), [5], [9]).tolist() == [
        crc8(buf[5:9])
    ]


# ---- MCV batch decoder: parse_mcv plus per-document reconstruction
def _ref_features(payload: bytes) -> list[tuple]:
    """The per-document decode the batch decoder replaced: parse_mcv,
    then frame by frame the motion-compensated reconstruction."""
    frames, spans = parse_mcv(payload)
    out, prev = [], None
    for t, blocks in enumerate(frames):
        qs = np.stack([q for _dy, _dx, q in blocks])
        if t == 0:
            recon_b = _idct_blocks(qs * MCV_QI) + 128
        else:
            preds = np.stack(
                [
                    prev[by0 + dy : by0 + dy + 8, bx0 + dx : bx0 + dx + 8]
                    for (dy, dx, _q), (by0, bx0) in zip(blocks, _block_origins())
                ]
            )
            recon_b = preds + _idct_blocks(qs * MCV_QP)
        prev = _from_blocks(np.clip(recon_b, 0, 255))
        out.append(
            (
                t,
                int(prev.sum()),
                int((prev * prev).sum()),
                sum(abs(dy) + abs(dx) for dy, dx, _ in blocks),
                spans[t][1] - spans[t][0],
            )
        )
    return out


def _batch_features(payloads: list[bytes]) -> list[list[tuple]]:
    f = mcv_features_batch(payloads)
    out = [[] for _ in payloads]
    cols = ("frame_id", "sum_v", "sum_sq_v", "sum_abs_mv", "frame_bytes")
    for i, row in enumerate(f["row"].tolist()):
        out[row].append(tuple(int(f[c][i]) for c in cols))
    return out


def _counting_parse(monkeypatch) -> list[int]:
    calls = []

    def counted(payload):
        calls.append(1)
        return parse_mcv(payload)

    monkeypatch.setattr(mcv, "parse_mcv", counted)
    return calls


def test_mcv_batch_decoder_matches_per_document_reference(monkeypatch) -> None:
    payloads = [
        p
        for k in range(0, 500, 125)
        for p in encode_mcv_batch(_scroll_frames(np.arange(1 + k, 126 + k)))
    ]
    want = [_ref_features(p) for p in payloads]
    calls = _counting_parse(monkeypatch)
    got, start = [], 0
    for size in itertools.cycle([0, 1, 7, 131]):
        if start >= len(payloads):
            break
        batch = payloads[start : start + size]
        got += _batch_features(batch)
        assert mcv_frame_spans_batch(batch) == [parse_mcv(p)[1] for p in batch]
        start += size
    assert got == want
    # graded payloads never leave the batch walk (the spans check above
    # calls the real parse_mcv, not the counted one)
    assert calls == []

    rng = np.random.default_rng(2025)
    shape = (24, MCV_FRAMES, MCV_H, MCV_W)
    noise = encode_mcv_batch(rng.integers(0, 256, size=shape))
    first = _scroll_frames(np.array([42]))[:, :1]
    still = encode_mcv_batch(np.repeat(first, MCV_FRAMES, axis=1))
    for batch in (noise, still):
        assert _batch_features(batch) == [_ref_features(p) for p in batch]
    assert calls == []
    # the all-skip static scene: 4-byte P-frames at the end
    assert [f[4] for f in _batch_features(still)[0]][3:] == [4, 4, 4]
    frames = decode_mcv_frames(still[0])
    assert len(frames) == MCV_FRAMES and (frames[-1] == frames[2]).all()


def _two_frame_container() -> bytes:
    """A 2-frame container (not the standard header): all-zero intra
    frame, then a P-frame of (0, 0) vectors and one coded block."""
    out = bytearray(
        MCV_MAGIC
        + struct.pack("<HHBBBB", MCV_W, MCV_H, 2, MCV_QI, MCV_QP, MCV_SEARCH)
    )
    w = BitWriter()
    for _blk in range(6):
        w.write(1, 1)
    w.align()
    coded = w.getvalue()
    out += coded + bytes([crc8(coded)])
    w = BitWriter()
    for blk in range(6):
        write_ue(w, zigzag(0))
        write_ue(w, zigzag(0))
        w.write(blk != 4, 1)
        if blk == 4:
            for k in range(64):
                write_ue(w, zigzag(k % 5 - 2))
    w.align()
    coded = w.getvalue()
    return bytes(out + coded + bytes([crc8(coded)]))


def _long_code_container() -> bytes:
    """A standard container whose first intra coefficient is coded with
    31 leading zeros (value 2^31 - 2 folded): valid, but past the batch
    walk's 28-zero bound."""
    w = BitWriter()
    w.write(0, 1)
    write_ue(w, (1 << 31) - 2)
    for _ in range(63):
        write_ue(w, 0)
    for _blk in range(5):
        w.write(1, 1)
    w.align()
    coded = w.getvalue()
    frame0 = coded + bytes([crc8(coded)])
    base = encode_mcv_bytes(_scroll_frames(np.array([3]))[0])
    spans = parse_mcv(base)[1]
    return base[:12] + frame0 + base[spans[1][0] :]


def test_mcv_batch_decoder_per_document_path(monkeypatch) -> None:
    graded = encode_mcv_batch(_scroll_frames(np.arange(1, 4)))
    odd = [_two_frame_container(), _long_code_container()]
    assert mcv._walk_batch(odd)[0].tolist() == []
    batch = [graded[0], odd[0], graded[1], odd[1], graded[2]]
    want = [_ref_features(p) for p in batch]
    assert len(want[1]) == 2 and want[3][0][2] > 0
    calls = _counting_parse(monkeypatch)
    assert _batch_features(batch) == want
    assert len(calls) == 2
    assert mcv_frame_spans_batch(batch) == [parse_mcv(p)[1] for p in batch]
    assert len(decode_mcv_frames(odd[0])) == 2


def test_mcv_batch_decoder_raises_the_first_rejected_documents_error() -> None:
    good = encode_mcv_batch(_scroll_frames(np.arange(1, 4)))
    bad_crc = bytearray(good[1])
    bad_crc[40] ^= 0x10
    trailing = good[2] + b"\x00"
    for first, second in ((bytes(bad_crc), trailing), (trailing, bytes(bad_crc))):
        with pytest.raises(ValueError) as want:
            parse_mcv(first)
        batch = [good[0], first, good[1], second, good[2]]
        for decode in (mcv_features_batch, mcv_frame_spans_batch):
            with pytest.raises(ValueError) as got:
                decode(batch)
            assert str(got.value) == str(want.value)


def test_mcv_batch_walk_never_accepts_what_parse_mcv_rejects() -> None:
    """Seeded mutations of graded payloads: bit flips, truncations,
    garbage bytes, inserted and deleted bytes, and bit flips followed
    by a repaired frame CRC (so the syntax checks, not the CRC, must
    catch them). Every payload the batch walk accepts, parse_mcv
    accepts with the same blocks, vectors and spans."""
    rng = random.Random(0x3C71)
    base = encode_mcv_batch(_scroll_frames(np.arange(1, 41)))
    mutants = []
    for trial in range(5200):
        p = base[trial % len(base)]
        b = bytearray(p)
        op = trial % 6
        if op == 0:
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        elif op == 1:
            b = b[: rng.randrange(len(b))]
        elif op == 2:
            for _ in range(rng.randrange(1, 4)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 3:
            b.insert(rng.randrange(len(b) + 1), rng.randrange(256))
        elif op == 4:
            del b[rng.randrange(len(b))]
        else:
            spans = parse_mcv(p)[1]
            s, e = spans[rng.randrange(len(spans))]
            for _ in range(rng.randrange(1, 3)):
                b[rng.randrange(s, e - 1)] ^= 1 << rng.randrange(8)
            b[e - 1] = crc8(bytes(b[s : e - 1]))
        mutants.append(bytes(b))
    accepted = rejected = 0
    for k in range(0, len(mutants), 125):
        batch = mutants[k : k + 125]
        rows, q, mvs, spans = mcv._walk_batch(batch)
        walked = dict(zip(rows.tolist(), range(len(rows))))
        for i, p in enumerate(batch):
            try:
                frames, want_spans = parse_mcv(p)
            except ValueError:
                rejected += 1
                assert i not in walked
                continue
            if i not in walked:
                continue
            accepted += 1
            j = walked[i]
            assert spans[j].tolist() == [list(sp) for sp in want_spans]
            for t, blocks in enumerate(frames):
                for b, (dy, dx, blk) in enumerate(blocks):
                    assert mvs[j, t, b].tolist() == [dy, dx]
                    assert (q[j, t, b] == blk).all()
    # most mutants are rejected, and the CRC-repaired ones give the
    # walk real accept decisions to make
    assert rejected > 4000 and accepted > 100, (rejected, accepted)
