"""REAL lossless predictive AUDIO codec (r9): a FLAC stream (RFC 9639
subset) implemented from the spec — the fourth entropy-coding family
in the repo (Huffman=JPEG, LZW=GIF, DEFLATE=PNG, and now RICE/GOLOMB)
and the fourth audio codec CLASS (raw PCM container, memoryless lossy
mu-law, adaptive lossy ADPCM, and now PREDICTIVE LOSSLESS): each frame
picks a fixed linear predictor (orders 0-2) and Rice-codes the
residual with a per-frame parameter, so compression adapts to the
signal while reconstruction is exactly the input.

Everything is hand-written at the BIT level from RFC 9639:

- `fLaC` magic + STREAMINFO metadata block (block sizes, frame-size
  bounds, 20-bit sample rate / 3-bit channels / 5-bit bps / 36-bit
  total-samples bitfield, and the spec's 16-byte MD5 of the unencoded
  PCM — the container's OWN lossless proof, which the decoder
  verifies against what it reconstructed);
- frame headers with the 14-bit sync code, the spec's blocksize /
  sample-rate / channel / sample-size code tables, the UTF-8-style
  coded frame number, and a CRC-8 (poly 0x07) the decoder checks;
- subframes: FIXED predictor orders 0-2 (verbatim warmup samples,
  residual r0=x, r1=x[i]-x[i-1], r2=x[i]-2x[i-1]+x[i-2]), chosen per
  frame by minimal total encoded bits (ties to the lower order —
  deterministic, so the byte stream is reproducible);
- residuals: 4-bit Rice coding (zigzag fold, unary quotient as
  q zero-bits + 1, param-bit remainder), partition order 0, with the
  spec's 0b1111 ESCAPE to raw fixed-width storage whenever that beats
  every Rice parameter — both coders implemented on both sides;
- frame footer CRC-16 (poly 0x8005) over the whole frame, checked.

The decoder walks the container field by field and fails loudly on a
bad magic, sync, reserved bit, CRC-8, CRC-16, frame-size bound, or
STREAMINFO-MD5 mismatch — corrupt payloads cannot decode quietly.

Grading: the codec is LOSSLESS, so the query's oracle is the same
analytic PCM formula as `multimodal_wav_roundtrip` — parity proves
predict -> Rice -> bitpack -> container -> parse -> unpack ->
reconstruct is the identity on every sample (the PNG/DEFLATE
precedent, entropy-coding edition). tests/test_flac.py additionally
locks the CRC polynomials against published check values, Rice and
UTF-8 coding by brute-force roundtrip, and the tamper paths.

Scale notes (100 TB): one fused Arrow-batched ``mapInPandas``,
map-only, zero data-bearing shuffles beyond the narrow-key spread
(`plans/multimodal_queries.py:_doc_ids_spread`). Frames are
decode-independent once STREAMINFO is read (fixed-blocksize streams
seek by frame number — the same intra-payload parallelism seam as
JPEG restarts and ADPCM blocks). The payload width tracks the
signal's ACTUAL entropy: smooth signals collapse to near-zero
residuals (order-2 + tiny Rice params — tests/test_flac.py pins a
>5x compression on a triangle wave), while the graded synthetic PCM
is deliberately max-entropy noise, so there the coder correctly
lands at the raw bound (high-param Rice / escape) instead of
pretending to compress — that adaptivity IS what parity exercises.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame

from ds_mapreduce_spark.operators.bitio import (
    BitReader,
    BitWriter,
    corruption_to_value_error,
    crc8,
    crc16,
    unzigzag,
)
from ds_mapreduce_spark.operators.multimodal import (
    PAYLOAD_SCHEMA,
    WAV_FEATURE_SCHEMA,
    WAV_SAMPLE_RATE,
    arrow_stage,
    pcm_feature_sums,
)

#: fixed encoder blocksize — 256 has a direct 4-bit code (0b1000) in
#: the frame-header table; partial final frames use the 16-bit
#: end-of-header field (code 0b0111)
FLAC_BLOCK_SIZE = 256
FLAC_BPS = 16
#: highest usable 4-bit Rice parameter (0b1111 is the escape code)
_MAX_RICE_PARAM = 14


# ----------------------------------------------- coded (UTF-8-style) numbers
def utf8_code(n: int) -> bytes:
    """RFC 9639 §9.1.4 coded number: UTF-8's length/continuation shape
    extended to 36-bit values (7-byte form). Frame numbers in
    fixed-blocksize streams use this encoding."""
    if n < 0 or n >= 1 << 36:
        raise ValueError(f"coded number out of range: {n}")
    if n < 0x80:
        return bytes([n])
    for nbytes, bits in ((2, 11), (3, 16), (4, 21), (5, 26), (6, 31), (7, 36)):
        if n < 1 << bits:
            # lead byte: nbytes ones, a zero, then the top 7-nbytes
            # value bits (for nbytes=7 the lead byte is 0xFE exactly)
            first = ((0xFF << (8 - nbytes)) & 0xFF) | (n >> (6 * (nbytes - 1)))
            rest = [
                0x80 | ((n >> (6 * k)) & 0x3F)
                for k in range(nbytes - 2, -1, -1)
            ]
            return bytes([first] + rest)
    raise AssertionError


def utf8_decode(data: bytes, pos: int) -> tuple[int, int]:
    """-> (value, new_pos); rejects malformed lead/continuation bytes."""
    first = data[pos]
    if first < 0x80:
        return first, pos + 1
    nbytes = 0
    for k in range(7, -1, -1):
        if first & (1 << k):
            nbytes += 1
        else:
            break
    if nbytes < 2 or nbytes > 7:
        raise ValueError(f"bad coded-number lead byte {first:#x}")
    v = first & ((1 << (7 - nbytes)) - 1)
    for i in range(1, nbytes):
        b = data[pos + i]
        if b & 0xC0 != 0x80:
            raise ValueError(f"bad coded-number continuation {b:#x}")
        v = (v << 6) | (b & 0x3F)
    return v, pos + nbytes


# -------------------------------------------------------- Rice coding
def _best_residual_coding(residuals) -> tuple[int, int, int]:
    """-> (param, raw_width, bits incl. the 4-bit param field):
    param == -1 means the spec's escape (raw fixed-width two's
    complement) beat every Rice parameter. Deterministic: lowest
    winning param, escape only on a strict win. Vectorized (r16): one
    (n, params) shift table prices every parameter at once; argmin's
    first-minimum rule IS the lowest-winning-param tie-break."""
    res = np.asarray(residuals, dtype=np.int64)
    n = len(res)
    folded = np.where(res >= 0, res << 1, ((-res) << 1) - 1)
    params = np.arange(_MAX_RICE_PARAM + 1, dtype=np.int64)
    bits = (folded[:, None] >> params[None, :]).sum(axis=0) + (1 + params) * n
    best_param = int(np.argmin(bits))
    best_bits = int(bits[best_param])
    # raw width must cover the two's-complement range of every
    # residual: bit_length+1 adds the sign bit (0 -> width 1)
    raw_width = (int(np.abs(res).max()).bit_length() + 1) if n else 1
    raw_total = 4 + 5 + raw_width * n
    rice_total = 4 + best_bits
    if raw_total < rice_total:
        return -1, raw_width, raw_total
    return best_param, 0, rice_total


# ---------------------------------------------------- fixed predictors
def _residuals(samples: list[int], order: int) -> list[int]:
    if order == 0:
        return list(samples)
    s = np.asarray(samples, dtype=np.int64)
    if order == 1:
        return (s[1:] - s[:-1]).tolist()
    return (s[2:] - 2 * s[1:-1] + s[:-2]).tolist()


def _reconstruct(warmup: list[int], residuals: list[int], order: int) -> list[int]:
    if order == 0:
        return list(residuals)
    # a corrupt stream can Rice-decode absurd residuals; the closed
    # forms below must stay exact, so fall back to Python ints (no
    # int64 ceiling) outside the provably-safe magnitude window
    if residuals and max(map(abs, residuals)) > (1 << 62) // (len(residuals) + 2) ** 2:
        out = list(warmup)
        if order == 1:
            for r in residuals:
                out.append(r + out[-1])
            return out
        for r in residuals:
            out.append(r + 2 * out[-1] - out[-2])
        return out
    res = np.asarray(residuals, dtype=np.int64)
    if order == 1:
        return [warmup[0]] + (warmup[0] + np.cumsum(res)).tolist()
    # order 2: first differences integrate once, samples twice
    d = (warmup[1] - warmup[0]) + np.cumsum(res)
    return [warmup[0], warmup[1]] + (warmup[1] + np.cumsum(d)).tolist()


# ------------------------------------------------------------ encoder
def _encode_frame(samples: list[int], frame_number: int) -> bytes:
    bs = len(samples)
    # pick the fixed-predictor order with the fewest total bits
    # (warmup + residual coding); ties go to the lower order
    best = None
    for order in (0, 1, 2):
        if bs <= order:
            continue
        res = _residuals(samples, order)
        param, raw_width, res_bits = _best_residual_coding(res)
        # 8 = subframe header (pad+type+wasted), 6 = method+partition
        total = 8 + order * FLAC_BPS + 6 + res_bits
        if best is None or total < best[0]:
            best = (total, order, res, param, raw_width)
    _, order, res, param, raw_width = best

    # ---- byte-aligned frame header, then CRC-8
    header = BitWriter()
    header.write(0b11111111111110, 14)  # sync
    header.write(0, 1)  # reserved
    header.write(0, 1)  # blocking strategy: fixed blocksize
    bs_code = 0b1000 if bs == FLAC_BLOCK_SIZE else 0b0111
    header.write(bs_code, 4)
    header.write(0b0100, 4)  # sample rate: 8 kHz
    header.write(0b0000, 4)  # channel assignment: mono
    header.write(0b100, 3)  # sample size: 16-bit
    header.write(0, 1)  # reserved
    header.align()
    head = bytearray(header.getvalue())
    head += utf8_code(frame_number)
    if bs_code == 0b0111:
        head += struct.pack(">H", bs - 1)
    head.append(crc8(bytes(head)))

    # ---- subframe (bit-packed) + padding + CRC-16
    body = BitWriter()
    body.write(0, 1)  # zero padding bit
    body.write(0b001000 | order, 6)  # FIXED, order 0-2
    body.write(0, 1)  # no wasted bits
    for s in samples[:order]:
        body.write(s & 0xFFFF, FLAC_BPS)  # warmup, two's complement
    body.write(0b00, 2)  # residual method: 4-bit Rice
    body.write(0, 4)  # partition order 0
    resv = np.asarray(res, dtype=np.int64)
    if param < 0:
        body.write(0b1111, 4)  # escape
        body.write(raw_width, 5)
        # whole residual train folded to one integer via a vectorized
        # bit matrix (r16) — bit-identical to the per-sample
        # write(r & mask, raw_width) loop, in ONE writer call
        if len(resv):
            shifts = np.arange(raw_width - 1, -1, -1, dtype=np.int64)
            bits = ((resv[:, None] >> shifts[None, :]) & 1).astype(
                np.uint8
            ).ravel()
            total = raw_width * len(resv)
            acc = int.from_bytes(np.packbits(bits).tobytes(), "big") >> (
                (-total) % 8
            )
            body.write(acc, total)
    else:
        body.write(param, 4)
        # vectorized Rice emit (r16): terminator and remainder bit
        # positions are computed for every sample at once and packed
        # into one writer call — identical bit layout to the former
        # fused-write-per-sample loop
        if len(resv):
            u = np.where(resv >= 0, resv << 1, ((-resv) << 1) - 1)
            q = u >> param
            lens = q + 1 + param
            total = int(lens.sum())
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            bits = np.zeros(total, dtype=np.uint8)
            terms = starts + q
            bits[terms] = 1
            if param:
                idx = (
                    terms[:, None]
                    + 1
                    + np.arange(param, dtype=np.int64)[None, :]
                ).ravel()
                sb = (
                    (
                        u[:, None]
                        >> np.arange(param - 1, -1, -1, dtype=np.int64)[None, :]
                    )
                    & 1
                ).astype(np.uint8).ravel()
                bits[idx] = sb
            acc = int.from_bytes(np.packbits(bits).tobytes(), "big") >> (
                (-total) % 8
            )
            body.write(acc, total)
    body.align()
    frame = bytes(head) + body.getvalue()
    return frame + struct.pack(">H", crc16(frame))


def _pack_pcm16le(samples) -> bytes:
    """Vectorized PCM16LE pack for the STREAMINFO MD5 (r16) —
    bit-identical to ``b"".join(struct.pack("<h", s) for s in
    samples)``, including the struct.error on any sample outside int16
    range (mapped to ValueError by corruption_to_value_error at the
    decode entry, exactly as the per-sample pack was)."""
    if not len(samples):
        return b""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.min() < -0x8000 or arr.max() > 0x7FFF:
        raise struct.error("short format requires -32768 <= number <= 32767")
    return arr.astype("<i2").tobytes()


def encode_flac_bytes(samples, rate: int = WAV_SAMPLE_RATE) -> bytes:
    """A complete FLAC stream: fLaC magic, STREAMINFO (last metadata
    block) with real min/max frame sizes and the spec's MD5 of the
    unencoded PCM16LE data, then fixed-blocksize frames."""
    samples = [int(s) for s in samples]
    n = len(samples)
    frames = [
        _encode_frame(samples[s0 : s0 + FLAC_BLOCK_SIZE], s0 // FLAC_BLOCK_SIZE)
        for s0 in range(0, n, FLAC_BLOCK_SIZE)
    ]
    pcm = _pack_pcm16le(samples)
    md5 = hashlib.md5(pcm).digest()
    fsizes = [len(f) for f in frames] or [0]
    last_bs = n - (len(frames) - 1) * FLAC_BLOCK_SIZE if frames else 0
    info = BitWriter()
    info.write(min(FLAC_BLOCK_SIZE, last_bs or FLAC_BLOCK_SIZE), 16)
    info.write(FLAC_BLOCK_SIZE, 16)
    info.write(min(fsizes), 24)
    info.write(max(fsizes), 24)
    info.write(rate, 20)
    info.write(0, 3)  # channels - 1
    info.write(FLAC_BPS - 1, 5)
    info.write(n, 36)
    info.align()
    streaminfo = info.getvalue() + md5
    assert len(streaminfo) == 34
    header = bytes([0x80, 0, 0, 34])  # last-block flag | type 0, len 34
    return b"fLaC" + header + streaminfo + b"".join(frames)


# ------------------------------------------------------------ decoder
@corruption_to_value_error
def parse_streaminfo(payload: bytes):
    """-> (min_bs, max_bs, min_fs, max_fs, rate, channels, bps, md5,
    n_samples, first_frame_pos) — every field read from the container;
    unknown metadata blocks are skipped by their declared length (spec
    behavior), corrupt structure raises."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (bad magic)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("metadata blocks ran past end of stream")
        head = payload[pos]
        last = bool(head & 0x80)
        btype = head & 0x7F
        length = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        block = payload[pos + 4 : pos + 4 + length]
        if len(block) != length:
            raise ValueError("truncated metadata block")
        if btype == 0:
            if length != 34:
                raise ValueError(f"STREAMINFO must be 34 bytes, got {length}")
            streaminfo = block
        pos += 4 + length
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing STREAMINFO block")
    r = BitReader(streaminfo)
    min_bs = r.read(16)
    max_bs = r.read(16)
    min_fs = r.read(24)
    max_fs = r.read(24)
    rate = r.read(20)
    channels = r.read(3) + 1
    bps = r.read(5) + 1
    n_samples = r.read(36)
    md5 = streaminfo[18:34]
    return min_bs, max_bs, min_fs, max_fs, rate, channels, bps, md5, n_samples, pos


def _decode_frame(payload: bytes, pos: int, bps: int) -> tuple[list[int], int, int]:
    """-> (samples, frame_number, new_pos); validates sync, reserved
    bits, header CRC-8 and frame CRC-16."""
    start = pos
    r = BitReader(payload, pos)
    if r.read(14) != 0b11111111111110:
        raise ValueError(f"bad frame sync at byte {pos}")
    if r.read(1) != 0:
        raise ValueError("reserved bit set in frame header")
    if r.read(1) != 0:
        raise ValueError("expected fixed-blocksize stream")
    bs_code = r.read(4)
    sr_code = r.read(4)
    chan = r.read(4)
    ss_code = r.read(3)
    if r.read(1) != 0:
        raise ValueError("reserved bit set in frame header")
    r.align()
    frame_number, bpos = utf8_decode(payload, r.byte_pos)
    if bs_code == 0b0110:
        bs = payload[bpos] + 1
        bpos += 1
    elif bs_code == 0b0111:
        (bs,) = struct.unpack(">H", payload[bpos : bpos + 2])
        bs += 1
        bpos += 2
    elif 0b1000 <= bs_code <= 0b1111:
        bs = 256 << (bs_code - 0b1000)
    elif 0b0010 <= bs_code <= 0b0101:
        bs = 576 << (bs_code - 0b0010)
    elif bs_code == 0b0001:
        bs = 192
    else:
        raise ValueError(f"reserved blocksize code {bs_code:#06b}")
    if sr_code != 0b0100:
        raise ValueError(f"unsupported sample-rate code {sr_code:#06b}")
    if chan != 0:
        raise ValueError(f"expected mono, channel assignment {chan:#06b}")
    if ss_code != 0b100:
        raise ValueError(f"expected 16-bit, sample-size code {ss_code:#05b}")
    if payload[bpos] != crc8(payload[start:bpos]):
        raise ValueError(f"frame header CRC-8 mismatch at byte {start}")

    sub = BitReader(payload, bpos + 1)
    if sub.read(1) != 0:
        raise ValueError("subframe padding bit set")
    stype = sub.read(6)
    if stype & 0b111000 != 0b001000 or (stype & 0b111) > 4:
        raise ValueError(f"unsupported subframe type {stype:#08b}")
    order = stype & 0b111
    if sub.read(1) != 0:
        raise ValueError("wasted-bits flag unsupported")
    warmup = []
    for _ in range(order):
        v = sub.read(bps)
        warmup.append(v - (1 << bps) if v >= 1 << (bps - 1) else v)
    method = sub.read(2)
    if method != 0b00:
        raise ValueError(f"unsupported residual method {method:#04b}")
    if sub.read(4) != 0:
        raise ValueError("expected partition order 0")
    n_res = bs - order
    param = sub.read(4)
    if param == 0b1111:
        width = sub.read(5)
        half = 1 << (width - 1)  # width 0: same ValueError as the old
        v = sub.read_many(width, n_res)  # per-sample loop raised here
        residuals = np.where(v >= half, v - (1 << width), v).tolist()
    else:
        residuals = [unzigzag(u) for u in sub.read_rice_many(param, n_res)]
    sub.align()
    end = sub.byte_pos
    (stored_crc,) = struct.unpack(">H", payload[end : end + 2])
    if stored_crc != crc16(payload[start:end]):
        raise ValueError(f"frame CRC-16 mismatch at byte {start}")
    return _reconstruct(warmup, residuals, order), frame_number, end + 2


@corruption_to_value_error
def decode_flac_samples(payload: bytes) -> tuple[int, list[int]]:
    """Full container decode -> (rate, samples). Verifies per-frame
    CRCs, frame numbering, the STREAMINFO frame-size bounds, the total
    sample count, and the STREAMINFO MD5 against the RECONSTRUCTED
    PCM — the spec's own end-to-end lossless check."""
    (min_bs, max_bs, min_fs, max_fs, rate, channels, bps, md5,
     n_samples, pos) = parse_streaminfo(payload)
    if channels != 1 or bps != FLAC_BPS:
        raise ValueError(f"expected mono 16-bit, got {channels}ch/{bps}b")
    out: list[int] = []
    expect_frame = 0
    while len(out) < n_samples:
        samples, frame_number, new_pos = _decode_frame(payload, pos, bps)
        if frame_number != expect_frame:
            raise ValueError(
                f"frame number {frame_number}, expected {expect_frame}"
            )
        fsize = new_pos - pos
        if not min_fs <= fsize <= max_fs:
            raise ValueError(
                f"frame size {fsize} outside STREAMINFO bounds "
                f"[{min_fs}, {max_fs}]"
            )
        out.extend(samples)
        pos = new_pos
        expect_frame += 1
    if len(out) != n_samples:
        raise ValueError(f"decoded {len(out)} samples, expected {n_samples}")
    if pos != len(payload):
        raise ValueError(f"{len(payload) - pos} trailing bytes after frames")
    pcm = _pack_pcm16le(out)
    if hashlib.md5(pcm).digest() != md5:
        raise ValueError("STREAMINFO MD5 mismatch — stream is not lossless")
    return rate, out


# ---------------------------------------------------- Spark operators
def encode_flac(df: DataFrame) -> DataFrame:
    """(doc_id, samples) -> (doc_id, payload): Arrow-batched, map-only."""
    return arrow_stage(df, lambda d, s: [(d, encode_flac_bytes(s))], PAYLOAD_SCHEMA)


def decode_flac_features(media: DataFrame) -> DataFrame:
    """(doc_id, payload) -> exact-integer amplitude features of the
    decoded signal — the shared audio-family schema, so this row's
    delta vs multimodal_wav_roundtrip prices Rice coding + prediction
    against the raw-PCM container."""

    def features(doc_id, payload):
        rate, samples = decode_flac_samples(bytes(payload))
        yield doc_id, rate, len(samples), *pcm_feature_sums(samples)

    return arrow_stage(media, features, WAV_FEATURE_SCHEMA)
