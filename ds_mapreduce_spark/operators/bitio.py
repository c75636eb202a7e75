"""The codec bit layer: MSB-first bit packing and unpacking, the CRC-8
and CRC-16 checks, exp-Golomb and zigzag folds, RIFF chunk framing, and
the parse-boundary rule that turns low-level corruption into
ValueError.

FLAC, MDCT, MCV, MPEG framing and Annex-B all share this reader and
writer; JPEG writes each restart segment with the writer (pad bit 1)
and applies 0xFF00 stuffing to the finished segment. Every batch read
is bit-identical to the sequential loop it replaced — same values,
same reader state left behind, same ValueError on truncation — which
`tests/test_bitio_batch.py` differential-locks.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

# ---------------------------------------------------------------- CRCs
# CRC-8: poly x^8+x^2+x+1 (0x07), init 0, MSB-first (RFC 9639 §9.1.5)
# CRC-16: poly x^16+x^15+x^2+1 (0x8005), init 0, MSB-first (§9.3)
_CRC8_TABLE = []
for _b in range(256):
    _r = _b
    for _ in range(8):
        _r = ((_r << 1) ^ 0x07 if _r & 0x80 else _r << 1) & 0xFF
    _CRC8_TABLE.append(_r)

_CRC16_TABLE = []
for _b in range(256):
    _r = _b << 8
    for _ in range(8):
        _r = ((_r << 1) ^ 0x8005 if _r & 0x8000 else _r << 1) & 0xFFFF
    _CRC16_TABLE.append(_r)


# Slice-by-16 (r16): CRC over a 0-init MSB-first LFSR is GF(2)-linear
# in the byte stream, so crc(b0..b15 from state r) decomposes into 16
# independent table lookups XORed together — _CRC*_SLICE[k][v] is the
# crc of byte v followed by k zero bytes, and the running state folds
# into the first byte(s) of each group. One Python loop iteration per
# 16 bytes instead of per byte; bit-identical to the byte loop
# (tests/test_bitio_batch.py differential-locks both).
_CRC8_SLICE = [_CRC8_TABLE]
for _ in range(15):
    _CRC8_SLICE.append([_CRC8_TABLE[x] for x in _CRC8_SLICE[-1]])

_CRC16_SLICE = [_CRC16_TABLE]
for _ in range(15):
    _CRC16_SLICE.append(
        [((x << 8) & 0xFFFF) ^ _CRC16_TABLE[x >> 8] for x in _CRC16_SLICE[-1]]
    )


def crc8(data: bytes) -> int:
    r = 0
    n = len(data)
    m = n - (n & 15)
    T = _CRC8_SLICE
    i = 0
    while i < m:
        b = data[i : i + 16]
        r = (
            T[15][b[0] ^ r] ^ T[14][b[1]] ^ T[13][b[2]] ^ T[12][b[3]]
            ^ T[11][b[4]] ^ T[10][b[5]] ^ T[9][b[6]] ^ T[8][b[7]]
            ^ T[7][b[8]] ^ T[6][b[9]] ^ T[5][b[10]] ^ T[4][b[11]]
            ^ T[3][b[12]] ^ T[2][b[13]] ^ T[1][b[14]] ^ T[0][b[15]]
        )
        i += 16
    for byte in data[m:]:
        r = _CRC8_TABLE[r ^ byte]
    return r


_CRC8_NP = np.array(_CRC8_TABLE, dtype=np.uint8)


def crc8_many(buf, starts, ends) -> np.ndarray:
    """``crc8(buf[s:e])`` of every range, all ranges stepped together
    through the byte table: one numpy step per byte of the longest
    range instead of one Python loop per range. Ranges run longest
    first, so step k updates a prefix of them."""
    data = np.frombuffer(buf, dtype=np.uint8)
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(ends, dtype=np.int64) - starts
    order = np.argsort(-lens, kind="stable")
    s, neg = starts[order], -lens[order]
    r = np.zeros(len(s), dtype=np.uint8)
    longest = int(-neg[0]) if len(neg) else 0
    # live[k]: how many ranges are longer than k bytes
    live = np.searchsorted(neg, -np.arange(longest), side="left")
    for k, m in enumerate(live.tolist()):
        r[:m] = _CRC8_NP[r[:m] ^ data[s[:m] + k]]
    out = np.empty_like(r)
    out[order] = r
    return out


def crc16(data: bytes) -> int:
    r = 0
    n = len(data)
    m = n - (n & 15)
    T = _CRC16_SLICE
    i = 0
    while i < m:
        b = data[i : i + 16]
        r = (
            T[15][b[0] ^ (r >> 8)] ^ T[14][b[1] ^ (r & 0xFF)]
            ^ T[13][b[2]] ^ T[12][b[3]] ^ T[11][b[4]] ^ T[10][b[5]]
            ^ T[9][b[6]] ^ T[8][b[7]] ^ T[7][b[8]] ^ T[6][b[9]]
            ^ T[5][b[10]] ^ T[4][b[11]] ^ T[3][b[12]] ^ T[2][b[13]]
            ^ T[1][b[14]] ^ T[0][b[15]]
        )
        i += 16
    for byte in data[m:]:
        r = ((r << 8) & 0xFFFF) ^ _CRC16_TABLE[(r >> 8) ^ byte]
    return r


def corruption_to_value_error(fn):
    """Parse-boundary exception hygiene: a corrupt container must fail
    with ValueError (the documented contract every codec test keys
    on). Truncation or bit damage deep inside a parser can surface as
    IndexError (raw byte indexing), struct.error (short fixed-width
    field), or OverflowError (a damaged varint decoding to an absurd
    magnitude that numpy's int64 rejects) — all still 'corrupt input'.
    Found by fuzzing every parser with random mutations
    (tests/test_codec_fuzz.py); applied at the public parse/decode
    entry points only, so real logic bugs inside encoders still
    surface raw."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (IndexError, struct.error, OverflowError) as exc:
            raise ValueError(
                f"corrupt container: {type(exc).__name__}: {exc}"
            ) from exc

    return wrapped


# ------------------------------------------------------------ bit I/O
class BitWriter:
    """MSB-first bit packer (the FLAC bit order)."""

    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, value: int, nbits: int) -> None:
        acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        n = self._nbits + nbits
        nbytes = n >> 3
        if nbytes:
            n &= 7
            # whole bytes leave through int.to_bytes (C speed) — the
            # r16 replacement for the per-byte Python shift loop; large
            # fused writes (folded exp-Golomb blocks) hit this hard
            self._out += (acc >> n).to_bytes(nbytes, "big")
            acc &= (1 << n) - 1
        self._acc = acc
        self._nbits = n

    def align(self, pad: int = 0) -> None:
        """Fill to the byte boundary with ``pad`` bits: 0 for the
        bit-packed codecs, 1 for JPEG (T.81 §F.1.2.3)."""
        if self._nbits:
            k = 8 - self._nbits
            self.write((1 << k) - 1 if pad else 0, k)

    def getvalue(self) -> bytes:
        assert self._nbits == 0, "unaligned"
        return bytes(self._out)


class BitReader:
    """MSB-first bit unpacker; over-reads raise (truncation is loud).

    Accumulator form (r16): whole bytes refill a small integer
    accumulator and each read consumes it in one arithmetic step — the
    per-bit Python loop was the dominant cost of every Rice/exp-Golomb
    decode (measured ~5x on the exp-Golomb microbench). The refill
    stops as soon as a read is satisfiable, so at every call boundary
    fewer than 8 unconsumed bits are held and byte/bit positions stay
    exact for the align()/byte_pos container bookkeeping."""

    __slots__ = ("_data", "_fb", "_acc", "_navail")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._data = data
        self._fb = pos  # next byte index to pull into the accumulator
        self._acc = 0
        self._navail = 0  # refilled-but-unconsumed bit count

    def read(self, nbits: int) -> int:
        navail = self._navail
        acc = self._acc
        data = self._data
        fb = self._fb
        n = len(data)
        while navail < nbits:
            if fb >= n:
                raise ValueError("FLAC bitstream truncated")
            acc = (acc << 8) | data[fb]
            fb += 1
            navail += 8
        navail -= nbits
        v = (acc >> navail) & ((1 << nbits) - 1)
        self._acc = acc & ((1 << navail) - 1)
        self._navail = navail
        self._fb = fb
        return v

    def _truncated(self, fb: int, acc: int, navail: int):
        """Truncation exit of the batch reads: push the refilled but
        unconsumed whole bytes back (the code being read is not
        consumed), then raise."""
        back = navail >> 3
        self._fb = fb - back
        self._navail = navail - (back << 3)
        self._acc = acc >> (back << 3)
        raise ValueError("FLAC bitstream truncated")

    def read_ue_many(self, count: int) -> list:
        """``count`` exp-Golomb ue(v) codes in one call (r16).

        8-byte chunks refill the accumulator (keeping it in small-int
        range — a wider refill makes every per-code shift/mask a
        multiword bigint op, measured ~16% slower) and each code is
        consumed with one bit_length + shift/mask step, so the per-code
        Python overhead (three method calls and a byte-at-a-time
        refill) disappears. Bit-identical to ``count`` bit-serial ue
        reads, including the truncation failure point (differential-
        tested over randomized split/truncation trials). Unconsumed
        whole bytes are pushed back on exit so the <8-bit invariant
        that align()/byte_pos rely on still holds."""
        data = self._data
        fb = self._fb
        acc = self._acc
        navail = self._navail
        n = len(data)
        out = []
        for _ in range(count):
            top = acc.bit_length()
            while not top:  # only zeros held: refill for the unary run
                if fb >= n:
                    self._truncated(fb, acc, navail)
                take = min(8, n - fb)
                acc = (acc << (take << 3)) | int.from_bytes(
                    data[fb : fb + take], "big"
                )
                fb += take
                navail += take << 3
                top = acc.bit_length()
            lz = navail - top  # leading zeros of this code
            while top - 1 < lz:  # suffix not fully refilled yet
                if fb >= n:
                    self._truncated(fb, acc, navail)
                take = min(8, n - fb)
                acc = (acc << (take << 3)) | int.from_bytes(
                    data[fb : fb + take], "big"
                )
                fb += take
                navail += take << 3
                top += take << 3
            shift = top - 1 - lz
            out.append((acc >> shift) - 1)  # (1<<lz | suffix) - 1
            navail = shift
            acc &= (1 << shift) - 1
        back = navail >> 3
        self._fb = fb - back
        self._navail = navail - (back << 3)
        self._acc = acc >> (back << 3)
        return out

    def read_many(self, nbits: int, count: int) -> np.ndarray:
        """``count`` fixed-width ``nbits``-bit fields in one vectorized
        step (r16): numpy unpacks the covered bit range and one matmul
        folds each row — bit-identical to ``count`` sequential
        read(nbits) calls, including the truncation ValueError when
        the range overruns the stream. Exact for nbits <= 62."""
        total = nbits * count
        start_bit = self._fb * 8 - self._navail
        end_bit = start_bit + total
        data = self._data
        if end_bit > len(data) * 8:
            raise ValueError("FLAC bitstream truncated")
        b0 = start_bit >> 3
        b1 = (end_bit + 7) >> 3
        bits = np.unpackbits(
            np.frombuffer(data, dtype=np.uint8, count=b1 - b0, offset=b0)
        )
        off = start_bit - (b0 << 3)
        seg = bits[off : off + total].reshape(count, nbits).astype(np.int64)
        weights = np.int64(1) << np.arange(
            nbits - 1, -1, -1, dtype=np.int64
        )
        vals = seg @ weights
        # re-establish the <8-held-bits invariant from the data itself
        fb = (end_bit + 7) >> 3
        navail = (fb << 3) - end_bit
        self._fb = fb
        self._navail = navail
        self._acc = data[fb - 1] & ((1 << navail) - 1) if navail else 0
        return vals

    def read_rice_many(self, param: int, count: int) -> list:
        """``count`` Rice codes (unary quotient as zero bits plus a
        one bit, then ``param`` low bits) in one call, returning the
        folded values u = (q<<param)|low, with the same refill/push-back
        contract as read_ue_many."""
        data = self._data
        fb = self._fb
        acc = self._acc
        navail = self._navail
        n = len(data)
        low_mask = (1 << param) - 1
        out = []
        for _ in range(count):
            top = acc.bit_length()
            while not top:
                if fb >= n:
                    self._truncated(fb, acc, navail)
                take = min(8, n - fb)
                acc = (acc << (take << 3)) | int.from_bytes(
                    data[fb : fb + take], "big"
                )
                fb += take
                navail += take << 3
                top = acc.bit_length()
            q = navail - top
            while top - 1 < param:
                if fb >= n:
                    self._truncated(fb, acc, navail)
                take = min(8, n - fb)
                acc = (acc << (take << 3)) | int.from_bytes(
                    data[fb : fb + take], "big"
                )
                fb += take
                navail += take << 3
                top += take << 3
            shift = top - 1 - param
            out.append((q << param) | ((acc >> shift) & low_mask))
            navail = shift
            acc &= (1 << shift) - 1
        back = navail >> 3
        self._fb = fb - back
        self._navail = navail - (back << 3)
        self._acc = acc >> (back << 3)
        return out

    def align(self) -> None:
        # fewer than 8 bits are ever held between reads, so aligning
        # to the next byte boundary just discards the remainder
        if (self._fb * 8 - self._navail) & 7:
            self._acc = 0
            self._navail = 0

    @property
    def byte_pos(self) -> int:
        consumed = self._fb * 8 - self._navail
        assert consumed & 7 == 0
        return consumed >> 3

    @property
    def bit_pos(self) -> int:
        """Bit offset within the current byte (0 = byte-aligned)."""
        return (self._fb * 8 - self._navail) & 7


# ------------------------------------------------- folds and ue(v) codes
def zigzag(r: int) -> int:
    return (r << 1) if r >= 0 else ((-r) << 1) - 1


def unzigzag(u: int) -> int:
    return (u >> 1) if u % 2 == 0 else -((u + 1) >> 1)


def write_ue(w: BitWriter, u: int) -> None:
    """Unsigned Exp-Golomb: floor(log2(u+1)) zero bits, then u+1 in
    binary — 2*bitlength(u+1)-1 bits total (the closed form the MDCT
    oracle prices payload bytes with)."""
    nbits = (u + 1).bit_length()
    w.write(u + 1, 2 * nbits - 1)


def read_ue(r: BitReader) -> int:
    return r.read_ue_many(1)[0]


# ------------------------------------------------------------ RIFF
def riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    """One RIFF chunk: fourcc, u32 LE size, data, and the pad byte that
    word-aligns an odd-sized chunk."""
    out = fourcc + struct.pack("<I", len(data)) + data
    if len(data) % 2:
        out += b"\x00"
    return out
