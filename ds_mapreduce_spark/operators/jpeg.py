"""REAL lossy codec (r9): baseline sequential JPEG, implemented from
the public ITU T.81 spec with stdlib + numpy — no external library.

This closes the LAST declared ``NotImplementedError`` seam class in the
multimodal family ("lossy JPEG/MP3/H.264"): lossy image compression is
now real. The encoder writes genuine JFIF files (SOI, APP0, DQT, SOF0,
DHT, SOS, entropy-coded scan with 0xFF byte stuffing, EOI — any viewer
opens them) and the decoder is a full baseline-grayscale parser: marker
walk, DQT in zigzag order, canonical Huffman tables rebuilt FROM the
container's DHT segment (not assumed), bit-unstuffing entropy decode
with the spec's EXTEND procedure, dequantize, inverse zigzag, IDCT,
level shift + clamp; restart intervals (DRI/RSTn — the spec's
intra-image parallelism seam, with byte realignment and DC-predictor
reset) are supported on both sides. Unsupported spec subsets
(progressive SOF2, multi-component color, 16-bit quant tables) raise —
the same fail-loudly contract as the WAV/PPM/PNG parsers.

Oracle strategy — the hard part of grading a LOSSY codec bit-exactly:
T.81 does NOT mandate a DCT implementation (it only bounds accuracy),
so this codec defines its DCT/IDCT as FIXED-POINT integer arithmetic
(13-bit basis table, half-away-from-zero descale — the same family of
scaled-integer transforms production decoders use). Every arithmetic
step is then an exact integer function expressible in portable SQL
(integer DIV truncates toward zero on Spark AND DuckDB — the CLAUDE.md
verified-portable list). The synthesized images are constant+step 8x8
blocks: for those, the basis table's EXACT zero row-sums (proven by
construction — odd-u rows are antisymmetric so rounded entries cancel
pairwise; even-u rows cancel in quads) mean the transform produces
exactly 5 nonzero coefficients (DC + 4 odd-u ACs, zigzag indices
1/6/15/28 — genuinely exercising run-length coding), and the decoded
pixels equal a closed-form integer formula the DuckDB oracle computes
analytically without ever seeing a JPEG byte. Parity therefore proves
the full DCT -> quantize -> Huffman -> container -> parse -> decode
chain reproduced every reconstructed pixel bit-for-bit. The brute-force
equivalence of the analytic formula vs the general pipeline over the
ENTIRE synth parameter space (192 base values x 32 step values) is
locked by tests/test_jpeg.py.

Scale notes (100 TB): both legs are Arrow-batched ``mapInPandas``,
map-only, zero shuffles beyond the narrow-key spread; the DCT/IDCT are vectorized numpy int64
matmuls over all blocks of a payload at once, only the entropy coder
is per-symbol Python. Payload width (not row count) sizes tasks via
``spark.sql.files.maxPartitionBytes``; features are written columnar
so the payload column prunes away downstream.

Reference parity note: the reference engine (C++/Rust control plane,
/root/reference/src) has no media path at all — this family implements
the mandated multimodal surface of the build brief, not a reference
operator.
"""

from __future__ import annotations

import functools
import math
import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ds_mapreduce_spark.operators.flac import corruption_to_value_error
from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B

#: synthesized image geometry — multiples of 8 (one JPEG block = 8x8)
JPEG_W = 32
JPEG_H = 16
JPEG_BLOCKS = (JPEG_W // 8) * (JPEG_H // 8)

#: fixed-point DCT: T[u][i] = round_half_away((1/2)*C(u)*cos((2i+1)u*pi/16) * 2^13)
#: with C(0)=1/sqrt(2), C(u>0)=1. DESCALE(x) = round_half_away(x / 2^13).
DCT_BITS = 13


def _round_half_away(x: float) -> int:
    return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)


DCT_T: tuple[tuple[int, ...], ...] = tuple(
    tuple(
        _round_half_away(
            0.5
            * ((1 / math.sqrt(2)) if u == 0 else 1.0)
            * math.cos((2 * i + 1) * u * math.pi / 16)
            * (1 << DCT_BITS)
        )
        for i in range(8)
    )
    for u in range(8)
)

#: step-pattern row sums (sum of first 4 entries minus sum of last 4)
#: — the only nonzero 1D responses of the s[x] = c + (x<4 ? d : -d)
#: synth blocks besides DC; exactly zero for even u by table symmetry.
DCT_STEP: dict[int, int] = {
    u: sum(DCT_T[u][:4]) - sum(DCT_T[u][4:]) for u in (1, 3, 5, 7)
}

#: standard luminance quantization table (ITU T.81 Annex K, Table K.1)
JPEG_QT: tuple[tuple[int, ...], ...] = (
    (16, 11, 10, 16, 24, 40, 51, 61),
    (12, 12, 14, 19, 26, 58, 60, 55),
    (14, 13, 16, 24, 40, 57, 69, 56),
    (14, 17, 22, 29, 51, 87, 80, 62),
    (18, 22, 37, 56, 68, 109, 103, 77),
    (24, 35, 55, 64, 81, 104, 113, 92),
    (49, 64, 78, 87, 103, 121, 120, 101),
    (72, 92, 95, 98, 112, 100, 103, 99),
)

#: standard chrominance quantization table (Annex K, Table K.2)
JPEG_QT_CHROMA: tuple[tuple[int, ...], ...] = (
    (17, 18, 24, 47, 99, 99, 99, 99),
    (18, 21, 26, 66, 99, 99, 99, 99),
    (24, 26, 56, 99, 99, 99, 99, 99),
    (47, 66, 99, 99, 99, 99, 99, 99),
    (99, 99, 99, 99, 99, 99, 99, 99),
    (99, 99, 99, 99, 99, 99, 99, 99),
    (99, 99, 99, 99, 99, 99, 99, 99),
    (99, 99, 99, 99, 99, 99, 99, 99),
)

#: fixed-point RGB<->YCbCr (this codec's definition — JFIF specifies
#: real-valued equations; we define the integer form so the lossy
#: chain stays exactly reproducible): x256 coefficient rows chosen so
#: gray maps exactly (77+150+29 = 256; chroma rows sum to 0), rounding
#: is the SAME half-away-from-zero primitive as the DCT descale.
YCC_FWD: dict[str, tuple[int, int, int]] = {
    "y": (77, 150, 29),
    "cb": (-43, -85, 128),
    "cr": (128, -107, -21),
}
#: inverse: R = Y + 359*(Cr-128)/256; G = Y + (-88*(Cb-128) - 183*(Cr-128))/256;
#: B = Y + 454*(Cb-128)/256 (then clamp) — x256 of 1.402/-0.344/-0.714/1.772
YCC_INV: dict[str, int] = {"r_cr": 359, "g_cb": -88, "g_cr": -183, "b_cb": 454}


def _zigzag_order() -> tuple[tuple[int, int], ...]:
    """The spec's zigzag scan, generated rather than transcribed:
    diagonals in order of v+u; even diagonals ascend u, odd descend."""
    return tuple(
        sorted(
            ((v, u) for v in range(8) for u in range(8)),
            key=lambda vu: (
                vu[0] + vu[1],
                vu[1] if (vu[0] + vu[1]) % 2 == 0 else -vu[1],
            ),
        )
    )


ZIGZAG: tuple[tuple[int, int], ...] = _zigzag_order()
_ZZ_ROWS = np.array([v for v, _ in ZIGZAG], dtype=np.int64)
_ZZ_COLS = np.array([u for _, u in ZIGZAG], dtype=np.int64)
#: flat raster index of zigzag position k (de-zigzag scatter target)
_ZZ_FLAT = _ZZ_ROWS * 8 + _ZZ_COLS

# ---------------------------------------------------------------------------
# Huffman tables: canonical, carried IN the container (DHT), so any
# spec-conforming decoder — including viewers — rebuilds them from the
# file. Using flat-length canonical tables (12 DC symbols at 4 bits,
# 162 AC symbols at 8 bits) instead of transcribing Annex K's optional
# example tables keeps the table provably self-consistent; DHT makes
# either choice equally standard. The all-ones codeword stays unused
# at both lengths (codes 0..11 of 0..15; 0..161 of 0..255).
# ---------------------------------------------------------------------------

_DC_SYMBOLS: tuple[int, ...] = tuple(range(12))  # DC size categories 0..11
_AC_SYMBOLS: tuple[int, ...] = (0x00, 0xF0) + tuple(
    (run << 4) | size for run in range(16) for size in range(1, 11)
)
_DC_BITS = tuple(12 if n == 4 else 0 for n in range(1, 17))
_AC_BITS = tuple(162 if n == 8 else 0 for n in range(1, 17))
#: encoder-side lookup: symbol -> (code, nbits); canonical flat-length
#: assignment is simply the symbol's index at that length
_DC_CODES = {s: (i, 4) for i, s in enumerate(_DC_SYMBOLS)}
_AC_CODES = {s: (i, 8) for i, s in enumerate(_AC_SYMBOLS)}

_QT_NP = np.array(JPEG_QT, dtype=np.int64)
_QTC_NP = np.array(JPEG_QT_CHROMA, dtype=np.int64)
_T_NP = np.array(DCT_T, dtype=np.int64)


def _da_int(x: np.ndarray, m: int) -> np.ndarray:
    """Half-away-from-zero round of x/m — the codec's single rounding
    primitive, shared by DCT descale, quantization, and the color
    transforms (and mirrored by the SQL oracles' CASE form)."""
    x = np.asarray(x, dtype=np.int64)
    return np.sign(x) * ((2 * np.abs(x) + m) // (2 * m))


def rgb_to_ycc(r: np.ndarray, g: np.ndarray, b: np.ndarray):
    """Forward fixed-point color transform (YCC_FWD rows, /256
    half-away, chroma biased +128, all clamped to [0, 255])."""
    out = []
    for key in ("y", "cb", "cr"):
        cr_, cg_, cb_ = YCC_FWD[key]
        v = _da_int(cr_ * r + cg_ * g + cb_ * b, 256)
        if key != "y":
            v = v + 128
        out.append(np.clip(v, 0, 255))
    return out


def ycc_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray):
    """Inverse fixed-point color transform (YCC_INV, /256 half-away,
    clamped)."""
    cb = np.asarray(cb, dtype=np.int64) - 128
    cr = np.asarray(cr, dtype=np.int64) - 128
    r = y + _da_int(YCC_INV["r_cr"] * cr, 256)
    g = y + _da_int(YCC_INV["g_cb"] * cb + YCC_INV["g_cr"] * cr, 256)
    b = y + _da_int(YCC_INV["b_cb"] * cb, 256)
    return [np.clip(v, 0, 255) for v in (r, g, b)]


def _descale(a: np.ndarray) -> np.ndarray:
    """Half-away-from-zero round of a / 2^13 — in exact int64."""
    a = np.asarray(a, dtype=np.int64)
    return np.sign(a) * ((2 * np.abs(a) + (1 << DCT_BITS)) >> (DCT_BITS + 1))


def _fdct_blocks(blocks: np.ndarray) -> np.ndarray:
    """(n, 8, 8) level-shifted samples -> (n, 8, 8) coefficients H[v][u]:
    row pass G[y][u] = DESCALE(sum_x s[y][x]*T[u][x]), then column pass
    H[v][u] = DESCALE(sum_y G[y][u]*T[v][y]). All int64-exact."""
    g = _descale(blocks @ _T_NP.T)
    return _descale(_T_NP @ g)


def _idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficients -> (n, 8, 8) level-shifted
    samples: G[y][u] = DESCALE(sum_v R[v][u]*T[v][y]), then
    f[y][x] = DESCALE(sum_u G[y][u]*T[u][x]) — the transpose transform
    (the table carries the (1/2)C(u) normalization, so forward and
    inverse share it)."""
    g = _descale(_T_NP.T @ coeffs)
    return _descale(g @ _T_NP)


def _quantize(coeffs: np.ndarray, qt: np.ndarray = _QT_NP) -> np.ndarray:
    """Half-away-from-zero divide by the quant table, int64-exact."""
    return np.sign(coeffs) * ((2 * np.abs(coeffs) + qt) // (2 * qt))


class _BitWriter:
    """MSB-first bit packer with the spec's 0xFF00 byte stuffing."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        acc = (self._acc << nbits) | (value & ((1 << nbits) - 1))
        n = self._n + nbits
        nbytes = n >> 3
        if nbytes:
            n &= 7
            # int.to_bytes at C speed; bytes.replace applies the
            # spec's 0xFF00 stuffing to every emitted 0xFF identically
            # to the per-byte loop it replaces
            self.buf += (acc >> n).to_bytes(nbytes, "big").replace(
                b"\xff", b"\xff\x00"
            )
            acc &= (1 << n) - 1
        self._acc = acc
        self._n = n

    def flush(self) -> None:
        while self._n:
            self.write(1, 1)  # pad with 1-bits per the spec


def _category(v: int) -> int:
    return abs(v).bit_length()


def _magnitude_bits(v: int, size: int) -> int:
    """The spec's magnitude representation: negatives as v + 2^size - 1."""
    return v if v >= 0 else v + (1 << size) - 1


def encode_jpeg_bytes(px: bytes, w: int, h: int, restart_interval: int = 0) -> bytes:
    """A complete baseline-sequential grayscale JFIF file for 8-bit
    samples ``px`` (row-major, len w*h; w and h multiples of 8).

    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (byte-aligned, DC predictor reset — T.81 §B.2.4.4).
    Restart markers are the spec's intra-image parallelism seam: each
    restart segment decodes independently, which is what makes a
    single huge JPEG splittable across decode tasks at scale."""
    if w % 8 or h % 8 or len(px) != w * h:
        raise ValueError(f"need w,h multiples of 8 and w*h samples; got {w}x{h}/{len(px)}")
    bw, bh = w // 8, h // 8
    arr = np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64).reshape(h, w)
    # split into (n, 8, 8) blocks in raster order, level shift
    blocks = (
        arr.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(bh * bw, 8, 8)
        - 128
    )
    q = _quantize(_fdct_blocks(blocks))

    out = _BitWriter()
    prev_dc = 0
    rst = 0
    for bi, blk in enumerate(q):
        if restart_interval and bi and bi % restart_interval == 0:
            out.flush()  # pad to byte boundary before the marker
            out.buf += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            prev_dc = 0
        prev_dc = _encode_block(out, blk, prev_dc)
    out.flush()

    return _assemble_jfif(
        w, h, [(1, 0)], bytes(out.buf), restart_interval
    )


def _encode_block(out: _BitWriter, blk: np.ndarray, prev_dc: int) -> int:
    """Entropy-code one quantized 8x8 block (DC diff + AC run-length),
    returning the new DC predictor."""
    flat = blk[_ZZ_ROWS, _ZZ_COLS].tolist()
    dc = flat[0]
    diff = dc - prev_dc
    s = _category(diff)
    code, n = _DC_CODES[s]
    if s:
        # one fused write: Huffman code then magnitude bits
        out.write((code << s) | _magnitude_bits(diff, s), n + s)
    else:
        out.write(code, n)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if flat[k]:
            last_nz = k
            break
    ac_codes = _AC_CODES
    write = out.write
    for k in range(1, last_nz + 1):
        v = flat[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, n = ac_codes[0xF0]  # ZRL
            write(code, n)
            run -= 16
        s = _category(v)
        code, n = ac_codes[(run << 4) | s]
        write((code << s) | _magnitude_bits(v, s), n + s)
        run = 0
    if last_nz != 63:
        code, n = ac_codes[0x00]  # EOB
        write(code, n)
    return dc


def _assemble_jfif(
    w: int,
    h: int,
    comps: list[tuple[int, int]],
    scan: bytes,
    restart_interval: int,
) -> bytes:
    """Wrap an entropy-coded scan in a complete JFIF file. ``comps`` is
    [(component_id, quant_table_id), ...] — 1 entry for grayscale,
    3 for 4:4:4 YCbCr (the chroma table is written as DQT id 1)."""

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt_zz = bytes(JPEG_QT[v][u] for v, u in ZIGZAG)  # DQT: zigzag order
    dqt = b"\x00" + qt_zz
    if any(tq == 1 for _, tq in comps):
        dqt += b"\x01" + bytes(JPEG_QT_CHROMA[v][u] for v, u in ZIGZAG)
    dht = (
        b"\x00" + bytes(_DC_BITS) + bytes(_DC_SYMBOLS)
        + b"\x10" + bytes(_AC_BITS) + bytes(_AC_SYMBOLS)
    )
    sof = struct.pack(">BHHB", 8, h, w, len(comps)) + b"".join(
        bytes([cid, 0x11, tq]) for cid, tq in comps
    )
    sos = bytes([len(comps)]) + b"".join(
        bytes([cid, 0x00]) for cid, _ in comps
    ) + b"\x00\x3f\x00"
    dri = (
        seg(0xFFDD, struct.pack(">H", restart_interval))
        if restart_interval
        else b""
    )
    return (
        b"\xff\xd8"  # SOI
        + seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + seg(0xFFDB, dqt)
        + seg(0xFFC0, sof)
        + seg(0xFFC4, dht)
        + dri
        + seg(0xFFDA, sos)
        + scan
        + b"\xff\xd9"  # EOI
    )


def encode_jpeg_color_bytes(
    px: bytes, w: int, h: int, restart_interval: int = 0
) -> bytes:
    """A complete baseline-sequential COLOR JFIF file (YCbCr 4:4:4, no
    subsampling) for interleaved RGB samples ``px`` (row-major,
    len w*h*3; w and h multiples of 8): fixed-point RGB->YCbCr
    (``rgb_to_ycc``), per-plane DCT with the Annex K luminance (Y) and
    chrominance (Cb/Cr) quant tables, MCU-interleaved entropy coding
    with per-component DC prediction (one block of each component per
    MCU — the 4:4:4 layout), optional restart markers resetting all
    three predictors."""
    if w % 8 or h % 8 or len(px) != w * h * 3:
        raise ValueError(
            f"need w,h multiples of 8 and w*h*3 samples; got {w}x{h}/{len(px)}"
        )
    bw, bh = w // 8, h // 8
    rgb = np.frombuffer(bytes(px), dtype=np.uint8).astype(np.int64)
    planes = rgb_to_ycc(rgb[0::3], rgb[1::3], rgb[2::3])
    quantized = []
    for i, plane in enumerate(planes):
        arr = plane.reshape(h, w)
        blocks = (
            arr.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(bh * bw, 8, 8)
            - 128
        )
        quantized.append(
            _quantize(_fdct_blocks(blocks), _QT_NP if i == 0 else _QTC_NP)
        )

    out = _BitWriter()
    preds = [0, 0, 0]
    rst = 0
    for mcu in range(bw * bh):
        if restart_interval and mcu and mcu % restart_interval == 0:
            out.flush()
            out.buf += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            preds = [0, 0, 0]
        for ci in range(3):
            preds[ci] = _encode_block(out, quantized[ci][mcu], preds[ci])
    out.flush()

    return _assemble_jfif(
        w, h, [(1, 0), (2, 1), (3, 1)], bytes(out.buf), restart_interval
    )


class _BitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    unstuffing; raises on an unexpected marker inside the scan.

    Multi-bit accumulator form (r16): bytes are still pulled (and
    unstuffed / marker-checked) one at a time, but reads consume the
    accumulator in one arithmetic step instead of a Python-loop bit at
    a time, and ``peek16`` gives the Huffman LUT a zero-padded 16-bit
    lookahead. A marker or EOF met while REFILLING is recorded as a
    stall and only raised when a consumed bit actually needs it, so
    lookahead never rejects a stream the bit-serial reader accepted."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0
        self._stall: tuple | None = None

    def _pull(self) -> bool:
        """Refill one data byte; record (not raise) marker/EOF stalls."""
        if self._stall is not None:
            return False
        data, pos = self.data, self.pos
        if pos >= len(data):
            self._stall = ("eof",)
            return False
        b = data[pos]
        pos += 1
        if b == 0xFF:
            if pos >= len(data):
                self._stall = ("eof_ff",)
                return False
            nxt = data[pos]
            if nxt != 0x00:
                self._stall = ("marker", nxt)
                return False
            pos += 1  # stuffed byte: literal 0xFF
        self._acc = (self._acc << 8) | b
        self._n += 8
        self.pos = pos
        return True

    def _starved(self):
        kind = self._stall[0] if self._stall else "eof"
        if kind == "eof":
            raise ValueError("truncated entropy-coded scan")
        if kind == "eof_ff":
            raise ValueError("truncated after 0xFF in scan")
        raise ValueError(
            f"unexpected marker 0xFF{self._stall[1]:02X} inside scan"
        )

    def bits(self, nbits: int) -> int:
        while self._n < nbits:
            if not self._pull():
                self._starved()
        n = self._n - nbits
        v = (self._acc >> n) & ((1 << nbits) - 1)
        self._acc &= (1 << n) - 1
        self._n = n
        return v

    def bit(self) -> int:
        return self.bits(1)

    def peek16(self) -> int:
        while self._n < 16:
            if not self._pull():
                return (self._acc << (16 - self._n)) & 0xFFFF
        return (self._acc >> (self._n - 16)) & 0xFFFF

    def consume(self, nbits: int) -> None:
        if nbits > self._n:
            self._starved()
        self._n -= nbits
        self._acc &= (1 << self._n) - 1

    def huff(self, lut) -> int:
        """Decode one Huffman symbol via the 16-bit lookahead LUT —
        peek + table hit + consume fused into one call (the per-symbol
        hot path of the scan loop)."""
        n = self._n
        while n < 16 and self._pull():
            n = self._n
        if n >= 16:
            word = (self._acc >> (n - 16)) & 0xFFFF
        else:
            word = (self._acc << (16 - n)) & 0xFFFF
        sym, length = lut[word]
        if length == 0 or length > n:
            if n < 16:
                self._starved()
            raise ValueError("invalid Huffman code in scan")
        n -= length
        self._acc &= (1 << n) - 1
        self._n = n
        return sym

    def huff_recv(self, lut) -> tuple:
        """Huffman symbol + its magnitude bits in ONE call (r17): the
        scan loop's per-coefficient cost was a ``huff`` + ``bits``
        method-call pair; the low nibble of every scan symbol is its
        magnitude bit count (AC symbols by the run/size spec layout,
        DC size categories because they are <= 11 < 16), so one fused
        call decodes both. Returns (sym, raw magnitude bits, size) —
        identical stall/starve semantics to huff() then bits(size)."""
        n = self._n
        while n < 16 and self._pull():
            n = self._n
        if n >= 16:
            word = (self._acc >> (n - 16)) & 0xFFFF
        else:
            word = (self._acc << (16 - n)) & 0xFFFF
        sym, length = lut[word]
        if length == 0 or length > n:
            if n < 16:
                self._starved()
            raise ValueError("invalid Huffman code in scan")
        n -= length
        acc = self._acc & ((1 << n) - 1)
        size = sym & 0x0F
        if not size:
            self._acc = acc
            self._n = n
            return sym, 0, 0
        if n < size:
            self._acc = acc
            self._n = n
            while n < size:
                if not self._pull():
                    self._starved()
                n = self._n
            acc = self._acc
        n -= size
        v = (acc >> n) & ((1 << size) - 1)
        self._acc = acc & ((1 << n) - 1)
        self._n = n
        return sym, v, size

    def restart(self, ordinal: int) -> None:
        """Byte-align (discard the pre-marker pad bits) and consume the
        expected RSTn marker (T.81 §B.2.4.4); a missing or out-of-cycle
        marker raises. Whole undecoded data bytes before the marker
        raise too — refills stop AT markers, so a compliant stream
        leaves at most 7 pad bits in the accumulator here (the
        bit-serial reader hit the same streams via its pos check)."""
        if self._n >= 8:
            raise ValueError(
                f"expected RST{ordinal}, undecoded data before marker"
            )
        self._acc = 0
        self._n = 0
        self._stall = None
        if self.pos + 2 > len(self.data):
            raise ValueError("truncated at restart marker")
        got = self.data[self.pos : self.pos + 2]
        if got[0] != 0xFF or got[1] != 0xD0 + ordinal:
            raise ValueError(
                f"expected RST{ordinal}, got 0x{got.hex()} in scan"
            )
        self.pos += 2


@functools.lru_cache(maxsize=128)
def _huff_lut(bits: tuple[int, ...], huffval: bytes):
    """65536-entry (symbol, code length) lookahead list for a canonical
    table — one 16-bit peek decodes any symbol in O(1) (the libjpeg
    technique), replacing the 1..16-step bit-serial walk. Same
    Generate_size/code assignment as the spec procedure. Cached on the
    DHT contents, so repeated parses of same-table streams (every
    payload our encoder writes) build the table once per worker."""
    lut: list[tuple[int, int]] = [(0, 0)] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("oversubscribed Huffman table in DHT")
            sym = huffval[k]
            k += 1
            base = code << (16 - length)
            span = 1 << (16 - length)
            lut[base : base + span] = [(sym, length)] * span
            code += 1
        code <<= 1
    return lut


def _build_huffman(bits: tuple[int, ...], huffval: bytes):
    """Canonical decode table from a DHT segment's BITS/HUFFVAL — now a
    cached 16-bit lookahead LUT (see ``_huff_lut``)."""
    return _huff_lut(tuple(bits), bytes(huffval))


def _extend(v: int, size: int) -> int:
    """The spec's EXTEND: map magnitude bits back to a signed value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


@corruption_to_value_error
def parse_jpeg(payload: bytes):
    """Full baseline-grayscale JPEG parse -> (width, height, pixels).

    Every table comes from the CONTAINER: quant tables from DQT
    (zigzag-ordered per the spec, 8-bit precision), Huffman tables
    rebuilt from DHT via the canonical-code procedure, geometry and
    component layout from SOF0, the restart interval from DRI (RSTn
    markers validated in cycle order, DC predictor reset per segment).
    Raises on: missing SOI, progressive or multi-component streams,
    16-bit quant tables, truncated segments or scan data, invalid
    Huffman codes, a missing or out-of-cycle restart marker,
    coefficient index overflow — a corrupt payload fails loudly."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], tuple] = {}
    sof = None
    scan_comp = None
    restart_interval = 0
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated marker stream")
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = payload[pos + 1]
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError(f"truncated segment 0xFF{marker:02X}")
        if marker == 0xDB:  # DQT — one or more tables, zigzag order
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                vals = body[b + 1 : b + 65]
                if len(vals) != 64:
                    raise ValueError("truncated DQT")
                # one vectorized de-zigzag scatter (r17) — same table
                # as the 64-step Python placement loop it replaces
                table = np.zeros(64, dtype=np.int64)
                table[_ZZ_FLAT] = np.frombuffer(vals, dtype=np.uint8)
                qtables[tq] = table
                b += 65
        elif marker == 0xC4:  # DHT — one or more tables
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = tuple(body[b + 1 : b + 17])
                n = sum(bits)
                huffval = body[b + 17 : b + 17 + n]
                if len(bits) != 16 or len(huffval) != n:
                    raise ValueError("truncated DHT")
                htables[(tc, th)] = _build_huffman(bits, huffval)
                b += 17 + n
        elif marker == 0xC0:  # SOF0 baseline sequential
            prec, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError(f"unsupported sample precision {prec}")
            if ncomp not in (1, 3):
                raise ValueError(
                    f"only 1- (grayscale) or 3-component (4:4:4 YCbCr) "
                    f"baseline JPEG supported, got {ncomp}"
                )
            comps = []
            for i in range(ncomp):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                if hv != 0x11:
                    raise ValueError(
                        "chroma subsampling unsupported (4:4:4 only)"
                    )
                comps.append((cid, tq))
            sof = (w, h, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(f"non-baseline SOF 0xFF{marker:02X} unsupported")
        elif marker == 0xDD:  # DRI: restart interval in MCUs
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comp = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                for i in range(ns)
            ]
            pos += 2 + seglen
            break
        # APPn / COM / anything else: skip
        pos += 2 + seglen
    if sof is None or scan_comp is None:
        raise ValueError("missing SOF0 or SOS")
    w, h, comps = sof
    if len(scan_comp) != len(comps) or [s[0] for s in scan_comp] != [
        c[0] for c in comps
    ]:
        raise ValueError("scan components do not match frame components")
    ncomp = len(comps)
    qts, dc_tabs, ac_tabs = [], [], []
    for (cid, tq), (_sid, td, ta) in zip(comps, scan_comp):
        if tq not in qtables or (0, td) not in htables or (1, ta) not in htables:
            raise ValueError("scan references undefined quant/Huffman table")
        qts.append(qtables[tq].reshape(8, 8))
        dc_tabs.append(htables[(0, td)])
        ac_tabs.append(htables[(1, ta)])

    bw, bh = (w + 7) // 8, (h + 7) // 8
    nmcu = bw * bh
    reader = _BitReader(payload, pos)
    # whole-image batched entropy decode (r17, VERDICT r16 #3): the
    # scan loop collects (zigzag-flat position, value) into Python
    # lists — one fused huff_recv call per coefficient — and the
    # coefficient tensor is built afterwards by ONE numpy scatter plus
    # ONE vectorized de-zigzag, replacing a numpy scalar setitem per
    # coefficient (the dominant tottime of the r16 decode profile).
    idxs: list[int] = []
    vals: list[int] = []
    ai = idxs.append
    av = vals.append
    preds = [0] * ncomp
    rst = 0
    for mcu in range(nmcu):
        if restart_interval and mcu and mcu % restart_interval == 0:
            reader.restart(rst)
            rst = (rst + 1) % 8
            preds = [0] * ncomp
        for ci in range(ncomp):
            base = (ci * nmcu + mcu) << 6
            s, raw, size = reader.huff_recv(dc_tabs[ci])
            if size:
                preds[ci] += _extend(raw, size)
            ai(base)
            av(preds[ci])
            k = 1
            while k < 64:
                rs, raw, size = reader.huff_recv(ac_tabs[ci])
                if rs == 0x00:  # EOB
                    break
                if rs == 0xF0:  # ZRL
                    k += 16
                    continue
                k += rs >> 4
                if k > 63:
                    raise ValueError("AC coefficient index overflow")
                ai(base + k)
                # size 0 with a nonzero run is spec-illegal; _extend's
                # negative shift raises the same ValueError the serial
                # form raised on such corrupt symbols
                av(_extend(raw, size) if size else _extend(0, 0))
                k += 1
    zzflat = np.zeros(ncomp * nmcu * 64, dtype=np.int64)
    zzflat[np.array(idxs, dtype=np.int64)] = np.array(vals, dtype=np.int64)
    coeffs = np.zeros((ncomp, nmcu, 8, 8), dtype=np.int64)
    coeffs[:, :, _ZZ_ROWS, _ZZ_COLS] = zzflat.reshape(ncomp, nmcu, 64)
    planes = []
    for ci in range(ncomp):
        spatial = np.clip(_idct_blocks(coeffs[ci] * qts[ci]) + 128, 0, 255)
        planes.append(
            spatial.reshape(bh, bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh * 8, bw * 8)[:h, :w]
        )
    if ncomp == 1:
        return w, h, planes[0].astype(np.uint8).tobytes()
    r, g, b = ycc_to_rgb(planes[0], planes[1], planes[2])
    rgb = np.stack([r, g, b], axis=-1)
    return w, h, rgb.astype(np.uint8).tobytes()


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def synth_jpeg_pixels(docs: DataFrame) -> DataFrame:
    """(doc_id, px): deterministic grayscale samples forming
    constant+step 8x8 blocks — block b's base value
    v0 = 32 + ((doc_id%256)*PCM_A + b*PCM_B) % 192 and step
    d = ((doc_id%256)*PCM_B + b*PCM_A) % 32 - 16; pixel (x,y) in the
    block is v0 + (x%8 < 4 ? d : -d), always inside [16, 239].
    Exactly reproducible in ANSI SQL (the oracle replays it); doc_id
    pre-reduced mod 256 before the multiply (BIGINT-budget rule);
    numpy-rendered (``multimodal.synth_map_arrays``)."""
    import numpy as np

    from ds_mapreduce_spark.operators.multimodal import synth_map_arrays

    n = JPEG_W * JPEG_H
    bw = JPEG_W // 8
    i = np.arange(n, dtype=np.int64)
    b = (i // (JPEG_W * 8)) * bw + (i % JPEG_W) // 8
    sign = np.where(i % 8 < 4, 1, -1).astype(np.int64)

    def build(d):
        dm = d[:, None] % 256
        base = 32 + (dm * PCM_A + b[None, :] * PCM_B) % 192
        delta = (dm * PCM_B + b[None, :] * PCM_A) % 32 - 16
        return {"px": list((base + sign[None, :] * delta).astype(np.int32))}

    return synth_map_arrays(docs, "doc_id bigint, px array<int>", build)


def encode_jpeg(df: DataFrame) -> DataFrame:
    """REAL JPEG encoder: (doc_id, px flat grayscale ints) ->
    (doc_id, payload) where payload is a standard baseline JFIF file.
    Arrow-batched, map-only; DCT + quantization vectorized over all
    blocks of an image, only the entropy coder is per-symbol Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = [
                encode_jpeg_bytes(bytes(list(px)), JPEG_W, JPEG_H)
                for px in batch["px"]
            ]
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].values, "payload": payloads}
            )

    return df.mapInPandas(run, schema="doc_id bigint, payload binary")


JPEG_FEATURE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, n_blocks bigint, "
    "sum_v bigint, sum_sq bigint"
)


def synth_color_jpeg_pixels(docs: DataFrame) -> DataFrame:
    """(doc_id, px): interleaved RGB samples forming constant+step
    blocks PER CHANNEL — channel k of block b draws its (base, step)
    from extended block id 3b+k, so the three planes differ and the
    closed-form oracle covers each (block, channel) instance."""
    import numpy as np

    from ds_mapreduce_spark.operators.multimodal import synth_map_arrays

    n = JPEG_W * JPEG_H * 3
    bw = JPEG_W // 8
    j = np.arange(n, dtype=np.int64)
    p = j // 3
    bid = 3 * ((p // (JPEG_W * 8)) * bw + (p % JPEG_W) // 8) + j % 3
    sign = np.where(p % 8 < 4, 1, -1).astype(np.int64)

    def build(d):
        dm = d[:, None] % 256
        base = 32 + (dm * PCM_A + bid[None, :] * PCM_B) % 192
        delta = (dm * PCM_B + bid[None, :] * PCM_A) % 32 - 16
        return {"px": list((base + sign[None, :] * delta).astype(np.int32))}

    return synth_map_arrays(docs, "doc_id bigint, px array<int>", build)


def encode_jpeg_color(df: DataFrame) -> DataFrame:
    """REAL color JPEG encoder: (doc_id, px interleaved RGB ints) ->
    (doc_id, payload), a standard 4:4:4 YCbCr baseline JFIF file.
    Arrow-batched, map-only."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            payloads = [
                encode_jpeg_color_bytes(bytes(list(px)), JPEG_W, JPEG_H)
                for px in batch["px"]
            ]
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"].values, "payload": payloads}
            )

    return df.mapInPandas(run, schema="doc_id bigint, payload binary")


JPEG_COLOR_FEATURE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, n_blocks bigint, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def decode_jpeg_color_features(media: DataFrame) -> DataFrame:
    """REAL color JPEG decoder: full 3-component parse (interleaved
    MCUs, per-component predictors and tables, fixed-point IDCT,
    fixed-point YCbCr->RGB) then exact per-channel sums over the
    RECONSTRUCTED pixels."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "n_blocks",
                "sum_r", "sum_g", "sum_b",
            )}
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                w, h, px = parse_jpeg(bytes(payload))
                if len(px) != w * h * 3:
                    raise ValueError(f"doc {doc_id}: expected RGB output")
                a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_blocks"].append((w // 8) * (h // 8))
                rows["sum_r"].append(int(a[0::3].sum()))
                rows["sum_g"].append(int(a[1::3].sum()))
                rows["sum_b"].append(int(a[2::3].sum()))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=JPEG_COLOR_FEATURE_SCHEMA)


def decode_jpeg_features(media: DataFrame) -> DataFrame:
    """REAL JPEG decoder: full container parse (``parse_jpeg`` — every
    table read from the file, Huffman rebuilt from DHT, fixed-point
    IDCT) then exact integer features over the RECONSTRUCTED pixels.
    Parity against the analytic oracle proves the whole lossy chain is
    bit-reproducible, not just that bytes survived."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "n_blocks", "sum_v", "sum_sq",
            )}
            for doc_id, payload in zip(batch["doc_id"], batch["payload"]):
                w, h, px = parse_jpeg(bytes(payload))
                a = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_blocks"].append((w // 8) * (h // 8))
                rows["sum_v"].append(int(a.sum()))
                rows["sum_sq"].append(int((a * a).sum()))
            yield pd.DataFrame(rows)

    return media.mapInPandas(run, schema=JPEG_FEATURE_SCHEMA)
