"""REAL LZW codec (r9): GIF89a, implemented from the public GIF
specification — including the LZW compressor/decompressor BY HAND
(stdlib has no LZW), so all three classic compression families in the
multimodal tier are now real: DEFLATE (PNG via stdlib zlib), transform
coding + Huffman (baseline JPEG, operators/jpeg.py), and dictionary
coding (LZW, here).

The encoder writes standard GIF89a files: header, logical screen
descriptor, 256-entry global color table, image descriptor, LZW-
compressed indexed pixels in length-prefixed sub-blocks, trailer. The
LZW layer implements the real variable-width code protocol: initial
code size min_code_size+1, CLEAR/EOI control codes, code width growth
at dictionary thresholds, and dictionary reset via CLEAR when the
table reaches 4095 entries. The growth timing is the de-facto-standard
pair every mainstream decoder implements: after the k-th data code
since the last CLEAR (counting on BOTH sides, which makes the rule
symmetric despite the decoder's one-entry dictionary lag), the code
width grows when eoi + k reaches 2^width. The decoder is a full
parser — signature, screen descriptor, global AND local color tables,
extension-block skipping with structure validation, the KwKwK case,
CLEAR handling, interlace rejected loudly — and validates the decoded
pixel count against the image descriptor.

Oracle strategy: GIF is LOSSLESS, so the analytic oracle computes the
palette-mapped channel sums directly from the synth index formula and
never sees a GIF byte — parity proves the LZW roundtrip preserved
every index. Palette entry i maps to RGB (i, (i+85)%256, (i+170)%256),
kept integer-exact on both engines.

Scale notes (100 TB): both legs are Arrow-batched ``mapInPandas``,
map-only, zero shuffles beyond the narrow-key spread — identical plan shape to the WAV/PPM/PNG/JPEG
roundtrips; payload width sizes tasks via maxPartitionBytes.
"""

from __future__ import annotations

import functools
import struct

import numpy as np
from pyspark.sql import DataFrame

from ds_mapreduce_spark.operators.multimodal import (
    PCM_A,
    PCM_B,
    PAYLOAD_SCHEMA,
    PPM_FEATURE_SCHEMA,
    arrow_stage,
    pxbytes,
)

GIF_W = 24
GIF_H = 16
#: palette entry i -> (R, G, B); the G/B offsets keep channel sums
#: distinct so a channel swap cannot pass parity
GIF_PAL_G_OFF = 85
GIF_PAL_B_OFF = 170

_LZW_MAX_ENTRIES = 4095  # giflib's LZ_MAX_CODE: reset via CLEAR at this fill
_LZW_MAX_BITS = 12


def _lzw_compress(data: bytes, min_code_size: int) -> bytes:
    """GIF-flavor LZW: LSB-first variable-width codes, CLEAR emitted
    first and on dictionary overflow, EOI last."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    bits = min_code_size + 1
    k = 0  # data codes emitted since the last CLEAR

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += bits
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def emit_data(code: int) -> None:
        """Emit a data code, then apply the symmetric growth rule."""
        nonlocal bits, k
        emit(code)
        k += 1
        if eoi + k >= (1 << bits) and bits < _LZW_MAX_BITS:
            bits += 1

    emit(clear)
    # the string table keyed as (prefix code, next byte) -> code: the
    # classic O(1)-per-step LZW form (r16) — every root string i < clear
    # IS code i, so tracking the current string by its code makes each
    # step one tuple hash instead of an O(len(w)) bytes concat+hash;
    # the emitted code sequence is identical by construction
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    w_code = data[0] if data else None
    for byte in data[1:]:
        key = (w_code, byte)
        code = table.get(key)
        if code is not None:
            w_code = code
            continue
        emit_data(w_code)
        if next_code >= _LZW_MAX_ENTRIES:
            emit(clear)
            table = {}
            next_code = eoi + 1
            bits = min_code_size + 1
            k = 0
        else:
            table[key] = next_code
            next_code += 1
        w_code = byte
    if w_code is not None:
        emit_data(w_code)
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


@functools.lru_cache(maxsize=16)
def _lzw_base_table(clear: int) -> tuple:
    """Root-string table shared by every decode (r17): positions
    0..clear-1 hold the literal byte strings, positions clear/clear+1
    are dummies for the CLEAR/EOI control codes (checked before any
    table access, so the dummies are unreachable), making
    ``len(table) == next_code`` an invariant — the dict build this
    replaces was ~12% of the static-GIF decode profile (one 256-entry
    dict comprehension per parse AND per CLEAR)."""
    return tuple(bytes([i]) for i in range(clear)) + (b"", b"")


def _lzw_decompress(data: bytes, min_code_size: int) -> bytes:
    """Full GIF LZW decoder: variable width with the same symmetric
    growth rule as the compressor, CLEAR resets, the KwKwK
    (code == next undefined entry) case, loud errors on truncation or
    an out-of-range code.

    Batched code extraction (r17, the measured accept of VERDICT r16
    #6): between width-growth events every code has the SAME width —
    the growth rule (grow after the k-th data code since the last
    CLEAR when eoi + k reaches 2^width) pins the next growth boundary
    in advance — so codes are pulled in numpy gathers (3-byte window
    per code, LSB-first shift/mask) instead of a per-code Python
    ``read_code``. Control codes can appear anywhere in a gather, so
    each batch is truncated at its first CLEAR/EOI and the reset logic
    runs exactly where the serial reader would have run it; truncation
    and out-of-range errors fire at the same code position as the
    serial form (differential-locked in tests/test_gif.py against the
    per-code reference, including CLEAR-on-overflow streams)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bits = min_code_size + 1
    total_bits = len(data) * 8
    pos_bit = 0
    k = 0

    # 3-byte little-endian gather window per code (bits <= 12, bit
    # offset within byte <= 7 -> 19 bits max); 2 pad bytes keep the
    # window in-bounds at the tail
    arr = np.zeros(len(data) + 2, dtype=np.int32)
    arr[: len(data)] = np.frombuffer(data, dtype=np.uint8)

    table = list(_lzw_base_table(clear))
    out = bytearray()
    prev: bytes | None = None
    while True:
        avail = (total_bits - pos_bit) // bits
        if avail <= 0:
            raise ValueError("truncated LZW stream")
        # codes until the growth rule fires (data codes only; a batch
        # cut short by a control code just resets/returns earlier)
        grow_in = (1 << bits) - eoi - k if bits < _LZW_MAX_BITS else avail
        count = min(grow_in, avail)
        offs = pos_bit + bits * np.arange(count, dtype=np.int64)
        b = offs >> 3
        window = arr[b] | (arr[b + 1] << 8) | (arr[b + 2] << 16)
        codes = (window >> (offs & 7)) & ((1 << bits) - 1)
        ctrl = np.nonzero((codes == clear) | (codes == eoi))[0]
        stop = int(ctrl[0]) if len(ctrl) else count
        for code in codes[:stop].tolist():
            if prev is None:
                if code >= clear:
                    raise ValueError(
                        f"first LZW code {code} is not a literal"
                    )
                entry = table[code]
            else:
                nt = len(table)
                if code < nt:
                    entry = table[code]
                elif code == nt:  # KwKwK
                    entry = prev + prev[:1]
                else:
                    raise ValueError(
                        f"LZW code {code} out of range (next={nt})"
                    )
                if nt < _LZW_MAX_ENTRIES:
                    table.append(prev + entry[:1])
            out += entry
            prev = entry
        k += stop
        pos_bit += stop * bits
        if stop < count:  # hit a control code
            pos_bit += bits
            if int(codes[stop]) == eoi:
                return bytes(out)
            table = list(_lzw_base_table(clear))
            bits = min_code_size + 1
            k = 0
            prev = None
        elif eoi + k >= (1 << bits) and bits < _LZW_MAX_BITS:
            bits += 1


def _grayscale_ramp_palette() -> bytes:
    return bytes(
        v
        for i in range(256)
        for v in (i, (i + GIF_PAL_G_OFF) % 256, (i + GIF_PAL_B_OFF) % 256)
    )


def encode_gif_bytes(indices: bytes, w: int, h: int) -> bytes:
    """A complete GIF89a file for 8-bit palette indices (row-major,
    len w*h) over the module's fixed 256-entry color table."""
    if len(indices) != w * h:
        raise ValueError(f"need w*h indices; got {len(indices)} for {w}x{h}")
    lzw = _lzw_compress(indices, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)  # GCT, 8-bit, 256 entries
        + _grayscale_ramp_palette()
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
        + bytes([8])  # LZW min code size
        + bytes(blocks)
        + b"\x3b"  # trailer
    )


def parse_gif(payload: bytes):
    """Parse a GIF87a/89a container -> (width, height, palette, indices).

    Reads the logical screen descriptor and GLOBAL color table, skips
    extension blocks (validating their sub-block structure), honors a
    LOCAL color table if the image carries one, LZW-decompresses the
    pixel data, and validates the decoded pixel count against the image
    descriptor. Raises on: bad signature, missing color table,
    interlaced images (unsupported subset), truncated blocks or LZW
    stream, unknown block introducers — a corrupt payload fails
    loudly."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated screen descriptor")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    palette = b""
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        palette = payload[pos : pos + 3 * n]
        if len(palette) != 3 * n:
            raise ValueError("truncated global color table")
        pos += 3 * n
    while True:
        if pos >= len(payload):
            raise ValueError("missing image data or trailer")
        introducer = payload[pos]
        pos += 1
        if introducer == 0x3B:  # trailer before any image
            raise ValueError("GIF contains no image")
        if introducer == 0x21:  # extension: label + sub-blocks
            pos += 1
            while True:
                if pos >= len(payload):
                    raise ValueError("truncated extension block")
                size = payload[pos]
                pos += 1
                if size == 0:
                    break
                pos += size
            continue
        if introducer != 0x2C:
            raise ValueError(f"unknown block introducer 0x{introducer:02X}")
        break
    if pos + 9 > len(payload):
        raise ValueError("truncated image descriptor")
    _left, _top, w, h, ipacked = struct.unpack("<HHHHB", payload[pos : pos + 9])
    pos += 9
    if ipacked & 0x40:
        raise ValueError("interlaced GIF unsupported")
    if ipacked & 0x80:  # local color table overrides the global one
        n = 2 << (ipacked & 0x07)
        palette = payload[pos : pos + 3 * n]
        if len(palette) != 3 * n:
            raise ValueError("truncated local color table")
        pos += 3 * n
    if not palette:
        raise ValueError("no color table for image")
    if pos >= len(payload):
        raise ValueError("missing LZW minimum code size")
    min_code_size = payload[pos]
    pos += 1
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad LZW minimum code size {min_code_size}")
    lzw = bytearray()
    while True:
        if pos >= len(payload):
            raise ValueError("truncated image sub-blocks")
        size = payload[pos]
        pos += 1
        if size == 0:
            break
        chunk = payload[pos : pos + size]
        if len(chunk) != size:
            raise ValueError("truncated image sub-block")
        lzw += chunk
        pos += size
    indices = _lzw_decompress(bytes(lzw), min_code_size)
    if len(indices) != w * h:
        raise ValueError(f"decoded {len(indices)} pixels for {w}x{h}")
    # max() at C speed — identical condition to the per-distinct-index
    # scan it replaces (i*3+2 >= len is monotone in i)
    if indices and max(indices) * 3 + 2 >= len(palette):
        raise ValueError("pixel index outside the color table")
    return w, h, palette, indices


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def synth_gif_indices(docs: DataFrame) -> DataFrame:
    """(doc_id, px): deterministic palette indices,
    px[i] = ((doc_id mod 256)*PCM_A + i*PCM_B) mod 256 — the shared
    synth family (doc_id pre-reduced mod 256, BIGINT-budget rule).
    numpy-rendered (``multimodal.synth_map_arrays``)."""
    import numpy as np

    from ds_mapreduce_spark.operators.multimodal import synth_map_arrays

    n = GIF_W * GIF_H
    i = np.arange(n, dtype=np.int64)

    def build(d):
        arr = ((d[:, None] % 256) * PCM_A + i[None, :] * PCM_B) % 256
        return {"px": list(arr.astype(np.int32))}

    return synth_map_arrays(docs, "doc_id bigint, px array<int>", build)


def encode_gif(df: DataFrame) -> DataFrame:
    """REAL GIF encoder: (doc_id, px palette indices) ->
    (doc_id, payload), a standard GIF89a any viewer opens.
    Arrow-batched, map-only."""
    return arrow_stage(
        df, lambda d, px: [(d, encode_gif_bytes(pxbytes(px), GIF_W, GIF_H))],
        PAYLOAD_SCHEMA,
    )


def decode_gif_features(media: DataFrame) -> DataFrame:
    """REAL GIF decoder: full container parse + hand-implemented LZW
    decompression, then per-channel exact sums over the PALETTE-MAPPED
    pixels (same feature schema as the PPM/PNG decoders). Parity
    against the analytic oracle proves dictionary coding round-tripped
    every index."""

    def features(doc_id, payload):
        w, h, palette, indices = parse_gif(bytes(payload))
        yield doc_id, w, h, *palette_sums(palette, indices)

    return arrow_stage(media, features, PPM_FEATURE_SCHEMA)


def palette_sums(palette: bytes, indices: bytes) -> list[int]:
    """Exact (sum_r, sum_g, sum_b) of palette-mapped pixels: one index
    histogram times the palette. The parsers validate every index <
    palette entries, so the bincount length is the table length."""
    pal = np.frombuffer(palette, dtype=np.uint8).astype(np.int64).reshape(-1, 3)
    cnt = np.bincount(np.frombuffer(indices, dtype=np.uint8), minlength=pal.shape[0])
    return (cnt @ pal).tolist()
