"""REAL temporal video compression (r9): ANIMATED GIF89a with
transparency-masked delta frames — the inter-frame coding class the
multimodal tier lacked. MJPEG (operators/mjpeg_avi.py) stores every
frame independently; this codec stores frame 0 full and every later
frame as the BOUNDING RECTANGLE of the pixels that actually changed,
with unchanged pixels inside the rectangle masked by the transparent
index and the "do not dispose" disposal method compositing each delta
onto the previous canvas — exactly the optimization gifsicle performs
on real animations, expressed in the standard container every browser
plays. The H.264 stub now marks only motion-compensated transform
coding; plain temporal delta coding is real here.

Container pieces beyond the static GIF (operators/gif.py, whose
hand-written LZW both sides reuse): the NETSCAPE2.0 looping
application extension, a Graphic Control Extension per frame
(disposal method, delay, transparent-index flag), per-frame image
descriptors with nonzero left/top offsets, and a decoder that
COMPOSES: it walks the block stream, attaches each GCE to the
following image, validates the sub-rectangle against the logical
screen, skips transparent pixels, and snapshots the canvas after
every frame. Disposal methods 2/3 (restore-background/previous) and
local color tables are rejected loudly as outside the subset.

The synthetic animation is closed-form so the oracle can replay it:
a static background raster plus a 5x5 block whose position and
content move deterministically per (doc_id, frame). Pixel values
live in 0..254 — index 255 is RESERVED as the transparent index, so
transparency can never collide with payload data. The encoder
computes deltas from the ACTUAL rasters (not the formula), so parity
against the analytic composed-frame oracle proves the whole
delta-extraction -> LZW -> container -> parse -> composition chain:
a wrong rectangle, a mis-masked pixel, or a disposal bug shifts some
frame's channel sums.

Scale notes (100 TB): one fused Arrow-batched ``mapInPandas``,
map-only, zero data-bearing shuffles beyond the narrow-key spread.
Temporal delta coding is the storage-side win: payload bytes scale
with MOTION, not frames (tests pin the 6-frame file far below 6x the
single-frame size). The composition dependency chains frames WITHIN
one payload (decode is sequential per doc, the price of inter-frame
coding — the H.264 seam's defining property), but payloads stay
independent rows, so corpus-level parallelism is untouched.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from ds_mapreduce_spark.operators.bitio import corruption_to_value_error
from ds_mapreduce_spark.operators.gif import (
    GIF_H,
    GIF_W,
    _grayscale_ramp_palette,
    _lzw_compress,
    _lzw_decompress,
    palette_sums,
)
from ds_mapreduce_spark.operators.multimodal import (
    PAYLOAD_SCHEMA,
    PCM_A,
    PCM_B,
    arrow_stage,
    pxbytes,
)

ANIM_FRAMES = 6
ANIM_BLOCK = 5
#: payload values are taken mod 255 so index 255 never occurs in data
#: and can serve as the transparent index
ANIM_VMOD = 255
ANIM_TRANSPARENT = 255
_BX_MOD = GIF_W - ANIM_BLOCK  # 19
_BY_MOD = GIF_H - ANIM_BLOCK  # 11


def synth_anim_frames(docs: DataFrame) -> DataFrame:
    """(doc_id, frames): ANIM_FRAMES full rasters (row-major index
    lists), each = static background + the moving block, numpy-rendered
    (``multimodal.synth_map_arrays``) from the same closed form the
    DuckDB oracle replays:

      bx(t) = (doc_id + 3t) mod 19,  by(t) = (doc_id div 7 + 2t) mod 11
      block pixel  = ((doc_id%256)*PCM_B + (1000t + 5(y-by) + (x-bx))*PCM_A) mod 255
      background   = ((doc_id%256)*PCM_A + i*PCM_B) mod 255
    """
    import numpy as np

    from ds_mapreduce_spark.operators.multimodal import synth_map_arrays

    n = GIF_W * GIF_H
    i = np.arange(n, dtype=np.int64)
    x = (i % GIF_W)[None, None, :]
    y = (i // GIF_W)[None, None, :]
    t = np.arange(ANIM_FRAMES, dtype=np.int64)[None, :, None]

    def build(d):
        dc = d[:, None, None]
        dm = dc % 256
        bx = (dc + t * 3) % _BX_MOD
        by = (dc // 7 + t * 2) % _BY_MOD
        mask = (x >= bx) & (x < bx + ANIM_BLOCK) & (y >= by) & (y < by + ANIM_BLOCK)
        blockv = (
            dm * PCM_B + (t * 1000 + (y - by) * ANIM_BLOCK + (x - bx)) * PCM_A
        ) % ANIM_VMOD
        bg = (dm * PCM_A + i[None, None, :] * PCM_B) % ANIM_VMOD
        arr = np.where(mask, blockv, bg).astype(np.int32)
        return {"frames": [list(mat) for mat in arr]}

    return synth_map_arrays(
        docs, "doc_id bigint, frames array<array<int>>", build
    )


def _image_block(indices: bytes, left: int, top: int, w: int, h: int) -> bytes:
    """Image descriptor + LZW data sub-blocks for one (sub-)frame."""
    lzw = _lzw_compress(indices, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return (
        b"\x2c"
        + struct.pack("<HHHHB", left, top, w, h, 0)
        + bytes([8])
        + bytes(blocks)
    )


def _gce(transparent: bool) -> bytes:
    """Graphic Control Extension: disposal = 1 (do not dispose),
    10 cs delay, transparent index 255 when flagged."""
    packed = (1 << 2) | (1 if transparent else 0)
    return b"\x21\xf9\x04" + bytes([packed, 10, 0, ANIM_TRANSPARENT]) + b"\x00"


def encode_animgif_bytes(frames: list[bytes], w: int, h: int) -> bytes:
    """A complete looping animated GIF89a: frame 0 stored full, each
    later frame as the bounding rectangle of pixels that differ from
    the previous frame, unchanged pixels inside the rectangle masked
    with the transparent index. A no-change frame still emits a legal
    1x1 fully-transparent sub-frame (the delay must be carried)."""
    for f in frames:
        if len(f) != w * h:
            raise ValueError(f"need w*h indices per frame, got {len(f)}")
        if ANIM_TRANSPARENT in f:
            raise ValueError("payload uses the reserved transparent index")
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0xF7, 0, 0)
    out += _grayscale_ramp_palette()
    # NETSCAPE2.0 looping extension (loop forever)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    out += _gce(transparent=False)
    out += _image_block(frames[0], 0, 0, w, h)
    for t in range(1, len(frames)):
        prev, cur = frames[t - 1], frames[t]
        # numpy frame diff (r16): changed-pixel mask, bounding box from
        # row/col any-reductions, and the transparent-masked sub-rect
        # in vectorized ops — byte-identical to the per-pixel scan
        pa = np.frombuffer(prev, dtype=np.uint8).reshape(h, w)
        ca = np.frombuffer(cur, dtype=np.uint8).reshape(h, w)
        d2 = pa != ca
        rows = np.flatnonzero(d2.any(axis=1))
        if not len(rows):
            out += _gce(transparent=True)
            out += _image_block(bytes([ANIM_TRANSPARENT]), 0, 0, 1, 1)
            continue
        cols = np.flatnonzero(d2.any(axis=0))
        y0, y1 = int(rows[0]), int(rows[-1]) + 1
        x0, x1 = int(cols[0]), int(cols[-1]) + 1
        sub = np.where(
            d2[y0:y1, x0:x1], ca[y0:y1, x0:x1], ANIM_TRANSPARENT
        ).astype(np.uint8).tobytes()
        out += _gce(transparent=True)
        out += _image_block(sub, x0, y0, x1 - x0, y1 - y0)
    out += b"\x3b"
    return bytes(out)


@corruption_to_value_error
def parse_animgif(payload: bytes):
    """Parse + COMPOSE an animated GIF -> (w, h, palette, composed)
    where composed[t] is the full canvas (palette indices, bytes)
    after frame t. Validates the signature, screen descriptor, global
    color table, every extension's sub-block structure, each GCE
    (disposal must be 0/1, the subset), each sub-rectangle against
    the canvas bounds, the LZW pixel count, and that frame 0 covers
    the whole canvas opaquely (otherwise the canvas would have
    undefined pixels). Local color tables and interlace are rejected
    loudly."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    if len(payload) < 13:
        raise ValueError("truncated screen descriptor")
    sw, sh, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    if not packed & 0x80:
        raise ValueError("animated subset requires a global color table")
    n = 2 << (packed & 0x07)
    palette = payload[pos : pos + 3 * n]
    if len(palette) != 3 * n:
        raise ValueError("truncated global color table")
    pos += 3 * n

    canvas = np.zeros((sh, sw), dtype=np.uint8)
    composed: list[bytes] = []
    gce: tuple[int, bool, int] | None = None  # (disposal, tflag, tindex)
    while True:
        if pos >= len(payload):
            raise ValueError("missing trailer")
        introducer = payload[pos]
        pos += 1
        if introducer == 0x3B:
            break
        if introducer == 0x21:
            label = payload[pos]
            pos += 1
            if label == 0xF9:  # Graphic Control Extension
                size = payload[pos]
                if size != 4:
                    raise ValueError(f"GCE block size {size} != 4")
                gpacked, _d_lo, _d_hi, tindex = payload[pos + 1 : pos + 5]
                disposal = (gpacked >> 2) & 0x07
                if disposal > 1:
                    raise ValueError(
                        f"disposal method {disposal} outside the "
                        "do-not-dispose subset"
                    )
                gce = (disposal, bool(gpacked & 1), tindex)
                pos += 5
                if payload[pos] != 0:
                    raise ValueError("GCE missing terminator")
                pos += 1
            else:  # application / comment / plain-text: skip sub-blocks
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
        if pos + 9 > len(payload):
            raise ValueError("truncated image descriptor")
        left, top, w, h, ipacked = struct.unpack("<HHHHB", payload[pos : pos + 9])
        pos += 9
        if ipacked & 0x40:
            raise ValueError("interlaced GIF unsupported")
        if ipacked & 0x80:
            raise ValueError("local color tables outside the animated subset")
        if left + w > sw or top + h > sh:
            raise ValueError(
                f"frame rect {w}x{h}+{left}+{top} exceeds canvas {sw}x{sh}"
            )
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
        tflag, tindex = (gce[1], gce[2]) if gce else (False, 0)
        if not composed and (tflag or (left, top, w, h) != (0, 0, sw, sh)):
            raise ValueError("first frame must cover the canvas opaquely")
        # numpy compose (r16): mask-select the opaque pixels, validate
        # them against the color table, and blit the sub-rect in one
        # vectorized write — same pixels, same ValueError condition
        # (v*3+2 >= len(palette) ⇔ v >= palette_entries) as the
        # per-pixel loop it replaces; the canvas stays an ndarray
        # across frames (r17 — the bytearray round-trip per frame was
        # two full-canvas copies for nothing)
        ind = np.frombuffer(indices, dtype=np.uint8).reshape(h, w)
        opaque = (ind != tindex) if tflag else np.ones((h, w), dtype=bool)
        if int(ind[opaque].max(initial=0)) * 3 + 2 >= len(palette):
            raise ValueError("pixel index outside the color table")
        canvas = canvas.copy()
        np.copyto(canvas[top : top + h, left : left + w], ind, where=opaque)
        composed.append(canvas.tobytes())
        gce = None
    if not composed:
        raise ValueError("GIF contains no image")
    return sw, sh, palette, composed


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

ANIM_FEATURE_SCHEMA = (
    "doc_id bigint, frame_id bigint, width bigint, height bigint, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def encode_animgif(df: DataFrame) -> DataFrame:
    """(doc_id, frames) -> (doc_id, payload): Arrow-batched, map-only."""
    return arrow_stage(
        df,
        lambda d, frames: [
            (d, encode_animgif_bytes([pxbytes(f) for f in frames], GIF_W, GIF_H))
        ],
        PAYLOAD_SCHEMA,
    )


def decode_animgif_features(media: DataFrame) -> DataFrame:
    """(doc_id, payload) -> one row per COMPOSED frame with exact
    palette-mapped channel sums — the temporal analog of the static
    GIF features: a wrong delta rectangle or composition bug shifts
    some frame's sums."""

    def frames(doc_id, payload):
        w, h, palette, composed = parse_animgif(bytes(payload))
        # parse_animgif validated every opaque index against the table
        # and frame 0 covers the canvas, so composed indices stay in range
        for t, canvas in enumerate(composed):
            yield doc_id, t, w, h, *palette_sums(palette, canvas)

    return arrow_stage(media, frames, ANIM_FEATURE_SCHEMA)
