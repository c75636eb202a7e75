"""REAL hybrid motion-compensated transform VIDEO codec (r9): the
H.261 -> MPEG -> H.264 codec class — the last third of the
JPEG/MP3/H.264 seam. Every mechanism that defines the hybrid-video
class is here, implemented from the published structure:

1. **Motion estimation**: exhaustive-search block matching — each 8x8
   block of a P-frame scans a +/-3 full-pel window in the previous
   frame, picks the minimum-SAD displacement (ties broken (sad, dy,
   dx) lexicographically — part of the format, replayed by the
   oracle), candidates restricted to fully-in-picture references.
2. **Closed-loop motion-compensated prediction**: the encoder predicts
   from its own RECONSTRUCTED previous frame (not the original), so
   encoder and decoder predictors never drift — the same closed-loop
   property ADPCM's predictor has (`operators/adpcm.py`), here in 2-D.
3. **Transform-coded residuals**: prediction residuals go through the
   SAME 8x8 fixed-point DCT + half-away quantization the JPEG codec
   uses (`operators/jpeg.py:DCT_T/_fdct_blocks/_idct_blocks` — the
   one-place rule for the transform constants); frame 0 is an intra
   frame, level-shifted and coded like a JPEG plane with a flat step.
4. **H.264-style syntax coding**: motion vectors are se(v) and
   coefficients ue(v) Exp-Golomb codes — H.264's actual syntax-element
   coding — plus a 1-bit all-zero-residual flag per block (the
   skip/CBP economics: a perfectly predicted block costs its motion
   vector plus ONE bit, which is why P-frames shrink toward the seam).

All arithmetic is integer fixed-point, so the lossy chain is exactly
reproducible, and the oracle REPLAYS the fused encoder+decoder as a
DuckDB RECURSIVE CTE over frames (`plans/multimodal_queries.py:
_mcv_oracle`) — the recursion carries the reconstructed frame, each
step runs block matching (windowed SAD + RANK argmin), the residual
DCT chain, and the reconstruction, and prices every frame's coded
bytes closed-form from the Exp-Golomb lengths. Parity therefore proves
motion search, prediction, transform, quantization, entropy coding,
container framing, parsing, and reconstruction — bit-for-bit and
byte-for-byte.

Synthetic scene: a toroidally scrolling raster — frame t shows the
base pattern shifted by (3t, 2t) with wraparound. Interior blocks are
pure translations (search provably can find (3, 2)); blocks at the
right/bottom edges cannot reach the true displacement inside the
picture (the in-bounds rule), so they exercise the full residual path
with real content. Both paths are graded every frame.

Container ("MCV1"): 12-byte header (magic, u16 width, u16 height,
u8 n_frames, u8 intra step, u8 inter step, u8 search range), then per
frame: per block in raster order — P-frames lead with se(dx), se(dy)
— a 1-bit zero-residual flag, and unless flagged, 64 ue(v) row-major
quantized coefficients; zero-pad to a byte boundary; CRC-8 (the FLAC
polynomial) over the frame's coded bytes. The decoder validates every
field, rejects out-of-picture motion vectors, verifies each frame CRC,
and fails on trailing bytes.

Scale notes (100 TB): synth, encode and decode run back to back in
one Arrow-batched ``mapInPandas`` (the stages fuse, see
``multimodal._map_batches``), so the frames never cross the JVM;
``encode_mcv_batch`` encodes and ``mcv_features_batch`` decodes a
whole batch of documents per call (the decode walks every document's
syntax in lockstep, ``_walk_batch``, and ``parse_mcv`` is only the
per-document error path); map-only, zero data-bearing shuffles beyond
the narrow-key spread.
Prediction chains frames WITHIN a payload — the defining cost of
inter coding (same seam as `operators/animgif.py`) — while payloads
stay independent rows; I-frames are the random-access points a real
corpus would space to bound that chain. P-frame bytes scale with
unpredictable content (the wrap seam), not with frame count.

Reference parity note: the reference engine has no media path at all
(SURVEY.md §2.3); this operator belongs to the mandated multimodal
extension family (SURVEY.md §2.4), closing the H.264-class third of
the codec seam the r8 VERDICT named.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from ds_mapreduce_spark.operators.bitio import (
    BitReader,
    corruption_to_value_error,
    crc8,
    crc8_many,
    unzigzag,
)
from ds_mapreduce_spark.operators.jpeg import (
    _fdct_blocks,
    _idct_blocks,
    _da_int,
)
from ds_mapreduce_spark.operators.multimodal import (
    PAYLOAD_SCHEMA,
    PCM_A,
    PCM_B,
    synth_map_arrays,
)

MCV_MAGIC = b"MCV1"
MCV_W = 24
MCV_H = 16
MCV_FRAMES = 6
#: full-pel exhaustive search range (+/- pixels, both axes)
MCV_SEARCH = 3
#: flat quantizer steps: intra (frame 0) and inter (residuals)
MCV_QI = 16
MCV_QP = 24
#: the scene's true per-frame scroll (within the search range, so
#: interior blocks can be predicted exactly)
MCV_VX = 3
MCV_VY = 2

MCV_FEATURE_SCHEMA = (
    "doc_id bigint, frame_id bigint, width bigint, height bigint, "
    "sum_v bigint, sum_sq_v bigint, sum_abs_mv bigint, frame_bytes bigint"
)


def synth_scroll_frames(docs: DataFrame) -> DataFrame:
    """(doc_id, frames): MCV_FRAMES full rasters (row-major index
    lists), frame t = the base linear-congruential pattern scrolled by
    (3t, 2t) with toroidal wrap — numpy-rendered
    (``multimodal.synth_map_arrays``) from the same closed form the
    DuckDB oracle replays:

      base(i)      = ((doc_id%256)*PCM_A + i*PCM_B) mod 256
      cur(x, y, t) = base(((y+2t)%16)*24 + ((x+3t)%24))
    """
    n = MCV_W * MCV_H
    i = np.arange(n, dtype=np.int64)
    t = np.arange(MCV_FRAMES, dtype=np.int64)
    # (frames, n): source index of each pixel after the (3t, 2t) scroll
    src = (
        (((i // MCV_W)[None, :] + MCV_VY * t[:, None]) % MCV_H) * MCV_W
        + ((i % MCV_W)[None, :] + MCV_VX * t[:, None]) % MCV_W
    )

    def build(d):
        arr = ((d[:, None, None] % 256) * PCM_A + src[None, :, :] * PCM_B) % 256
        return {"frames": [list(mat) for mat in arr.astype(np.int32)]}

    return synth_map_arrays(
        docs, "doc_id bigint, frames array<array<int>>", build
    )


def _read_block(r: BitReader) -> np.ndarray:
    """Zero flag + (unless flagged) 64 ue codes, read with one
    BitReader.read_ue_many call and unzigzagged at once."""
    if r.read(1):
        return np.zeros((8, 8), dtype=np.int64)
    u = np.array(r.read_ue_many(64), dtype=np.int64)
    return np.where(u & 1, -((u + 1) >> 1), u >> 1).reshape(8, 8)


def _to_blocks(frames: np.ndarray) -> np.ndarray:
    """(..., H, W) -> (..., n_blocks, 8, 8) in raster block order (the
    order the bitstream, the oracle's ``bl`` table, and ``_from_blocks``
    share)."""
    lead = frames.shape[:-2]
    return (
        frames.reshape(*lead, MCV_H // 8, 8, MCV_W // 8, 8)
        .swapaxes(-3, -2)
        .reshape(*lead, -1, 8, 8)
    )


def _from_blocks(blocks: np.ndarray) -> np.ndarray:
    lead = blocks.shape[:-3]
    return (
        blocks.reshape(*lead, MCV_H // 8, MCV_W // 8, 8, 8)
        .swapaxes(-3, -2)
        .reshape(*lead, MCV_H, MCV_W)
    )


def _block_origins():
    for by0 in range(0, MCV_H, 8):
        for bx0 in range(0, MCV_W, 8):
            yield by0, bx0


def _in_picture(d: int, size: int) -> tuple[int, int]:
    """Block indices [lo, hi) along an axis of ``size`` pixels whose
    8-pixel window displaced by ``d`` stays inside the picture."""
    return -(d // 8), (size - d) // 8


#: the (2*MCV_SEARCH+1)^2 candidate displacements in (dy, dx) raster
#: order, each with the block rows [r0, r1) and columns [c0, c1) it may
#: serve (the in-picture rule)
_SHIFTS = np.array(
    [
        (dy, dx)
        for dy in range(-MCV_SEARCH, MCV_SEARCH + 1)
        for dx in range(-MCV_SEARCH, MCV_SEARCH + 1)
    ],
    dtype=np.int64,
)
_WINDOWS = [
    (dy, dx, *_in_picture(dy, MCV_H), *_in_picture(dx, MCV_W))
    for dy, dx in _SHIFTS.tolist()
]
_ORIGINS = np.array(list(_block_origins()), dtype=np.int64)
_HEADER = MCV_MAGIC + struct.pack(
    "<HHBBBB", MCV_W, MCV_H, MCV_FRAMES, MCV_QI, MCV_QP, MCV_SEARCH
)


def _block_match(prev: np.ndarray, cur: np.ndarray):
    """Exhaustive search for every block of every document at once:
    (n, H, W) reconstructed previous frames and current frames ->
    (n, n_blocks, 2) motion vectors (dy, dx) and (n, n_blocks, 8, 8)
    predictions. Per displacement, one SAD over the blocks it keeps
    in-picture; the others stay at the int64 maximum, so they never
    win, and argmin's first minimum over the (dy, dx) raster IS the
    format's (sad, dy, dx) lexicographic tie-break."""
    n = len(cur)
    sads = np.full(
        (len(_WINDOWS), n, MCV_H // 8, MCV_W // 8), np.iinfo(np.int64).max
    )
    for k, (dy, dx, r0, r1, c0, c1) in enumerate(_WINDOWS):
        y0, y1, x0, x1 = 8 * r0, 8 * r1, 8 * c0, 8 * c1
        diff = cur[:, y0:y1, x0:x1] - prev[:, y0 + dy : y1 + dy, x0 + dx : x1 + dx]
        sads[k, :, r0:r1, c0:c1] = (
            np.abs(diff)
            .reshape(n, y1 - y0, c1 - c0, 8)
            .sum(axis=-1)
            .reshape(n, r1 - r0, 8, c1 - c0)
            .sum(axis=2)
        )
    mvs = _SHIFTS[sads.reshape(len(_WINDOWS), n, -1).argmin(axis=0)]
    return mvs, _predict(prev, mvs)


def _predict(prev: np.ndarray, mvs: np.ndarray) -> np.ndarray:
    """(n, H, W) reference frames and (n, n_blocks, 2) motion vectors
    (dy, dx) -> (n, n_blocks, 8, 8) motion-compensated predictions."""
    r = np.arange(8)
    ys = (_ORIGINS[:, 0] + mvs[..., 0])[..., None, None] + r[:, None]
    xs = (_ORIGINS[:, 1] + mvs[..., 1])[..., None, None] + r[None, :]
    return prev[np.arange(len(prev))[:, None, None, None], ys, xs]


def _reconstruct(q: np.ndarray, mvs: np.ndarray) -> np.ndarray:
    """The decoder over n documents at once: (n, T, n_blocks, 8, 8)
    quantized blocks and (n, T, n_blocks, 2) motion vectors ->
    (n, T, H, W) frames. Frame 0 is intra; every later frame adds its
    decoded residual to the prediction from the frame before it, the
    same closed loop the encoder runs."""
    out = np.empty((*q.shape[:2], MCV_H, MCV_W), dtype=np.int64)
    for t in range(q.shape[1]):
        if t == 0:
            recon_b = _idct_blocks(q[:, 0] * MCV_QI) + 128
        else:
            recon_b = _predict(out[:, t - 1], mvs[:, t]) + _idct_blocks(
                q[:, t] * MCV_QP
            )
        out[:, t] = _from_blocks(np.clip(recon_b, 0, 255))
    return out


def _se_codes(v: np.ndarray):
    """Signed values -> ue code numbers u = zigzag(v) + 1 and their
    lengths 2*bitlength(u) - 1 (ue(zigzag(v)) bits, MSB-first)."""
    u = np.where(v >= 0, 2 * v, -2 * v - 1) + 1
    return u, 2 * np.frexp(u.astype(np.float64))[1] - 1


def encode_mcv_batch(frames) -> list[bytes]:
    """Full encode of a batch of documents: (n, MCV_FRAMES, H, W)
    rasters (values 0..255) -> n MCV1 containers. Closed-loop: every
    P-frame searches and predicts in the encoder's own reconstruction
    of the previous frame. Search, transform and quantization run over
    every document's blocks at once; every syntax field of the batch
    (se motion vectors, zero flag, 64 ue codes, byte pad) is packed
    with one ``np.repeat``/``np.packbits``; every frame's CRC-8 comes
    from one ``crc8_many`` call."""
    fr = np.asarray(frames, dtype=np.int64)
    if not len(fr):
        return []
    if fr.shape[1:] != (MCV_FRAMES, MCV_H, MCV_W):
        raise ValueError(
            f"expected {MCV_FRAMES} frames of {MCV_W}x{MCV_H}, got "
            f"frames of shape {fr.shape[1:]}"
        )
    n = len(fr)
    q = np.empty((n, MCV_FRAMES, len(_ORIGINS), 8, 8), dtype=np.int64)
    mvs = np.zeros((n, MCV_FRAMES, len(_ORIGINS), 2), dtype=np.int64)
    for t in range(MCV_FRAMES):
        curbs = _to_blocks(fr[:, t])
        if t == 0:
            q[:, t] = _da_int(_fdct_blocks(curbs - 128), MCV_QI)
            recon_b = _idct_blocks(q[:, t] * MCV_QI) + 128
        else:
            mvs[:, t], preds = _block_match(prev, fr[:, t])
            q[:, t] = _da_int(_fdct_blocks(curbs - preds), MCV_QP)
            recon_b = preds + _idct_blocks(q[:, t] * MCV_QP)
        prev = _from_blocks(np.clip(recon_b, 0, 255))

    # per block: ue(zigzag(dx)), ue(zigzag(dy)) (P-frames only), the
    # zero-residual flag, then unless flagged 64 row-major ue codes; per
    # frame: zero bits to the byte boundary. Every field is a (value,
    # length) pair, written MSB-first.
    coef = q.reshape(*q.shape[:3], 64)
    zero = ~coef.any(axis=-1, keepdims=True)
    mv_u, mv_len = _se_codes(mvs[..., ::-1])
    mv_len[:, 0] = 0  # frame 0 is intra: no motion vectors
    co_u, co_len = _se_codes(coef)
    co_len[zero[..., 0]] = 0
    vals = np.concatenate([mv_u, zero, co_u], axis=-1).reshape(n, MCV_FRAMES, -1)
    lens = np.concatenate([mv_len, np.ones_like(zero), co_len], axis=-1)
    lens = lens.reshape(n, MCV_FRAMES, -1)
    frame_bits = lens.sum(axis=-1, keepdims=True)
    v = np.concatenate([vals, np.zeros_like(frame_bits)], axis=-1).ravel()
    ln = np.concatenate([lens, -frame_bits % 8], axis=-1).ravel()
    shift = np.repeat(np.cumsum(ln) - 1, ln) - np.arange(int(ln.sum()))
    bits = (np.repeat(v, ln) >> np.minimum(shift, 63)) & 1
    data = np.packbits(bits.astype(np.uint8))

    # each frame's CRC byte goes in right after its coded bytes
    nbytes = ((frame_bits + 7) // 8).ravel()
    ends = np.cumsum(nbytes)
    framed = np.insert(data, ends, crc8_many(data, ends - nbytes, ends)).tobytes()
    doc_ends = np.cumsum((nbytes + 1).reshape(n, MCV_FRAMES).sum(axis=1)).tolist()
    return [_HEADER + framed[a:b] for a, b in zip([0] + doc_ends[:-1], doc_ends)]


def encode_mcv_bytes(frames) -> bytes:
    """One document's encode: MCV_FRAMES rasters (row-major, values
    0..255) -> MCV1 container, through ``encode_mcv_batch``."""
    fr = np.asarray(frames, dtype=np.int64)
    return encode_mcv_batch(fr.reshape(1, len(fr), MCV_H, MCV_W))[0]


@corruption_to_value_error
def parse_mcv(payload: bytes):
    """Header + per-frame syntax walk of ONE container -> (frames, spans)
    where each frame is a list of (dy, dx, q-block) per block ((0,0,intra-q)
    for frame 0) and spans are each frame's (start, end) byte range
    including its CRC — so frame_bytes in the features is a span
    length and len(payload) == 12 + sum(frame_bytes) by construction.
    Validates magic, geometry, motion-vector bounds, frame CRCs, and
    exact stream consumption. The decode stages call it only for the
    documents the batch walk (``_walk_batch``) does not accept: it is
    the per-document error path, and it decodes the containers with a
    header other than the standard one."""
    if payload[:4] != MCV_MAGIC:
        raise ValueError("not an MCV1 payload")
    if len(payload) < 12:
        raise ValueError("MCV1 payload truncated inside the header")
    w, h, n_frames, qi, qp, search = struct.unpack("<HHBBBB", payload[4:12])
    if (w, h, qi, qp, search) != (MCV_W, MCV_H, MCV_QI, MCV_QP, MCV_SEARCH):
        raise ValueError(
            f"unsupported MCV1 geometry: {w}x{h} qi={qi} qp={qp} R={search}"
        )
    r = BitReader(payload, 12)
    frames = []
    spans = []
    for t in range(n_frames):
        start = r.byte_pos
        blocks = []
        for by0, bx0 in _block_origins():
            if t == 0:
                dy = dx = 0
            else:
                dxu, dyu = r.read_ue_many(2)
                dx = unzigzag(dxu)
                dy = unzigzag(dyu)
                if not (
                    0 <= by0 + dy <= MCV_H - 8
                    and 0 <= bx0 + dx <= MCV_W - 8
                ):
                    raise ValueError(
                        f"MCV1 motion vector ({dx},{dy}) leaves the "
                        f"picture at block ({bx0},{by0})"
                    )
                if abs(dx) > search or abs(dy) > search:
                    raise ValueError(
                        f"MCV1 motion vector ({dx},{dy}) exceeds the "
                        f"declared search range {search}"
                    )
            blocks.append((dy, dx, _read_block(r)))
        r.align()
        end = r.byte_pos
        crc = r.read(8)
        if crc != crc8(payload[start:end]):
            raise ValueError("MCV1 frame CRC mismatch")
        frames.append(blocks)
        spans.append((start, r.byte_pos))
    if r.byte_pos != len(payload):
        raise ValueError(
            f"{len(payload) - r.byte_pos} trailing bytes after last frame"
        )
    return frames, spans


#: longest ue(v) prefix the batch walk decodes (values below 2^29); a
#: longer code sends its document to ``parse_mcv``
_MAX_LZ = 28


def _walk_batch(payloads: list[bytes]):
    """Syntax walk of a whole batch of MCV1 containers -> (rows, q, mvs,
    spans) of the documents it accepts: their indices into
    ``payloads``, (n, F, n_blocks, 8, 8) quantized blocks,
    (n, F, n_blocks, 2) motion vectors (dy, dx), and (n, F, 2) frame
    byte spans including the CRC.

    The payloads with the standard header are concatenated into one bit
    array, and one table gives, for every bit position, where the ue(v)
    code that starts there ends. All documents then walk in lockstep:
    per syntax element, one gather across the documents. The code
    values are read out afterwards, all at once. A document is accepted
    only if no code has more than ``_MAX_LZ`` leading zeros, every
    motion vector stays in the picture and within the search range,
    every frame CRC matches, and the walk ends exactly at its payload's
    end. Any other document is left to ``parse_mcv``, which raises its
    error or decodes it."""
    rows = [i for i, p in enumerate(payloads) if p[:12] == _HEADER]
    docs = [payloads[i] for i in rows]
    lens = np.array([len(p) for p in docs], dtype=np.int64)
    doc_end = 8 * np.cumsum(lens)
    doc_start = doc_end - 8 * lens
    # 8 zero bytes of padding hold the dead position (past every
    # document, a fixed point of the walk) and the 5-byte value reads
    joined = b"".join(docs)
    dead = 8 * len(joined) + 8
    buf = np.frombuffer(joined + bytes(8), dtype=np.uint8)
    bits = np.unpackbits(buf)
    # a ue(v) code that starts at p and has its first 1 bit at o ends at
    # 2*o - p + 1, clamped to the dead position (a 1 bit past the end
    # closes the zero run of the padding)
    idx = np.int32 if 2 * len(bits) < 1 << 31 else np.int64
    ones = np.append(np.flatnonzero(bits), len(bits)).astype(idx)
    code_end = np.repeat(2 * ones + 1, np.diff(ones, prepend=-1))
    code_end -= np.arange(len(bits) + 1, dtype=idx)
    np.minimum(code_end, dead, out=code_end)

    n, nb = len(docs), len(_ORIGINS)
    # per block: the start of ue(dx), ue(dy), then the 64 coefficients
    pos = np.zeros((n, MCV_FRAMES, nb, 66), dtype=idx)
    zero = np.zeros((n, MCV_FRAMES, nb), dtype=bool)
    starts = np.empty((n, MCV_FRAMES), dtype=np.int64)
    crc_at = np.empty((n, MCV_FRAMES), dtype=np.int64)
    c = doc_start + 8 * len(_HEADER)
    for t in range(MCV_FRAMES):
        starts[:, t] = c
        for b in range(nb):
            if t:
                pos[:, t, b, 0] = c
                c = code_end[c]
                pos[:, t, b, 1] = c
                c = code_end[c]
            z = bits[c] == 1
            zero[:, t, b] = z
            c = np.minimum(c + 1, dead)
            live = np.flatnonzero(~z)
            cl = c[live]
            steps = []
            for _ in range(64):
                steps.append(cl)
                cl = code_end[cl]
            pos[live, t, b, 2:] = np.stack(steps, axis=1)
            c[live] = cl
        crc_at[:, t] = c = (c + 7) & -8  # zero pad to the byte boundary
        c = np.minimum(c + 8, dead)
    ok = np.flatnonzero(c == doc_end)

    # every code's value: the lz+1 bits from its first 1 bit, minus one
    p = pos[ok]
    lz = (code_end[p] - p) >> 1
    first = p + lz
    window = np.zeros(len(buf) - 4, dtype=np.int64)  # 5 bytes from each
    for k in range(5):
        window = (window << 8) | buf[k : len(buf) - 4 + k]
    u = window[first >> 3] >> (39 - (first & 7) - lz)
    u = (u & ((1 << (lz + 1)) - 1)) - 1
    v = (u >> 1) ^ -(u & 1)  # unzigzag
    mvs = v[..., 1::-1].copy()
    mvs[:, 0] = 0  # frame 0 is intra: no motion vectors
    q = np.where(zero[ok][..., None], 0, v[..., 2:])
    ref = _ORIGINS + mvs  # each reference block's top-left corner
    fits = (
        (ref >= 0)
        & (ref <= (MCV_H - 8, MCV_W - 8))
        & (np.abs(mvs) <= MCV_SEARCH)
    ).all(axis=(1, 2, 3))
    s, e = starts[ok] >> 3, crc_at[ok] >> 3
    crc_ok = crc8_many(buf, s.ravel(), e.ravel()) == buf[e.ravel()]
    short = (lz <= _MAX_LZ).all(axis=(1, 2, 3))
    keep = fits & short & crc_ok.reshape(-1, MCV_FRAMES).all(axis=1)
    spans = np.stack([s, e + 1], axis=-1) - (doc_start[ok] >> 3)[:, None, None]
    return (
        np.array(rows, dtype=np.int64)[ok][keep],
        q[keep].reshape(-1, MCV_FRAMES, nb, 8, 8),
        mvs[keep],
        spans[keep],
    )


def _decode_batch(payloads: list[bytes]):
    """Decode a batch of MCV1 containers -> [(rows, frames, mvs, spans)]:
    the documents ``_walk_batch`` accepts as one group, then every other
    document, in row order, as a group of its own through
    ``parse_mcv`` (so the first rejected document's ValueError is the
    one raised). Each group is reconstructed by ``_reconstruct``;
    frames are (n, T, H, W), mvs (n, T, n_blocks, 2), spans (n, T, 2)."""
    rows, q, mvs, spans = _walk_batch(payloads)
    groups = [(rows, _reconstruct(q, mvs), mvs, spans)]
    accepted = set(rows.tolist())
    for i, payload in enumerate(payloads):
        if i in accepted:
            continue
        frames, sp = parse_mcv(payload)
        shape = (1, len(frames), len(_ORIGINS))
        q1 = np.array([[b[2] for b in f] for f in frames], dtype=np.int64)
        mv1 = np.array([[b[:2] for b in f] for f in frames], dtype=np.int64)
        mv1 = mv1.reshape(*shape, 2)
        groups.append(
            (
                np.array([i]),
                _reconstruct(q1.reshape(*shape, 8, 8), mv1),
                mv1,
                np.array(sp, dtype=np.int64).reshape(1, len(sp), 2),
            )
        )
    return groups


def mcv_frame_spans_batch(payloads: list[bytes]) -> list[list[tuple[int, int]]]:
    """Every container's frame byte spans (CRC included), from one
    ``_walk_batch``; the documents it does not accept go through
    ``parse_mcv`` in row order, which raises the first one's error."""
    rows, _q, _mvs, spans = _walk_batch(payloads)
    walked = dict(zip(rows.tolist(), spans.tolist()))
    return [
        list(map(tuple, walked[i])) if i in walked else parse_mcv(p)[1]
        for i, p in enumerate(payloads)
    ]


def mcv_frame_spans(payload: bytes) -> list[tuple[int, int]]:
    """One container's frame byte spans: a one-document
    ``mcv_frame_spans_batch``, with parse_mcv's validation and errors."""
    return mcv_frame_spans_batch([payload])[0]


def mcv_features_batch(payloads: list[bytes]) -> dict[str, np.ndarray]:
    """Per-frame features of a batch of MCV1 containers, one entry per
    frame in row then frame order: ``row`` (index into ``payloads``),
    ``frame_id``, the reconstructed frame's ``sum_v`` and ``sum_sq_v``,
    ``sum_abs_mv`` (|dx|+|dy| over its blocks) and ``frame_bytes`` (its
    span, CRC included)."""
    cols = [
        np.stack(
            [
                np.repeat(rows, frames.shape[1]),
                np.tile(np.arange(frames.shape[1]), len(rows)),
                frames.sum(axis=(2, 3)).ravel(),
                (frames * frames).sum(axis=(2, 3)).ravel(),
                np.abs(mvs).sum(axis=(2, 3)).ravel(),
                np.diff(spans, axis=-1).ravel(),
            ]
        )
        for rows, frames, mvs, spans in _decode_batch(payloads)
    ]
    f = np.concatenate(cols, axis=1)
    f = f[:, np.argsort(f[0], kind="stable")]
    names = ("row", "frame_id", "sum_v", "sum_sq_v", "sum_abs_mv", "frame_bytes")
    return dict(zip(names, f))


def decode_mcv_frames(payload: bytes) -> list[np.ndarray]:
    """Full reconstruction of one container: a one-document
    ``_decode_batch``."""
    groups = _decode_batch([payload])
    return list(next(frames for rows, frames, _, _ in groups if len(rows))[0])


def encode_mcv(df: DataFrame) -> DataFrame:
    """(doc_id, frames) -> (doc_id, payload): Arrow-batched, map-only;
    one ``encode_mcv_batch`` call per batch."""

    def encode(doc_id, frames):
        fr = [np.stack(f).reshape(len(f), MCV_H, MCV_W) for f in frames]
        return {"payload": encode_mcv_batch(np.array(fr, dtype=np.int64))}

    return synth_map_arrays(df, PAYLOAD_SCHEMA, encode)


def decode_mcv_features(media: DataFrame) -> DataFrame:
    """(doc_id, payload) -> one row per RECONSTRUCTED frame: pixel
    sums (grading the whole prediction+transform chain), the motion
    budget |dx|+|dy| summed over blocks (grading the search), and the
    frame's coded bytes (grading the syntax coder and the skip-flag
    economics — P-frame bytes track the wrap seam, not frame count).
    One ``mcv_features_batch`` call per Arrow batch."""

    def frames(doc_id, payload):
        f = mcv_features_batch([bytes(p) for p in payload])
        n = len(f["row"])
        return {
            "doc_id": doc_id[f["row"]],
            "frame_id": f["frame_id"],
            "width": np.full(n, MCV_W),
            "height": np.full(n, MCV_H),
            **{k: f[k] for k in ("sum_v", "sum_sq_v", "sum_abs_mv", "frame_bytes")},
        }

    return synth_map_arrays(media, MCV_FEATURE_SCHEMA, frames)
