"""REAL video container (r9): MJPEG-in-AVI — a genuine RIFF/AVI
container (hdrl/avih/strl/strh/strf headers, 'movi' LIST of '00dc'
frame chunks, spec word-alignment) whose frames are OUR baseline JPEG
codec's files (operators/jpeg.py, interchange-proven against OpenJDK).
This upgrades the VIDEO leg of the mandated multimodal surface from
the signature stub to a real format: MJPEG/AVI is what motion-JPEG
cameras actually write, per-frame transform coding with no inter-frame
prediction. Temporal frame-sampling — the video form of the mandated
frame-sample operator — keeps every ``stride``-th frame after the
container parse, so the sampled features are exactly closed-form via
the same fixed-point JPEG oracle arithmetic, now over (frame, block)
instances. The NotImplementedError seam for INTER-FRAME codecs
(H.264: motion compensation, no stdlib path) remains documented.

Scale notes (100 TB): one fused Arrow-batched ``mapInPandas``,
map-only, zero shuffles beyond the narrow-key spread; video payloads are the widest rows in the
corpus, so ``maxPartitionBytes`` (not row count) sizes tasks, and
frame sampling drops (1 - 1/stride) of the decode work before the
expensive per-frame IDCT.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame

from ds_mapreduce_spark.operators.bitio import corruption_to_value_error, riff_chunk
from ds_mapreduce_spark.operators.jpeg import (
    JPEG_BLOCKS,
    JPEG_H,
    JPEG_W,
    encode_jpeg_bytes,
    parse_jpeg,
    sum_v_sq,
)
from ds_mapreduce_spark.operators.multimodal import (
    PAYLOAD_SCHEMA,
    PCM_A,
    PCM_B,
    arrow_stage,
    pxbytes,
)

MJPEG_N_FRAMES = 4
MJPEG_STRIDE = 2
MJPEG_FPS = 10


def _list(fourcc: bytes, data: bytes) -> bytes:
    return riff_chunk(b"LIST", fourcc + data)


def encode_mjpeg_avi_bytes(frames: list[bytes], w: int, h: int) -> bytes:
    """A complete AVI file: each element of ``frames`` is a finished
    JPEG file, wrapped as a '00dc' compressed-video chunk."""
    nf = len(frames)
    max_frame = max((len(f) for f in frames), default=0)
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // MJPEG_FPS,  # microseconds per frame
        0, 0, 0,                 # max bytes/sec, padding, flags
        nf, 0, 1,                # total frames, initial frames, streams
        max_frame, w, h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, MJPEG_FPS, 0, nf, max_frame, 10000, 0)
        + struct.pack("<4h", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        riff_chunk(b"avih", avih)
        + _list(b"strl", riff_chunk(b"strh", strh) + riff_chunk(b"strf", strf)),
    )
    movi = _list(b"movi", b"".join(riff_chunk(b"00dc", f) for f in frames))
    return riff_chunk(b"RIFF", b"AVI " + hdrl + movi)


def _walk_chunks(buf: bytes, pos: int, end: int):
    """Yield (fourcc, payload) over a RIFF chunk run, honoring the
    word-alignment pad; raises on truncation."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated chunk header")
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
        data = buf[pos + 8 : pos + 8 + size]
        if len(data) != size:
            raise ValueError(f"truncated {fourcc!r} chunk")
        yield fourcc, data
        pos += 8 + size + (size % 2)


@corruption_to_value_error
def parse_mjpeg_avi(payload: bytes):
    """Parse an MJPEG AVI -> (width, height, [frame pixel bytes]).

    Reads geometry and frame count from 'avih', validates the stream
    header declares a 'vids'/'MJPG' stream (an AVI carrying any other
    codec raises — the documented inter-frame seam), collects the
    'movi' '00dc' chunks, decodes each frame through the full JPEG
    parser, and cross-checks: frame count against the header, every
    frame's dimensions against 'avih'. Unknown chunks (JUNK, idx1,
    '00db', vprp, ...) are structurally validated then skipped."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    end = min(8 + riff_size, len(payload))
    avih = None
    stream_ok = False
    frames: list[bytes] = []
    for fourcc, data in _walk_chunks(payload, 12, end):
        if fourcc != b"LIST":
            continue  # JUNK / idx1 / ... at top level
        ltype = data[:4]
        if ltype == b"hdrl":
            for c4, cdata in _walk_chunks(data, 4, len(data)):
                if c4 == b"avih":
                    vals = struct.unpack("<10I", cdata[:40])
                    avih = {"n_frames": vals[4], "streams": vals[6],
                            "width": vals[8], "height": vals[9]}
                elif c4 == b"LIST" and cdata[:4] == b"strl":
                    for s4, sdata in _walk_chunks(cdata, 4, len(cdata)):
                        if s4 == b"strh":
                            if sdata[:4] != b"vids":
                                raise ValueError(
                                    f"unsupported stream type {sdata[:4]!r}"
                                )
                            if sdata[4:8] != b"MJPG":
                                raise ValueError(
                                    f"unsupported video codec {sdata[4:8]!r} "
                                    "(only MJPG; inter-frame codecs are the "
                                    "documented seam)"
                                )
                            stream_ok = True
        elif ltype == b"movi":
            for c4, cdata in _walk_chunks(data, 4, len(data)):
                if c4 == b"00dc":
                    frames.append(cdata)
    if avih is None or not stream_ok:
        raise ValueError("missing avih or video stream header")
    if avih["streams"] != 1:
        raise ValueError(f"expected 1 stream, header says {avih['streams']}")
    if len(frames) != avih["n_frames"]:
        raise ValueError(
            f"movi holds {len(frames)} frames, header says {avih['n_frames']}"
        )
    decoded = []
    for i, f in enumerate(frames):
        w, h, px = parse_jpeg(f)
        if (w, h) != (avih["width"], avih["height"]):
            raise ValueError(f"frame {i} is {w}x{h}, header says "
                             f"{avih['width']}x{avih['height']}")
        decoded.append(px)
    return avih["width"], avih["height"], decoded


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def synth_mjpeg_pixels(docs: DataFrame) -> DataFrame:
    """(doc_id, px): MJPEG_N_FRAMES frames of constant+step blocks —
    the JPEG synth family with the block id extended by the frame
    index (B = frame*JPEG_BLOCKS + block), so every frame differs and
    the closed-form oracle covers each (frame, block) instance."""
    import numpy as np

    from ds_mapreduce_spark.operators.multimodal import synth_map_arrays

    n = MJPEG_N_FRAMES * JPEG_W * JPEG_H
    per = JPEG_W * JPEG_H
    bw = JPEG_W // 8
    j = np.arange(n, dtype=np.int64)
    bid = (
        (j // per) * JPEG_BLOCKS
        + ((j % per) // (JPEG_W * 8)) * bw
        + (j % JPEG_W) // 8
    )
    sign = np.where(j % 8 < 4, 1, -1).astype(np.int64)

    def build(d):
        dm = d[:, None] % 256
        base = 32 + (dm * PCM_A + bid[None, :] * PCM_B) % 192
        delta = (dm * PCM_B + bid[None, :] * PCM_A) % 32 - 16
        return {"px": list((base + sign[None, :] * delta).astype(np.int32))}

    return synth_map_arrays(docs, "doc_id bigint, px array<int>", build)


def encode_mjpeg_avi(df: DataFrame) -> DataFrame:
    """REAL video encoder: (doc_id, px flat frames) -> (doc_id,
    payload), a standard MJPEG AVI. Arrow-batched, map-only."""
    per = JPEG_W * JPEG_H

    def encode(doc_id, px):
        flat = pxbytes(px)
        frames = [
            encode_jpeg_bytes(flat[f * per : (f + 1) * per], JPEG_W, JPEG_H)
            for f in range(MJPEG_N_FRAMES)
        ]
        yield doc_id, encode_mjpeg_avi_bytes(frames, JPEG_W, JPEG_H)

    return arrow_stage(df, encode, PAYLOAD_SCHEMA)


MJPEG_FEATURE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, n_frames bigint, "
    "n_sampled bigint, sum_v bigint, sum_sq bigint"
)


def decode_mjpeg_features(media: DataFrame, stride: int = MJPEG_STRIDE) -> DataFrame:
    """REAL video decode + temporal frame-sampling: full AVI parse,
    keep every ``stride``-th frame, features over the SAMPLED frames'
    reconstructed pixels. Parity against the closed-form oracle proves
    container + per-frame codec + sampling end-to-end."""

    def features(doc_id, payload):
        w, h, frames = parse_mjpeg_avi(bytes(payload))
        sampled = frames[::stride]
        yield doc_id, w, h, len(frames), len(sampled), *sum_v_sq(b"".join(sampled))

    return arrow_stage(media, features, MJPEG_FEATURE_SCHEMA)
