"""REAL MPEG-audio FRAME SYNTAX (r11): the container half of the MP3
seam. `operators/mdct.py` (r9) implemented the MP3-class *signal
path* (lapped transform, block companding, exp-Golomb coding); what
remained stubbed in `operators/multimodal.py` was the MPEG *framing
syntax* itself. This module implements it from ISO/IEC 11172-3 §2.4
(the frame-header bit layout and the frame-length arithmetic) and the
ID3v2.3 informal standard (the tag every real MP3 file leads with):

1. **ID3v2.3 leading tag**: ``ID3`` magic, version/flags bytes, a
   4-byte SYNCSAFE size (7 bits per byte — the classic MP3-ecosystem
   parsing trap: a high bit set in any size byte is invalid), and one
   TXXX user-text frame carrying the sample count (11172-3 signals
   duration only via frame count x 1152; the exact sample count of a
   clipped tail needs a tag, which is precisely what real encoders
   use Xing/LAME headers for).
2. **MPEG-1 Layer III frame headers**: 11-bit sync, version (MPEG-1),
   layer (III), protection bit, a 4-bit BITRATE INDEX into the
   published table, a 2-bit sampling-rate index, the PADDING bit, and
   the mode fields — all validated on parse, byte-for-byte the layout
   of ISO 11172-3 §2.4.1.3.
3. **The frame-length rule**: ``frame_bytes = 144000*bitrate_kbps //
   sample_rate + padding`` (Layer II/III, integer division — at
   44100 Hz the division truncates, which is WHY the padding bit
   exists). The encoder is VBR: each frame independently picks the
   smallest (bitrate index, padding) that fits its coded granule —
   the first-satisfying choice in (index, padding) order is part of
   the format and the oracle replays it as a MIN over the candidate
   table.

Each frame's body is one coded MDCT granule (`mdct.encode_granule_blobs`
— scalefactors, exp-Golomb coefficients, CRC-8) zero-padded to the
frame length; the decoder validates the sync walk, every header
field, the granule CRC, AND that the slack bytes are zero, then
reconstructs the audio through the shared `mdct.granules_to_samples`.
The DuckDB oracle (`plans/multimodal_queries.py:_mp3_oracle`) extends
the MDCT oracle's closed-form byte pricing with the bitrate-table
join, so parity grades the VBR index choice, the padding bits, and
the total container size byte-for-byte — without the oracle seeing a
payload byte.

Scale notes (100 TB): identical plan shape to the MDCT row — one
fused Arrow-batched ``mapInPandas``, map-only, zero data-bearing
shuffles beyond the narrow-key spread. Frames are decode-independent
after the tag (the granule syntax carries no cross-frame state), so
a real corpus can split one payload's frames across tasks after a
sync scan — exactly how distributed MP3 ingest works.

Reference parity note: the reference engine has no media path
(SURVEY.md §2.3); this retires the MPEG-framing half of the declared
container-format seam (`operators/multimodal.py` r9 note).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ds_mapreduce_spark.operators.bitio import (
    BitReader,
    corruption_to_value_error,
)
from ds_mapreduce_spark.operators.mdct import (
    MDCT_GRANULE,
    MDCT_N,
    encode_granule_blobs,
    granules_to_samples,
    read_granule,
)
from ds_mapreduce_spark.operators.multimodal import (
    PAYLOAD_SCHEMA,
    arrow_stage,
    pcm_feature_sums,
)

#: MPEG-1 Layer III bitrate table (kbps), index 1..14 (0 = free, 15 =
#: forbidden — both rejected on parse), ISO 11172-3 table B.2
MP3_BITRATES: tuple[int, ...] = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
#: sampling-rate index 0 (ISO 11172-3 §2.4.2.3) — 44100 Hz, chosen
#: BECAUSE 144000*kbps/44100 truncates, making the padding bit real
MP3_SAMPLE_RATE = 44100
MP3_SR_INDEX = 0
#: samples per MPEG-1 Layer III frame (fixed by the standard)
MP3_FRAME_SAMPLES = 1152

ID3_MAGIC = b"ID3"
ID3_DESC = b"nsamples"

MP3_FEATURE_SCHEMA = (
    "doc_id bigint, n_frames bigint, n_samples bigint, declared_hz bigint, "
    "duration_ms bigint, sum_bitrate_kbps bigint, n_padded bigint, "
    "container_bytes bigint, peak_abs bigint, sum_abs bigint, sum_sq bigint"
)


def frame_len(bitrate_index: int, padding: int) -> int:
    """ISO 11172-3 §2.4.3.1 Layer II/III frame length in bytes."""
    return 144000 * MP3_BITRATES[bitrate_index] // MP3_SAMPLE_RATE + padding


def pick_frame_size(body_bytes: int) -> tuple[int, int]:
    """VBR choice: the FIRST (bitrate index asc, padding asc) whose
    frame length holds 4 header bytes + the coded granule. Mirrored in
    the oracle as MIN(2*index + padding) over satisfying candidates."""
    need = 4 + body_bytes
    for i in range(1, len(MP3_BITRATES)):
        for pad in (0, 1):
            if frame_len(i, pad) >= need:
                return i, pad
    raise ValueError(f"granule of {body_bytes} bytes exceeds 320 kbps frames")


def _syncsafe(n: int) -> bytes:
    """ID3v2 syncsafe u32: 7 bits per byte, high bits zero."""
    if not 0 <= n < 1 << 28:
        raise ValueError(f"syncsafe size {n} out of range")
    return bytes(((n >> s) & 0x7F) for s in (21, 14, 7, 0))


def _id3_tag(n_samples: int) -> bytes:
    """ID3v2.3 tag with one TXXX frame: description ``nsamples``,
    value = the decimal sample count (ISO-8859-1, encoding byte 0)."""
    value = str(n_samples).encode()
    body = b"\x00" + ID3_DESC + b"\x00" + value
    frame = b"TXXX" + len(body).to_bytes(4, "big") + b"\x00\x00" + body
    return ID3_MAGIC + b"\x03\x00" + b"\x00" + _syncsafe(len(frame)) + frame


def id3_tag_bytes(n_samples: int) -> int:
    """Closed-form tag size for the oracle: 10 header + 10 frame header
    + 1 encoding + len('nsamples') + 1 NUL + digits of n_samples."""
    return 10 + 10 + 1 + len(ID3_DESC) + 1 + len(str(n_samples))


def _frame_header(bitrate_index: int, padding: int) -> bytes:
    """4-byte MPEG-1 Layer III header: sync=0x7FF, version=11 (MPEG-1),
    layer=01 (III), protection=1 (no CRC-16 — the granule carries its
    own CRC-8), then index/sr/padding/private and the mode byte
    (mono, no mode-ext, no copyright, original, no emphasis)."""
    b2 = 0xE0 | (0b11 << 3) | (0b01 << 1) | 1  # 0xFB
    b3 = (bitrate_index << 4) | (MP3_SR_INDEX << 2) | (padding << 1)
    b4 = (0b11 << 6) | (0b00 << 4) | (0 << 3) | (1 << 2) | 0b00
    return bytes((0xFF, b2, b3, b4))


def encode_mp3_bytes(samples) -> bytes:
    """Full encode: PCM16 samples -> ID3v2.3 tag + one VBR MPEG-style
    frame per MDCT granule (header + coded granule + zero slack)."""
    x = np.asarray(samples, dtype=np.int64)
    out = bytearray(_id3_tag(len(x)))
    for blob in encode_granule_blobs(x):
        i, pad = pick_frame_size(len(blob))
        flen = frame_len(i, pad)
        out += _frame_header(i, pad) + blob + bytes(flen - 4 - len(blob))
    return bytes(out)


def _parse_id3(payload: bytes) -> tuple[int, int]:
    """Parse the leading ID3v2.3 tag -> (n_samples, first frame offset).
    Validates magic, version, flags, syncsafe size bytes, the TXXX
    frame geometry, and the decimal sample-count value."""
    if payload[:3] != ID3_MAGIC:
        raise ValueError("missing ID3v2 tag")
    if len(payload) < 10:
        raise ValueError("ID3v2 header truncated")
    if payload[3:5] != b"\x03\x00":
        raise ValueError(f"unsupported ID3v2 version {payload[3]}.{payload[4]}")
    if payload[5] != 0:
        raise ValueError(f"unsupported ID3v2 flags 0x{payload[5]:02x}")
    if any(b & 0x80 for b in payload[6:10]):
        raise ValueError("ID3v2 size is not syncsafe")
    size = 0
    for b in payload[6:10]:
        size = (size << 7) | b
    end = 10 + size
    if end > len(payload):
        raise ValueError("ID3v2 tag overruns the payload")
    if payload[10:14] != b"TXXX":
        raise ValueError("expected one TXXX tag frame")
    body_len = int.from_bytes(payload[14:18], "big")
    if 10 + body_len != size or payload[18:20] != b"\x00\x00":
        raise ValueError("TXXX frame geometry invalid")
    body = payload[20:end]
    if body[:1] != b"\x00" or body[1:10] != ID3_DESC + b"\x00":
        raise ValueError("TXXX frame is not the nsamples tag")
    digits = body[10:]
    if not digits or not digits.isdigit():
        raise ValueError("nsamples value is not a decimal integer")
    n_samples = int(digits)
    if str(n_samples).encode() != digits:
        raise ValueError("nsamples value has leading zeros")
    return n_samples, end


@corruption_to_value_error
def parse_mp3(payload: bytes):
    """Sequential frame walk -> (n_samples, frame headers, granules).
    Validates the ID3 tag, then per frame: sync bits, version, layer,
    protection, bitrate index in 1..14, sampling-rate index, the mode
    byte, the granule syntax + CRC-8, and that the frame's slack bytes
    are zero; the stream must end exactly at the last frame."""
    if len(payload) < 10:
        raise ValueError("payload shorter than an ID3v2 header")
    n_samples, pos = _parse_id3(payload)
    if n_samples % MDCT_N:
        raise ValueError(f"sample count {n_samples} not a hop multiple")
    t_frames = n_samples // MDCT_N + 1
    headers: list[tuple[int, int]] = []
    granules = []
    for g0 in range(0, t_frames, MDCT_GRANULE):
        n_in_g = min(MDCT_GRANULE, t_frames - g0)
        if pos + 4 > len(payload):
            raise ValueError("frame header truncated")
        h = payload[pos : pos + 4]
        if h[0] != 0xFF or (h[1] & 0xE0) != 0xE0:
            raise ValueError(f"lost sync at byte {pos}")
        if (h[1] >> 3) & 0b11 != 0b11:
            raise ValueError("not MPEG-1")
        if (h[1] >> 1) & 0b11 != 0b01:
            raise ValueError("not Layer III")
        if h[1] & 1 != 1:
            raise ValueError("unexpected CRC-16 protection")
        bitrate_index = h[2] >> 4
        if not 1 <= bitrate_index <= 14:
            raise ValueError(f"bitrate index {bitrate_index} invalid")
        if (h[2] >> 2) & 0b11 != MP3_SR_INDEX:
            raise ValueError("unexpected sampling-rate index")
        padding = (h[2] >> 1) & 1
        if h[2] & 1:
            raise ValueError("private bit set")
        if h[3] != 0xC4:
            raise ValueError(f"unexpected mode byte 0x{h[3]:02x}")
        flen = frame_len(bitrate_index, padding)
        if pos + flen > len(payload):
            raise ValueError("frame body truncated")
        r = BitReader(payload, pos + 4)
        granules.append(read_granule(r, payload, n_in_g))
        if any(payload[r.byte_pos : pos + flen]):
            raise ValueError("frame slack bytes are not zero")
        headers.append((bitrate_index, padding))
        pos += flen
    if pos != len(payload):
        raise ValueError(f"{len(payload) - pos} trailing bytes after last frame")
    return n_samples, headers, granules


def decode_mp3_samples(payload: bytes) -> tuple[list[tuple[int, int]], list[int]]:
    """Full decode -> (per-frame (bitrate index, padding), samples)."""
    n_samples, headers, granules = parse_mp3(payload)
    return headers, granules_to_samples(n_samples, granules)


def encode_mp3(df: DataFrame) -> DataFrame:
    """(doc_id, samples) -> (doc_id, payload): Arrow-batched, map-only."""
    return arrow_stage(df, lambda d, s: [(d, encode_mp3_bytes(s))], PAYLOAD_SCHEMA)


def decode_mp3_features(media: DataFrame) -> DataFrame:
    """(doc_id, payload) -> container census + exact-integer amplitude
    features of the reconstructed audio. ``duration_ms`` is the
    CONTAINER's duration claim (frames x 1152 / 44100 — what every MP3
    tool reports), distinct from the payload's true sample count —
    both are graded. sum_bitrate_kbps / n_padded / container_bytes
    grade the VBR frame-size choices byte-for-byte."""

    def features(doc_id, payload):
        payload = bytes(payload)
        headers, samples = decode_mp3_samples(payload)
        yield (
            doc_id,
            len(headers),
            len(samples),
            MP3_SAMPLE_RATE,
            len(headers) * MP3_FRAME_SAMPLES * 1000 // MP3_SAMPLE_RATE,
            sum(MP3_BITRATES[i] for i, _ in headers),
            sum(pad for _, pad in headers),
            len(payload),
            *pcm_feature_sums(samples),
        )

    return arrow_stage(media, features, MP3_FEATURE_SCHEMA)
