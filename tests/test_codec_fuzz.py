"""Parse-boundary exception hygiene, fuzzed: every codec parser in the
repo, fed randomly mutated / truncated / garbage-spliced versions of a
valid payload, either parses or raises ValueError — never IndexError,
struct.error, OverflowError, or anything else. This is the executable
form of each codec's "corrupt payloads fail loudly" claim: loud AND
typed, so a 100 TB ingest job can catch bad media rows without a bare
except. The r9 fuzz that motivated this found raw struct.error on
<12-byte MCV1/MLT1 headers and IndexError/OverflowError leaks in the
FLAC/animated-GIF/JPEG parsers (fixed by header guards +
``operators/bitio.corruption_to_value_error`` at the parse entry
points). Seeded, so failures reproduce.
"""

from __future__ import annotations

import random

import pytest

from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B

TRIALS = 600


def _synth_samples(doc: int, n: int = 1024) -> list[int]:
    return [
        (((doc % 65536) * PCM_A + i * PCM_B) % 65536) - 32768
        for i in range(n)
    ]


def _targets():
    from ds_mapreduce_spark.operators.adpcm import (
        decode_adpcm_wav_samples,
        encode_adpcm_wav_bytes,
    )
    from ds_mapreduce_spark.operators.animgif import (
        ANIM_FRAMES,
        encode_animgif_bytes,
        parse_animgif,
    )
    from ds_mapreduce_spark.operators.flac import (
        decode_flac_samples,
        encode_flac_bytes,
    )
    from ds_mapreduce_spark.operators.g711 import (
        encode_ulaw_wav_bytes,
        parse_ulaw_wav,
    )
    from ds_mapreduce_spark.operators.gif import (
        GIF_H,
        GIF_W,
        encode_gif_bytes,
        parse_gif,
    )
    from ds_mapreduce_spark.operators.jpeg import (
        JPEG_H,
        JPEG_W,
        encode_jpeg_bytes,
        encode_jpeg_color_bytes,
        parse_jpeg,
    )
    from ds_mapreduce_spark.operators.mcv import (
        MCV_FRAMES,
        MCV_H,
        MCV_VX,
        MCV_VY,
        MCV_W,
        encode_mcv_bytes,
        parse_mcv,
    )
    from ds_mapreduce_spark.operators.mdct import (
        encode_mdct_bytes,
        parse_mlt1,
    )
    from ds_mapreduce_spark.operators.mjpeg_avi import (
        encode_mjpeg_avi_bytes,
        parse_mjpeg_avi,
    )
    from ds_mapreduce_spark.operators.multimodal import (
        PPM_HEIGHT,
        PPM_WIDTH,
        _encode_png_bytes,
        _parse_png,
        _parse_ppm,
        read_pcm16_wav,
    )

    samples = _synth_samples(7)
    idx = bytes((7 * 31 + i) % 255 for i in range(GIF_W * GIF_H))
    frames_gif = [
        bytes((7 + t + i) % 255 for i in range(GIF_W * GIF_H))
        for t in range(ANIM_FRAMES)
    ]
    px = bytes((i * 7) % 256 for i in range(JPEG_W * JPEG_H))
    rgb_jpeg = bytes((i * 7) % 256 for i in range(JPEG_W * JPEG_H * 3))
    frames_mcv = [
        [
            (
                (7 % 256) * PCM_A
                + (
                    (((i // MCV_W) + MCV_VY * t) % MCV_H) * MCV_W
                    + (((i % MCV_W) + MCV_VX * t) % MCV_W)
                )
                * PCM_B
            )
            % 256
            for i in range(MCV_W * MCV_H)
        ]
        for t in range(MCV_FRAMES)
    ]
    rgb = bytes((i * 7) % 256 for i in range(PPM_WIDTH * PPM_HEIGHT * 3))
    ppm = b"P6\n%d %d\n255\n" % (PPM_WIDTH, PPM_HEIGHT) + rgb
    avi = encode_mjpeg_avi_bytes(
        [encode_jpeg_bytes(px, JPEG_W, JPEG_H)] * 4, JPEG_W, JPEG_H
    )
    return [
        ("adpcm", encode_adpcm_wav_bytes(samples), decode_adpcm_wav_samples),
        ("flac", encode_flac_bytes(samples), decode_flac_samples),
        ("ulaw", encode_ulaw_wav_bytes(samples), parse_ulaw_wav),
        ("gif", encode_gif_bytes(idx, GIF_W, GIF_H), parse_gif),
        ("animgif", encode_animgif_bytes(frames_gif, GIF_W, GIF_H), parse_animgif),
        ("jpeg", encode_jpeg_bytes(px, JPEG_W, JPEG_H), parse_jpeg),
        ("mcv", encode_mcv_bytes(frames_mcv), parse_mcv),
        ("mdct", encode_mdct_bytes(samples), parse_mlt1),
        ("ppm", ppm, _parse_ppm),
        ("png", _encode_png_bytes(rgb, PPM_WIDTH, PPM_HEIGHT), _parse_png),
        ("mjpeg_avi", avi, parse_mjpeg_avi),
        # 12th target (ADVICE r9 item 4): the stdlib-wave PCM parser —
        # wave.Error / EOFError / struct.error all normalize to
        # ValueError in read_pcm16_wav.
        ("wav", _pcm16_wav_bytes(samples), read_pcm16_wav),
        # r11 container-syntax targets: MPEG-audio framing (ID3v2 tag +
        # Layer III headers) and the H.264 Annex-B byte-stream scan
        # (start codes, emulation prevention, SPS/PPS/SEI syntax).
        ("mp3", _mp3_bytes(samples), _parse_mp3()),
        ("annexb", _annexb_bytes(frames_mcv), _parse_annexb()),
        # JPEG scans with the color MCU interleave and with RSTn
        # markers (restart segments, marker cycle, byte realignment)
        ("jpeg_color", encode_jpeg_color_bytes(rgb_jpeg, JPEG_W, JPEG_H), parse_jpeg),
        (
            "jpeg_restart",
            encode_jpeg_bytes(px, JPEG_W, JPEG_H, restart_interval=2),
            parse_jpeg,
        ),
        # the batch MCV decoder (lockstep walk, parse_mcv for the rest)
        # on a one-document batch
        ("mcv_batch", encode_mcv_bytes(frames_mcv), _mcv_batch()),
    ]


def _mp3_bytes(samples: list[int]) -> bytes:
    from ds_mapreduce_spark.operators.mpeg_audio import encode_mp3_bytes

    return encode_mp3_bytes(samples)


def _parse_mp3():
    from ds_mapreduce_spark.operators.mpeg_audio import parse_mp3

    return parse_mp3


def _annexb_bytes(frames_mcv) -> bytes:
    from ds_mapreduce_spark.operators.annexb import wrap_annexb
    from ds_mapreduce_spark.operators.mcv import encode_mcv_bytes

    return wrap_annexb(7, encode_mcv_bytes(frames_mcv))


def _parse_annexb():
    from ds_mapreduce_spark.operators.annexb import parse_annexb

    return parse_annexb


def _mcv_batch():
    from ds_mapreduce_spark.operators.mcv import mcv_features_batch

    return lambda payload: mcv_features_batch([payload])


def _pcm16_wav_bytes(samples: list[int]) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


@pytest.mark.parametrize("name,payload,parse", _targets())
def test_mutated_payloads_parse_or_raise_value_error(name, payload, parse):
    rng = random.Random(f"fuzz-{name}")
    for trial in range(TRIALS):
        b = bytearray(payload)
        op = rng.randrange(3)
        if op == 0:  # single bit flip
            b[rng.randrange(len(b))] ^= 1 << rng.randrange(8)
        elif op == 1:  # truncation (including empty)
            b = b[: rng.randrange(len(b))]
        else:  # splice 1-8 garbage bytes in place
            for _ in range(rng.randrange(1, 9)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            parse(bytes(b))
        except ValueError:
            pass
        # anything else propagates and fails the test, naming the trial
        # via the seeded rng state (reproduce with the same seed)


# ---- crafted corruption the random fuzz can't reach (ADVICE r9) ----
# Random size-field mutations de-sync the chunk walk (WAV) or break the
# CRC (PNG) before these deeper guards are exercised, so each gets a
# hand-built payload that is CONSISTENT at the outer layer and corrupt
# exactly one layer down.


def _riff(chunks: list[tuple[bytes, bytes]]) -> bytes:
    import struct

    body = b"WAVE"
    for cid, data in chunks:
        body += cid + struct.pack("<I", len(data)) + data + b"\x00" * (len(data) % 2)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _png_rechunk(payload: bytes, edit) -> bytes:
    """Reassemble a PNG with per-chunk CRCs recomputed after ``edit``
    maps (type, data) -> (type, data) — crafts CRC-VALID corruption."""
    import struct
    import zlib

    out, pos = bytearray(payload[:8]), 8
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        typ, data = edit(typ, data)
        out += struct.pack(">I", len(data)) + typ + data
        out += struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    return bytes(out)


def test_ulaw_short_fmt_chunk_raises_value_error():
    from ds_mapreduce_spark.operators.g711 import parse_ulaw_wav

    payload = _riff([(b"fmt ", b"\x07\x00\x01\x00"), (b"data", b"\x80" * 8)])
    with pytest.raises(ValueError, match="fmt chunk needs 16 bytes"):
        parse_ulaw_wav(payload)


def test_adpcm_short_fact_chunk_raises_value_error():
    import struct

    from ds_mapreduce_spark.operators.adpcm import parse_adpcm_wav

    fmt = struct.pack("<HHIIHHHH", 0x11, 1, 8000, 4096, 256, 4, 2, 505)
    payload = _riff(
        [(b"fmt ", fmt), (b"fact", b"\x01\x00"), (b"data", b"\x00" * 256)]
    )
    with pytest.raises(ValueError, match="fact chunk needs 4 bytes"):
        parse_adpcm_wav(payload)


def test_png_crc_valid_wrong_length_ihdr_raises_value_error():
    from ds_mapreduce_spark.operators.multimodal import (
        PPM_HEIGHT,
        PPM_WIDTH,
        _encode_png_bytes,
        _parse_png,
    )

    rgb = bytes((i * 7) % 256 for i in range(PPM_WIDTH * PPM_HEIGHT * 3))
    png = _encode_png_bytes(rgb, PPM_WIDTH, PPM_HEIGHT)
    bad = _png_rechunk(
        png, lambda t, d: (t, d + b"\x00") if t == b"IHDR" else (t, d)
    )
    with pytest.raises(ValueError, match="IHDR must be 13 bytes"):
        _parse_png(bad)


def test_png_crc_valid_invalid_deflate_raises_value_error():
    from ds_mapreduce_spark.operators.multimodal import (
        PPM_HEIGHT,
        PPM_WIDTH,
        _encode_png_bytes,
        _parse_png,
    )

    rgb = bytes((i * 7) % 256 for i in range(PPM_WIDTH * PPM_HEIGHT * 3))
    png = _encode_png_bytes(rgb, PPM_WIDTH, PPM_HEIGHT)
    bad = _png_rechunk(
        png,
        lambda t, d: (t, b"\xff" * len(d)) if t == b"IDAT" else (t, d),
    )
    with pytest.raises(ValueError, match="corrupt IDAT DEFLATE"):
        _parse_png(bad)
