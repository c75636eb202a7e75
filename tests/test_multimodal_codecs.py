"""The r8 codec-free decode tier is REAL: these tests feed the
decoders containers built BY HAND (raw RIFF bytes / raw P6 bytes, not
our own encoders), so passing proves the parser reads the container
format, not a private convention — and corrupt payloads fail loudly
instead of producing silent garbage. The oracle-parity gate separately
proves the encode->decode roundtrip preserves every sample.
"""

from __future__ import annotations

import struct

import pytest

from ds_mapreduce_spark.operators import (
    adpcm,
    animgif,
    annexb,
    flac,
    g711,
    gif,
    jpeg,
    mcv,
    mdct,
    mjpeg_avi,
    mpeg_audio,
)
from ds_mapreduce_spark.operators import multimodal as mm
from ds_mapreduce_spark.operators.multimodal import (
    decode_ppm_features,
    decode_wav_features,
)


def _hand_built_wav(samples: list[int], rate: int) -> bytes:
    """A RIFF/WAVE container written byte-by-byte from the spec —
    deliberately NOT via the `wave` module the operator uses."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_wav_decoder_reads_foreign_containers(spark):
    samples = [0, 100, -32768, 32767, -1]
    payload = _hand_built_wav(samples, rate=44100)
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id bigint, payload binary"
    )
    row = decode_wav_features(df).first()
    assert row["sample_rate"] == 44100  # parsed from the header
    assert row["n_samples"] == 5
    assert row["peak_abs"] == 32768
    assert row["sum_abs"] == sum(abs(s) for s in samples)
    assert row["sum_sq"] == sum(s * s for s in samples)


def test_ppm_decoder_reads_foreign_containers(spark):
    # 2x2 image, hand-written header with the optional comment-free form
    px = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    payload = b"P6\n2 2\n255\n" + px
    df = spark.createDataFrame(
        [(3, bytearray(payload))], "doc_id bigint, payload binary"
    )
    row = decode_ppm_features(df).first()
    assert (row["width"], row["height"]) == (2, 2)
    assert row["sum_r"] == 10 + 40 + 70 + 100
    assert row["sum_g"] == 20 + 50 + 80 + 110
    assert row["sum_b"] == 30 + 60 + 90 + 120


@pytest.mark.parametrize(
    "decoder,payload",
    [
        (decode_wav_features, b"RIFF garbage that is not a wav"),
        (decode_ppm_features, b"P5\n2 2\n255\n" + bytes(12)),  # wrong magic
        (decode_ppm_features, b"P6\n2 2\n255\n" + bytes(5)),  # truncated
        (flac.decode_flac_features, b"fLaC" + bytes(6)),
        (adpcm.decode_adpcm_features, b"RIFF\x04\x00\x00\x00WAVE"),
        (g711.decode_ulaw_features, b"RIFF\x04\x00\x00\x00WAVE"),
        (gif.decode_gif_features, b"GIF89a" + bytes(3)),
        (jpeg.decode_jpeg_features, b"\xff\xd8\xff\xc0\x00"),
        (jpeg.decode_jpeg_color_features, b"\xff\xd8\xff\xc0\x00"),
        (animgif.decode_animgif_features, b"GIF89a" + bytes(3)),
        (mdct.decode_mdct_features, b"MLT1" + bytes(3)),
        (mpeg_audio.decode_mp3_features, b"ID3\x04"),
        (mcv.decode_mcv_features, b"MCV1" + bytes(3)),
        (annexb.decode_annexb_features, b"\x00\x00\x01\x67"),
        (mjpeg_avi.decode_mjpeg_features, b"RIFF\x04\x00\x00\x00AVI "),
    ],
)
def test_corrupt_payloads_fail_loudly(spark, decoder, payload):
    """A parser's ValueError fails the job through the shared Arrow
    stage (``multimodal.arrow_stage``) — nothing swallows it. One
    partition, so the failure is the job's only task: sibling tasks
    cancelled mid-start can surface as a worker-channel error instead."""
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id bigint, payload binary"
    ).coalesce(1)
    with pytest.raises(Exception, match="ValueError"):
        decoder(df).collect()


def _mcv_payloads(docs: list[int]) -> list[bytes]:
    import numpy as np

    rng = np.random.default_rng(docs)
    shape = (len(docs), mcv.MCV_FRAMES, mcv.MCV_H, mcv.MCV_W)
    return mcv.encode_mcv_batch(rng.integers(0, 256, size=shape))


def _corrupt_mcv(payload: bytes) -> bytes:
    b = bytearray(payload)
    b[40] ^= 0x10  # inside frame 0: its CRC no longer matches
    return bytes(b)


def _corrupt_sps(stream: bytes) -> bytes:
    b = bytearray(stream)
    b[5] = 77  # SPS profile_idc (after the start code and NAL header)
    return bytes(b)


def _mcv_row(docs):
    payloads = _mcv_payloads(docs)
    return payloads, mcv.parse_mcv, _corrupt_mcv(payloads[1])


def _annexb_row(corrupt_stream, parse):
    def rows(docs):
        streams = [annexb.wrap_annexb(d, p) for d, p in zip(docs, _mcv_payloads(docs))]
        return streams, parse, corrupt_stream(streams[1])

    return rows


@pytest.mark.parametrize(
    "decoder,rows",
    [
        (mcv.decode_mcv_features, _mcv_row),
        (annexb.decode_annexb_features, _annexb_row(_corrupt_sps, annexb.parse_annexb)),
        # a slice whose MCV1 frame fails its CRC: parse_annexb accepts
        # the stream, parse_mcv rejects the rebuilt container
        (
            annexb.decode_annexb_features,
            _annexb_row(
                lambda s: s[:-2] + bytes([s[-2] ^ 0x01]) + s[-1:],  # last CRC
                lambda s: mcv.parse_mcv(
                    annexb.rebuild_mcv(*annexb.parse_annexb(s)[1:])
                ),
            ),
        ),
    ],
    ids=["mcv", "annexb_sps", "annexb_slice_crc"],
)
def test_batch_decoders_fail_with_the_corrupt_rows_message(spark, decoder, rows):
    """A batch of (valid, corrupt, valid) fails the job with the corrupt
    row's own parse_mcv / parse_annexb message, not just a ValueError."""
    import re

    docs = [11, 12, 13]
    payloads, parse, corrupt = rows(docs)
    for p in (payloads[0], payloads[2]):
        parse(p)
    with pytest.raises(ValueError) as want:
        parse(corrupt)
    df = spark.createDataFrame(
        [(d, bytearray(p)) for d, p in zip(docs, [payloads[0], corrupt, payloads[2]])],
        "doc_id bigint, payload binary",
    ).coalesce(1)
    with pytest.raises(Exception, match="ValueError: " + re.escape(str(want.value))):
        decoder(df).collect()


_PAYLOAD_IN = "doc_id bigint, payload binary"
_SAMPLES_IN = "doc_id bigint, samples array<int>"
_PX_IN = "doc_id bigint, px array<int>"
_FRAMES_IN = "doc_id bigint, frames array<array<int>>"
_MEDIA_IN = _PAYLOAD_IN + ", meta struct<mime: string, byte_len: bigint>"

#: every operator built on ``multimodal.arrow_stage``: (operator, input
#: DDL, declared output DDL)
_ARROW_STAGES = [
    (mm.resize_images, _MEDIA_IN, mm.RESIZE_SCHEMA),
    (mm.sample_frames, _MEDIA_IN, mm.FRAME_SCHEMA),
    (mm.extract_features, _MEDIA_IN, mm.FEATURE_SCHEMA),
    (mm.encode_wav, _SAMPLES_IN, mm.PAYLOAD_SCHEMA),
    (mm.decode_wav_features, _PAYLOAD_IN, mm.WAV_FEATURE_SCHEMA),
    (mm.decimate_wav, _PAYLOAD_IN, mm.PAYLOAD_SCHEMA),
    (mm.encode_ppm, _PX_IN, mm.PAYLOAD_SCHEMA),
    (mm.decode_ppm_features, _PAYLOAD_IN, mm.PPM_FEATURE_SCHEMA),
    (mm.resize_ppm_nearest, _PAYLOAD_IN, mm.PAYLOAD_SCHEMA),
    (mm.encode_png, _PX_IN, mm.PAYLOAD_SCHEMA),
    (mm.decode_png_features, _PAYLOAD_IN, mm.PPM_FEATURE_SCHEMA),
    (g711.encode_ulaw, _SAMPLES_IN, mm.PAYLOAD_SCHEMA),
    (g711.decode_ulaw_features, _PAYLOAD_IN, mm.WAV_FEATURE_SCHEMA),
    (adpcm.encode_adpcm, _SAMPLES_IN, mm.PAYLOAD_SCHEMA),
    (adpcm.decode_adpcm_features, _PAYLOAD_IN, mm.WAV_FEATURE_SCHEMA),
    (flac.encode_flac, _SAMPLES_IN, mm.PAYLOAD_SCHEMA),
    (flac.decode_flac_features, _PAYLOAD_IN, mm.WAV_FEATURE_SCHEMA),
    (mdct.encode_mdct, _SAMPLES_IN, mm.PAYLOAD_SCHEMA),
    (mdct.decode_mdct_features, _PAYLOAD_IN, mdct.MDCT_FEATURE_SCHEMA),
    (mpeg_audio.encode_mp3, _SAMPLES_IN, mm.PAYLOAD_SCHEMA),
    (mpeg_audio.decode_mp3_features, _PAYLOAD_IN, mpeg_audio.MP3_FEATURE_SCHEMA),
    (gif.encode_gif, _PX_IN, mm.PAYLOAD_SCHEMA),
    (gif.decode_gif_features, _PAYLOAD_IN, mm.PPM_FEATURE_SCHEMA),
    (animgif.encode_animgif, _FRAMES_IN, mm.PAYLOAD_SCHEMA),
    (animgif.decode_animgif_features, _PAYLOAD_IN, animgif.ANIM_FEATURE_SCHEMA),
    (jpeg.encode_jpeg, _PX_IN, mm.PAYLOAD_SCHEMA),
    (jpeg.decode_jpeg_features, _PAYLOAD_IN, jpeg.JPEG_FEATURE_SCHEMA),
    (jpeg.encode_jpeg_color, _PX_IN, mm.PAYLOAD_SCHEMA),
    (
        jpeg.decode_jpeg_color_features,
        _PAYLOAD_IN,
        jpeg.JPEG_COLOR_FEATURE_SCHEMA,
    ),
    (mjpeg_avi.encode_mjpeg_avi, _PX_IN, mm.PAYLOAD_SCHEMA),
    (mjpeg_avi.decode_mjpeg_features, _PAYLOAD_IN, mjpeg_avi.MJPEG_FEATURE_SCHEMA),
    (mcv.encode_mcv, _FRAMES_IN, mm.PAYLOAD_SCHEMA),
    (mcv.decode_mcv_features, _PAYLOAD_IN, mcv.MCV_FEATURE_SCHEMA),
    (annexb.wrap_annexb_df, _PAYLOAD_IN, mm.PAYLOAD_SCHEMA),
    (annexb.decode_annexb_features, _PAYLOAD_IN, annexb.ANNEXB_FEATURE_SCHEMA),
]


@pytest.mark.parametrize(
    "op,in_ddl,out_ddl", _ARROW_STAGES, ids=[op.__name__ for op, _, _ in _ARROW_STAGES]
)
def test_arrow_stage_operators_on_empty_input(spark, op, in_ddl, out_ddl):
    """Every Arrow-stage operator maps an empty input to zero rows
    whose columns and types are its declared schema."""
    from pyspark.sql.types import StructType

    out = op(spark.createDataFrame([], in_ddl))
    assert out.schema == StructType.fromDDL(out_ddl)
    assert out.collect() == []


def test_arrow_stage_row_fn_contract(spark):
    """``row_fn`` gets one input row's values in column order and may
    yield any number of output tuples; a batch whose rows yield none
    still returns a frame of the declared columns and types."""
    df = spark.createDataFrame([(1, "ab"), (2, ""), (3, "c")], "k bigint, s string")
    per_char = mm.arrow_stage(
        df,
        lambda k, s: ((k, i, ch.encode()) for i, ch in enumerate(s)),
        "k bigint, i int, b binary",
    )
    assert sorted(map(tuple, per_char.collect())) == [
        (1, 0, bytearray(b"a")),
        (1, 1, bytearray(b"b")),
        (3, 0, bytearray(b"c")),
    ]
    none = mm.arrow_stage(df, lambda k, s: [], "k bigint, i int, b binary")
    assert none.collect() == []
    assert none.schema.simpleString() == "struct<k:bigint,i:int,b:binary>"


def _python_maps(df) -> int:
    return df._jdf.queryExecution().executedPlan().toString().count("MapInPandas")


def _three_stage_chain(docs, between=lambda df: df):
    """synth_map_arrays -> arrow_stage (map, binary out) -> arrow_stage
    (explode: 0 or 2 rows per input), with ``between`` applied to each
    stage's output before the next stage reads it."""
    base = mm.synth_map_arrays(
        docs, "doc_id bigint, n bigint, xs array<int>", lambda d: {
            "n": d * 3,
            "xs": [list(range(k % 5)) for k in d],
        }
    )
    packed = mm.arrow_stage(
        between(base),
        lambda d, n, xs: [(d, n * n, bytes(int(x) for x in xs))],
        "doc_id bigint, sq bigint, b binary",
    )
    return mm.arrow_stage(
        between(packed),
        lambda d, sq, b: [(d, sq - len(b), i) for i in range(2 * (d % 2))],
        "doc_id bigint, v bigint, i int",
    )


def test_chained_stages_run_in_one_python_map(spark):
    """A stage applied directly to a stage's output runs in the same
    Python worker: one map node, the same rows as the chain with a
    ``select("*")`` (which ends it) between the stages."""
    docs = spark.range(1, 41, numPartitions=3).withColumnRenamed("id", "doc_id")
    fused = _three_stage_chain(docs)
    unfused = _three_stage_chain(docs, lambda df: df.select("*"))
    assert _python_maps(fused) == 1
    assert _python_maps(unfused) == 3
    assert fused.schema == unfused.schema
    rows = sorted(map(tuple, fused.collect()))
    assert rows == sorted(map(tuple, unfused.collect()))
    assert len(rows) == 40 and rows[0] == (1, 9 - 1, 0)


def test_codec_roundtrips_run_in_one_python_map(spark, sf_dir):
    from ds_mapreduce_spark.plans.registry import load_all

    registry = load_all()
    for name in ("multimodal_mcv_roundtrip", "multimodal_h264_annexb_roundtrip"):
        assert _python_maps(registry[name].fn(spark, sf_dir)) == 1, name


def test_fused_stage_still_checks_its_declared_types(spark):
    """A middle stage whose rows do not fit its declared schema fails the
    job inside the fused map, as the JVM hop would have failed it."""
    docs = spark.range(1, 9, numPartitions=2).withColumnRenamed("id", "doc_id")
    base = mm.synth_map_arrays(docs, "doc_id bigint, n bigint", lambda d: {"n": d})
    bad = mm.arrow_stage(base, lambda d, n: [(d, "x")], "doc_id bigint, n bigint")
    out = mm.arrow_stage(bad, lambda d, n: [(d, n + 1)], "doc_id bigint, n bigint")
    assert _python_maps(out) == 1
    with pytest.raises(Exception, match="Failed to convert the value of the column 'n'"):
        out.collect()


def test_wav_decoder_zero_frame_container(spark):
    """A zero-frame WAV is a legal container: features come back 0
    instead of a bare ValueError from max() on empty (ADVICE r8)."""
    payload = _hand_built_wav([], rate=8000)
    df = spark.createDataFrame(
        [(11, bytearray(payload))], "doc_id bigint, payload binary"
    )
    row = decode_wav_features(df).first()
    assert row["sample_rate"] == 8000
    assert row["n_samples"] == 0
    assert (row["peak_abs"], row["sum_abs"], row["sum_sq"]) == (0, 0, 0)


def test_ppm_decoder_skips_header_comments(spark):
    """'#'-to-newline comments between P6 header fields are spec-legal
    and must parse (ADVICE r8) — including one directly after the
    magic and one between width and height."""
    px = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    payload = (
        b"P6\n# made by hand\n2 # width\n# then height\n2\n255\n" + px
    )
    df = spark.createDataFrame(
        [(5, bytearray(payload))], "doc_id bigint, payload binary"
    )
    row = decode_ppm_features(df).first()
    assert (row["width"], row["height"]) == (2, 2)
    assert row["sum_r"] == 10 + 40 + 70 + 100


def test_ppm_resize_reads_and_writes_real_containers(spark):
    """Real nearest-neighbor resize: a hand-built 4x2 P6 downsampled by
    2 keeps exactly pixels (0,0) and (2,0), and the output is itself a
    parseable P6 at the new dimensions (r9)."""
    from ds_mapreduce_spark.operators.multimodal import (
        _parse_ppm,
        resize_ppm_nearest,
    )

    # 4x2 image; pixel (x, y) has RGB (10x+y, 100+10x+y, 200+10x+y)
    px = bytes(
        b
        for y in range(2)
        for x in range(4)
        for b in (10 * x + y, 100 + 10 * x + y, 200 + 10 * x + y)
    )
    payload = b"P6\n4 2\n255\n" + px
    df = spark.createDataFrame(
        [(9, bytearray(payload))], "doc_id bigint, payload binary"
    )
    out = resize_ppm_nearest(df, factor=2).first()
    w, h, opx = _parse_ppm(bytes(out["payload"]))
    assert (w, h) == (2, 1)
    # nearest-neighbor top-left: out(0,0)=in(0,0), out(1,0)=in(2,0)
    assert list(opx) == [0, 100, 200, 20, 120, 220]


def test_wav_decimate_reads_and_writes_real_containers(spark):
    """Real decimation: a hand-built WAV strided by 2 keeps every other
    sample and the re-encoded header carries the halved rate (r9)."""
    import io
    import struct
    import wave

    from ds_mapreduce_spark.operators.multimodal import decimate_wav

    samples = [0, 1000, -2000, 3000, -32768, 32767, 7]
    payload = _hand_built_wav(samples, rate=8000)
    df = spark.createDataFrame(
        [(13, bytearray(payload))], "doc_id bigint, payload binary"
    )
    out = decimate_wav(df, stride=2).first()
    with wave.open(io.BytesIO(bytes(out["payload"])), "rb") as r:
        assert r.getframerate() == 4000
        n = r.getnframes()
        got = struct.unpack(f"<{n}h", r.readframes(n))
    assert list(got) == samples[::2]


def _png_chunk_bytes(typ: bytes, data: bytes) -> bytes:
    """Chunk writer duplicated INLINE from the spec so the test shares
    no code with the operator under test."""
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _hand_built_png() -> tuple[bytes, tuple[int, int, int]]:
    """A 2x5 8-bit RGB PNG written byte-by-byte from the spec with one
    row per filter type (0..4); every filtered byte below was computed
    BY HAND from the spec's prediction formulas, not by our encoder.
    Returns (payload, (sum_r, sum_g, sum_b)) for the pixel rows
    [10,20,30,40,50,60] / [5,5,5,7,8,9] / [15,25,35,45,55,65] /
    [100,110,120,130,140,150] / [200,210,220,10,20,30]."""
    import struct
    import zlib

    raw = (
        b"\x00" + bytes([10, 20, 30, 40, 50, 60])          # None
        + b"\x01" + bytes([5, 5, 5, 2, 3, 4])              # Sub
        + b"\x02" + bytes([10, 20, 30, 38, 47, 56])        # Up
        + b"\x03" + bytes([93, 98, 103, 58, 58, 58])       # Average
        + b"\x04" + bytes([100, 100, 100, 66, 66, 66])     # Paeth
    )
    ihdr = struct.pack(">IIBBBBB", 2, 5, 8, 2, 0, 0, 0)
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk_bytes(b"IHDR", ihdr)
        # spec-legal ancillary chunk the decoder must CRC-check and skip
        + _png_chunk_bytes(b"tEXt", b"Comment\x00hand built")
        + _png_chunk_bytes(b"IDAT", zlib.compress(raw))
        + _png_chunk_bytes(b"IEND", b"")
    )
    return payload, (562, 643, 724)


def test_png_decoder_reads_foreign_containers(spark):
    """The PNG decoder must reconstruct all five filter types from a
    container it did not produce (r9): hand-written chunk stream,
    hand-computed filtered bytes, an ancillary tEXt chunk in the way."""
    from ds_mapreduce_spark.operators.multimodal import decode_png_features

    payload, (sr, sg, sb) = _hand_built_png()
    df = spark.createDataFrame(
        [(21, bytearray(payload))], "doc_id bigint, payload binary"
    )
    row = decode_png_features(df).first()
    assert (row["width"], row["height"]) == (2, 5)
    assert (row["sum_r"], row["sum_g"], row["sum_b"]) == (sr, sg, sb)


def test_png_encoder_output_parses_as_standard_png():
    """encode_png's bytes round-trip through the spec-side parser and
    carry the PNG signature + IEND trailer of a standard file."""
    from ds_mapreduce_spark.operators.multimodal import (
        _encode_png_bytes,
        _parse_png,
    )

    px = bytes((7 * i + 3) % 256 for i in range(24 * 16 * 3))
    payload = _encode_png_bytes(px, 24, 16)
    assert payload.startswith(b"\x89PNG\r\n\x1a\n")
    assert payload.endswith(_png_chunk_bytes(b"IEND", b""))
    w, h, out = _parse_png(payload)
    assert (w, h) == (24, 16)
    assert out == px


def test_png_corrupt_and_unsupported_fail_loudly(spark):
    import struct
    import zlib

    from ds_mapreduce_spark.operators.multimodal import _parse_png

    payload, _ = _hand_built_png()
    # flip one byte inside the IDAT data region -> CRC mismatch
    idat_pos = payload.index(b"IDAT") + 4
    corrupt = (
        payload[:idat_pos]
        + bytes([payload[idat_pos] ^ 0xFF])
        + payload[idat_pos + 1 :]
    )
    with pytest.raises(ValueError, match="CRC"):
        _parse_png(corrupt)
    with pytest.raises(ValueError):
        _parse_png(payload[:-10])  # truncated: IEND gone
    # unsupported subsets: 16-bit depth, Adam7 interlace
    for depth, interlace in ((16, 0), (8, 1)):
        ihdr = struct.pack(">IIBBBBB", 2, 5, depth, 2, 0, 0, interlace)
        bad = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk_bytes(b"IHDR", ihdr)
            + _png_chunk_bytes(b"IDAT", zlib.compress(b"\x00" * 35))
            + _png_chunk_bytes(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="unsupported|interlace"):
            _parse_png(bad)


def test_resize_rejects_corrupt_containers(spark):
    from ds_mapreduce_spark.operators.multimodal import resize_ppm_nearest

    df = spark.createDataFrame(
        [(1, bytearray(b"P6\n4 2\n255\n" + bytes(5)))],
        "doc_id bigint, payload binary",
    )
    with pytest.raises(Exception):
        resize_ppm_nearest(df, factor=2).collect()


def test_numpy_synths_match_closed_forms_and_handle_empty(spark):
    """The numpy-rendered synthesizers (multimodal.synth_map_arrays —
    the late-r11 replacement for interpreted transform(sequence())
    expressions) must (a) reproduce the documented closed forms
    element-for-element on a concrete doc_id and (b) return an empty,
    correctly-typed frame on an empty input (the empty-partition path
    inside mapInPandas)."""
    from ds_mapreduce_spark.operators.gif import GIF_H, GIF_W, synth_gif_indices
    from ds_mapreduce_spark.operators.mcv import (
        MCV_FRAMES,
        MCV_H,
        MCV_W,
        synth_scroll_frames,
    )
    from ds_mapreduce_spark.operators.multimodal import (
        PCM_A,
        PCM_B,
        WAV_N_SAMPLES,
        synth_pcm_samples,
    )

    docs = spark.createDataFrame([(7,)], "doc_id bigint")

    pcm = synth_pcm_samples(docs).collect()[0]["samples"]
    assert len(pcm) == WAV_N_SAMPLES
    assert list(pcm[:4]) == [
        ((7 % 65536) * PCM_A + i * PCM_B) % 65536 - 32768 for i in range(4)
    ]

    gif = synth_gif_indices(docs).collect()[0]["px"]
    assert len(gif) == GIF_W * GIF_H
    assert gif[5] == ((7 % 256) * PCM_A + 5 * PCM_B) % 256

    frames = synth_scroll_frames(docs).collect()[0]["frames"]
    assert len(frames) == MCV_FRAMES
    # frame 2, pixel (x=1, y=3): source index ((3+2*2)%16)*24 + (1+3*2)%24
    src = ((3 + 4) % MCV_H) * MCV_W + (1 + 6) % MCV_W
    assert frames[2][3 * MCV_W + 1] == ((7 % 256) * PCM_A + src * PCM_B) % 256

    empty = spark.createDataFrame([], "doc_id bigint")
    out = synth_pcm_samples(empty)
    assert out.count() == 0
    assert out.columns == ["doc_id", "samples"]
