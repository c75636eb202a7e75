"""Multimodal column plumbing (BASELINE.json 'multimodal columns').

Images/audio/video are carried as opaque ``binary`` columns plus a
typed metadata struct; heavy per-item work (decode, resize,
frame-sample, feature-extract) runs as Arrow-batched ``mapInPandas``
so bytes move executor→Python once per batch, never per row.

Two decode tiers (r8): for CODEC-FREE container formats — WAV/PCM16
(stdlib ``wave``) and binary PPM (header + raw bytes) — the decode is
REAL: genuine containers are encoded and the decoder parses the
container header rather than assuming it (``encode_wav``/
``decode_wav_features``, ``encode_ppm``/``decode_ppm_features``),
with oracle parity proving the roundtrip preserves every sample.
A third tier (r9) is a REAL COMPRESSED codec: PNG, implemented from
the spec with stdlib zlib (``encode_png``/``decode_png_features`` —
DEFLATE scanlines, all five predictive filters, CRC-verified chunks).
A fourth tier (r9) is a REAL LOSSY codec: baseline JPEG from the ITU
T.81 spec (``operators/jpeg.py`` — fixed-point DCT, quantization,
canonical Huffman, JFIF container); the MDCT tier
(``operators/mdct.py``, r9) covers the MP3/AAC transform-audio class
natively, and the MCV tier (``operators/mcv.py``, r9) covers the
H.264 hybrid-video class (motion compensation + transform residuals).
The container-syntax halves those two rows left open are closed in
r11: ``operators/mpeg_audio.py`` implements the ISO 11172-3 frame
syntax (ID3v2 tag, Layer III headers, VBR frame-length rule) and
``operators/annexb.py`` the H.264 Annex-B byte stream (start codes,
NAL headers, emulation prevention, SPS/PPS/SEI). ``decode_stub``'s
``NotImplementedError`` seam now marks only the boundary to REAL
WORLD media (arbitrary wild files need PIL/ffmpeg, which are not in
this container); for every codec class and container syntax the repo
claims, the implementation is native and oracle-graded.

Scale notes (100 TB): binary payloads dominate row width, so
``spark.sql.files.maxPartitionBytes`` (not row counts) sizes tasks;
feature extraction is map-only (no shuffle); outputs should be written
columnar so downstream reads prune the payload column away — the
whole point of keeping media opaque-but-columnar.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

FEATURE_SCHEMA = "doc_id bigint, byte_len bigint, checksum string, n_frames bigint"


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 bytes of the text stand in for
    an encoded media blob (deterministic), with typed metadata."""
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.length(F.encode(F.col(text_col), "utf-8")).cast("bigint").alias("byte_len"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, real_decode: bool = False) -> dict:
    """Deterministic fake 'decode': byte stats + md5 + fake frame count.

    ``real_decode=True`` is the seam where PIL/ffmpeg would plug in.
    """
    if real_decode:
        raise NotImplementedError(
            "media codecs are not available in this environment; "
            "plug PIL/ffmpeg in here"
        )
    return {
        "byte_len": len(payload),
        "checksum": hashlib.md5(payload).hexdigest(),
        # pretend 1 frame per 256 bytes, at least one — a stand-in for
        # frame sampling so batch-shape handling is exercised
        "n_frames": max(1, len(payload) // 256),
    }


RESIZE_SCHEMA = "doc_id bigint, width int, height int, resized_sig string, out_bytes bigint"


def resize_stub(payload: bytes, width: int, height: int, real_decode: bool = False) -> dict:
    """Deterministic fake 'resize': the real seam would decode, resample
    to (width, height), and re-encode; the stub derives a deterministic
    signature and plausible output size from the input bytes so the
    Spark-side plumbing (batch shape, schema, partitioning) is testable
    without codecs."""
    if real_decode:
        raise NotImplementedError(
            "image codecs are not available in this environment; plug PIL in here"
        )
    sig = hashlib.md5(payload).hexdigest()
    return {
        "resized_sig": hashlib.md5(f"{sig}:{width}x{height}".encode()).hexdigest(),
        # fake re-encoded size: scales with target area, floor 16 bytes
        "out_bytes": max(16, (width * height) // 8),
    }


def resize_images(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Arrow-batched resize over (doc_id, payload): map-only, one Python
    round-trip per batch; at scale the output is written immediately so
    the original payload column prunes away downstream."""

    def resize(doc_id, payload, *_):
        o = resize_stub(payload, width, height)
        yield doc_id, width, height, o["resized_sig"], o["out_bytes"]

    return arrow_stage(media, resize, RESIZE_SCHEMA)


FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame_sig string"


def sample_frames(media: DataFrame, stride: int = 4) -> DataFrame:
    """Frame sampling: every ``stride``-th frame of each payload becomes
    its own row — the explode-shaped media op (video → frames,
    audio → windows). Row count multiplies by n_frames/stride, so at
    scale the output is written immediately (columnar, partitioned by
    doc range) rather than held through further wide transforms.

    The per-frame decode is the stub seam: ``frame_sig`` is a
    deterministic function of (payload checksum, frame index) standing
    in for decoded frame bytes; a real deployment plugs ffmpeg into the
    same ``mapInPandas`` batch loop with this exact schema.
    """

    def frames(doc_id, payload, *_):
        info = decode_stub(payload)
        for idx in range(0, info["n_frames"], stride):
            sig = hashlib.md5(f"{info['checksum']}:{idx}".encode()).hexdigest()
            yield doc_id, idx, sig

    return arrow_stage(media, frames, FRAME_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, meta)."""

    def features(doc_id, payload, *_):
        f = decode_stub(payload)
        yield doc_id, f["byte_len"], f["checksum"], f["n_frames"]

    return arrow_stage(media, features, FEATURE_SCHEMA)


def payload_simhash_pairs(
    media: DataFrame, chunks: int = 4, max_hamming: int = 3
) -> DataFrame:
    """Byte-level near-duplicate detection over OPAQUE binary payloads —
    the codec-free member of the multimodal family: two payloads that
    share most of their byte stream (same image re-encoded with
    different metadata, same audio clip with a trimmed header) collide
    without decoding anything. Each payload's hex string yields
    overlapping byte 4-grams (hex 8-grams, stride 2); their md5-derived
    32-bit hashes feed the SAME per-bit-majority fold and chunk-
    pigeonhole pairing as the token simhash
    (operators/dedup.simhash_fold / simhash_pairs_from_signatures) —
    one shared arithmetic, two modalities. Map-only until the (tiny)
    chunk-key self-join; the payload column itself never shuffles.
    """
    from ds_mapreduce_spark.operators.dedup import (
        simhash_fold,
        simhash_pairs_from_signatures,
    )

    d = (
        media.select("doc_id", F.hex(F.col("payload")).alias("hx"))
        .where(F.length("hx") >= 8)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, length(hx) - 7, 2), i -> "
                "CAST(conv(substring(md5(substring(hx, i, 8)), 1, 8), 16, 10)"
                " AS BIGINT))"
            ).alias("th"),
        )
    )
    sh = simhash_fold(d)
    return simhash_pairs_from_signatures(sh, bits=32, chunks=chunks).where(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# REAL codec-free decode (r8): WAV/PCM16 and binary PPM need no media
# library — `wave` is stdlib and PPM is a 3-line header + raw bytes — so
# for these container formats the decode seam is NOT a stub: payloads
# are genuine containers produced by a real encoder, and the decoder
# parses the container header (channels/rate/frame count, image
# dimensions) instead of assuming it. The NotImplementedError seam
# above remains only for formats that genuinely need codecs
# (JPEG/MP3/H.264). Samples/pixels are synthesized from a deterministic
# integer formula shared with the DuckDB oracles, so oracle parity
# PROVES the encode->decode roundtrip preserved every sample bit-for-
# bit — the oracle computes features analytically from the formula and
# never sees the container.
# ---------------------------------------------------------------------------

#: shared constants — the plans module formats its oracles from THESE
#: (one-place-only rule); Knuth/xxhash-style odd multipliers
PCM_A = 2654435761
PCM_B = 2246822519
WAV_SAMPLE_RATE = 8000
WAV_N_SAMPLES = 1024
PPM_WIDTH = 24
PPM_HEIGHT = 16


def synth_map_arrays(df: DataFrame, schema: str, build) -> DataFrame:
    """Arrow-batched vectorized stage: ``build(*columns)`` receives the
    batch's input columns as ndarrays, in ``df``'s column order, and
    returns ``{col: per-doc values}`` for every output column but
    ``doc_id``, which passes through. The synth stages take ``doc_id``
    alone and render payloads in numpy; ``mcv.encode_mcv`` takes
    ``(doc_id, frames)`` and encodes the whole batch at once. ``build``
    may also return its own ``doc_id`` column, which replaces the input
    one: an explode (``mcv.decode_mcv_features`` returns one row per
    frame, each with its document's id).

    Every synth in the codec family is a linear-congruential closed
    form over (doc_id, element index) — pure integer arithmetic that
    the DuckDB oracles replay in SQL. The original implementation
    rendered it JVM-side as ``transform(sequence(0, n-1), ...)``, but
    Catalyst NEVER code-generates higher-order array functions: every
    element evaluates through the interpreted ``Expression.eval``
    chain, whose throughput is at the mercy of C2's speculative
    compilation of megamorphic call sites. Measured (late r11, jstack
    + per-process CPU attribution): the SAME query ran 1.2 s or 7.5 s
    across full-bench runs — all 32 executor threads RUNNABLE inside
    ``DivModLike.eval``/``BoundReference.eval``, 200+ core-seconds of
    JVM user time, gc 0.05 s, steal 0, zero foreign processes — a
    run-level bimodal entirely decided by which expression-type
    profiles C2 happened to see first. numpy renders the identical
    int64 arithmetic ~10x faster, deterministically, and the synth was
    already feeding a mapInPandas chain, so this removes the codec
    family's only JVM-side hotspot instead of adding a Python seam."""

    def synth(batch):
        cols = [batch[c].to_numpy() for c in batch.columns]
        return pd.DataFrame({"doc_id": batch["doc_id"].to_numpy(), **build(*cols)})

    return _map_batches(df, synth, StructType.fromDDL(schema))


#: output of every encoder stage
PAYLOAD_SCHEMA = "doc_id bigint, payload binary"


def arrow_stage(df: DataFrame, row_fn, schema: str) -> DataFrame:
    """The one Arrow-batched ``mapInPandas`` loop of the codec and media
    operators (the framework-owned record loop of the reference's
    ``MapReducer``): ``row_fn(*values)`` receives one input row's
    column values in ``df``'s column order and returns an iterable of
    output tuples in ``schema`` order — one tuple for a map, any number
    for an explode such as frame sampling. Exceptions propagate: a
    parser's ValueError fails the task and then the job."""
    out = StructType.fromDDL(schema)
    names = out.fieldNames()

    def stage(batch):
        cols = (batch[c] for c in batch.columns)
        rows = [t for values in zip(*cols) for t in row_fn(*values)]
        return pd.DataFrame(rows, columns=names)

    return _map_batches(df, stage, out)


def _map_batches(df: DataFrame, fn, schema: StructType) -> DataFrame:
    """``df.mapInPandas`` of ``fn(batch) -> batch``, fused with the stage
    that returned ``df``, if any.

    The DataFrame returned here records its input, its batch function
    and its declared schema. Called on exactly such a DataFrame, it
    builds one ``mapInPandas`` over the first stage's input and runs the
    batch functions back to back in one Python worker (the reference
    runs a worker's whole map over its chunk in one task), instead of
    one worker and one JVM hop per stage. Between them the batch takes
    the hop the JVM would give it (``_arrow_hop``), so a wrong column or
    type still raises and the next stage sees the same values. Any
    other DataFrame method (``select``, ``where``, ``repartition``, a
    checkpoint) returns a new object without the record and ends the
    chain; a cached stage output is read from its cache instead."""
    prev = df.__dict__.get("_stage")
    if prev is not None and not df.is_cached:
        df, first, first_schema = prev
        hop = _arrow_hop(df.sparkSession, first_schema)
        last = fn

        def fn(batch):
            return last(hop(first(batch)))

    res = df.mapInPandas(lambda batches: map(fn, batches), schema=schema)
    res._stage = (df, fn, schema)
    return res


def _arrow_hop(spark, schema: StructType):
    """A pandas batch -> the declared Arrow ``schema`` -> pandas, through
    the serializer pyspark's own ``mapInPandas`` worker uses on each side
    of the JVM (same settings), with its result-column check."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type

    ser = ArrowStreamPandasUDFSerializer(
        spark.conf.get("spark.sql.session.timeZone"),
        spark.conf.get("spark.sql.execution.pandas.convertToArrowArraySafely")
        == "true",
        True,
        df_for_struct=True,
        arrow_cast=True,
    )
    arrow_type = to_arrow_type(schema)

    def hop(pdf):
        from pyspark.worker import verify_pandas_result

        verify_pandas_result(pdf, schema, True, True)
        batch = ser._create_batch([(pdf, arrow_type)])
        return ser.arrow_to_pandas(batch.column(0), 0)

    return hop


def synth_pcm_samples(docs: DataFrame) -> DataFrame:
    """(doc_id, samples): deterministic PCM16 samples in [-32768, 32767],
    sample i = (((doc_id mod 2^16)*PCM_A + i*PCM_B) mod 2^16) - 2^15 —
    exactly reproducible in ANSI SQL (the oracles replay this closed
    form). doc_id is pre-reduced mod 2^16 BEFORE the multiply
    (identical result — (d mod m)*A ≡ d*A (mod m) — and the product
    then tops out at ~1.7e14, inside the BIGINT budget at ANY doc_id;
    the raw doc_id*PCM_A form would silently wrap in Spark and raise
    in DuckDB once doc_id passes ~3.5e9 — the CLAUDE.md 128-bit rule).
    Rendered in vectorized numpy via ``synth_map_arrays`` (see its
    docstring for why not transform(sequence(...)))."""
    import numpy as np

    i = np.arange(WAV_N_SAMPLES, dtype=np.int64)

    def build(d):
        arr = ((d[:, None] % 65536) * PCM_A + i[None, :] * PCM_B) % 65536 - 32768
        return {"samples": list(arr.astype(np.int32))}

    return synth_map_arrays(docs, "doc_id bigint, samples array<int>", build)


def encode_wav(df: DataFrame) -> DataFrame:
    """REAL WAV encoder (stdlib ``wave``): (doc_id, samples) ->
    (doc_id, payload) where payload is a complete RIFF/WAVE container
    (44-byte header + PCM16LE mono frames). Arrow-batched, map-only."""
    return arrow_stage(
        df, lambda d, s: [(d, _wav_bytes(s, WAV_SAMPLE_RATE))], PAYLOAD_SCHEMA
    )


def _wav_bytes(samples, rate: int) -> bytes:
    """A mono PCM16 RIFF/WAVE container (stdlib ``wave`` writer)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


WAV_FEATURE_SCHEMA = (
    "doc_id bigint, sample_rate bigint, n_samples bigint, "
    "peak_abs bigint, sum_abs bigint, sum_sq bigint"
)


def pxbytes(arr) -> bytes:
    """Exact fast equivalent of ``bytes(list(arr))`` for the integer
    numpy arrays Arrow hands the encode operators (r17): one vectorized
    range check then a C-speed uint8 copy, where the list form paid a
    per-element Python conversion per pixel. Raises ValueError on any
    value outside 0..255 — the same contract ``bytes()`` enforced."""
    a = np.asarray(arr)
    if a.size and (int(a.min()) < 0 or int(a.max()) > 255):
        raise ValueError("bytes must be in range(0, 256)")
    return a.astype(np.uint8, copy=False).tobytes()


def pcm_feature_sums(samples) -> tuple[int, int, int]:
    """(peak_abs, sum_abs, sum_sq) of a PCM16-range sample list in one
    numpy pass (r16) — value-identical to the per-sample genexpr sums
    every audio feature row used (|s| <= 32768 so sum_sq fits int64 up
    to ~8.5e9 samples/doc; corpus docs are thousands)."""
    arr = np.asarray(samples, dtype=np.int64)
    if not arr.size:
        return 0, 0, 0
    a = np.abs(arr)
    return int(a.max()), int(a.sum()), int((arr * arr).sum())


def read_pcm16_wav(payload: bytes, doc_id="?") -> tuple[int, int, tuple]:
    """Parse a mono PCM16 RIFF/WAVE payload -> (rate, n, samples).

    The one place the stdlib ``wave`` reader's failure modes are
    normalized to the repo-wide parser contract (corrupt container =>
    ValueError, fuzz-locked in tests/test_codec_fuzz.py): ``wave.Error``
    is NOT a ValueError subclass, a truncated header surfaces as
    EOFError, and a data chunk shorter than the declared frame count
    surfaces as struct.error from the fixed-width unpack (ADVICE r9
    item 4). All container reads stay INSIDE the with block — the wave
    module does not document post-close param access (ADVICE r8)."""
    import io
    import struct
    import wave

    try:
        with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                raise ValueError(
                    f"doc {doc_id}: expected mono PCM16, got "
                    f"{w.getnchannels()}ch/{w.getsampwidth()}B"
                )
            n = w.getnframes()
            samples = struct.unpack(f"<{n}h", w.readframes(n))
            rate = w.getframerate()
    except (wave.Error, EOFError, struct.error, RuntimeError) as exc:
        # RuntimeError: wave.py's vendored Chunk.seek raises it BARE
        # when a mutated chunk-size field pushes a seek out of range
        # (found by the WAV fuzz target). Only the BARE class is a
        # container symptom — subclasses (RecursionError, NotImplemented
        # paths) are genuine interpreter failures and must propagate
        # (ADVICE r10).
        if isinstance(exc, RuntimeError) and type(exc) is not RuntimeError:
            raise
        raise ValueError(
            f"doc {doc_id}: corrupt WAV container: "
            f"{type(exc).__name__}: {exc}"
        ) from exc
    return rate, n, samples


def decode_wav_features(media: DataFrame) -> DataFrame:
    """REAL WAV decoder: parses the RIFF header (channel count, sample
    width, frame rate all read from the CONTAINER, not assumed),
    unpacks the PCM frames, and emits exact-integer amplitude features.
    Raises ValueError on a malformed container or unexpected layout — a
    corrupt payload fails loudly instead of producing silent garbage."""

    def features(doc_id, payload):
        rate, n, samples = read_pcm16_wav(payload, doc_id)
        # A zero-frame WAV is a LEGAL container: pcm_feature_sums gives
        # 0s, not a bare ValueError from max() on empty.
        yield doc_id, rate, n, *pcm_feature_sums(samples)

    return arrow_stage(media, features, WAV_FEATURE_SCHEMA)


def synth_ppm_pixels(docs: DataFrame) -> DataFrame:
    """(doc_id, px): deterministic RGB bytes, px[i] =
    ((doc_id mod 256)*PCM_A + i*PCM_B) mod 256 for i < W*H*3 — doc_id
    pre-reduced mod 256 for the same BIGINT-budget reason as
    synth_pcm_samples (identical values, overflow-proof). numpy-rendered
    (``synth_map_arrays``)."""
    import numpy as np

    n = PPM_WIDTH * PPM_HEIGHT * 3
    i = np.arange(n, dtype=np.int64)

    def build(d):
        arr = ((d[:, None] % 256) * PCM_A + i[None, :] * PCM_B) % 256
        return {"px": list(arr.astype(np.int32))}

    return synth_map_arrays(docs, "doc_id bigint, px array<int>", build)


def encode_ppm(df: DataFrame) -> DataFrame:
    """REAL binary-PPM (P6) encoder: header + raw RGB bytes."""
    header = f"P6\n{PPM_WIDTH} {PPM_HEIGHT}\n255\n".encode()
    return arrow_stage(df, lambda d, px: [(d, header + pxbytes(px))], PAYLOAD_SCHEMA)


PPM_FEATURE_SCHEMA = (
    "doc_id bigint, width bigint, height bigint, "
    "sum_r bigint, sum_g bigint, sum_b bigint"
)


def _parse_ppm(payload: bytes):
    """Parse a binary-PPM (P6) container: returns (width, height, px).
    Skips spec-legal '#'-to-newline header comments; raises on a bad
    magic, non-255 maxval, or a pixel buffer that disagrees with the
    parsed dimensions. Shared by the feature decoder and the real
    resize (both must read the SAME container format)."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    fields, pos = [], 2
    while len(fields) < 3:
        # Skip whitespace AND '#'-to-newline comments — both are
        # spec-legal between header fields (ADVICE r8 item 3).
        while pos < len(payload):
            if payload[pos : pos + 1].isspace():
                pos += 1
            elif payload[pos : pos + 1] == b"#":
                nl = payload.find(b"\n", pos)
                pos = len(payload) if nl < 0 else nl + 1
            else:
                break
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = fields
    px = payload[pos:]
    if maxval != 255 or len(px) != w * h * 3:
        raise ValueError(f"bad PPM: maxval={maxval} len={len(px)} for {w}x{h}")
    return w, h, px


def decode_ppm_features(media: DataFrame) -> DataFrame:
    """REAL PPM decoder: parses the P6 header (magic, dimensions,
    maxval — from the container), validates the pixel-buffer length
    against the parsed dimensions, and emits per-channel exact sums."""
    return arrow_stage(
        media, lambda d, p: [_rgb_sums_row(d, *_parse_ppm(bytes(p)))],
        PPM_FEATURE_SCHEMA,
    )


def _rgb_sums_row(doc_id, w: int, h: int, px: bytes) -> tuple:
    """A ``PPM_FEATURE_SCHEMA`` row: geometry plus exact channel sums
    of interleaved RGB bytes."""
    return doc_id, w, h, sum(px[0::3]), sum(px[1::3]), sum(px[2::3])


def resize_ppm_nearest(media: DataFrame, factor: int = 2) -> DataFrame:
    """REAL image resize, codec-free tier (r9): parse the P6 container
    (shared ``_parse_ppm`` — same parser as the feature decoder),
    nearest-neighbor downsample by integer ``factor``
    (out(x, y) = in(factor·x, factor·y), the top-left convention), and
    RE-ENCODE a genuine P6 container at the new dimensions. Closes the
    'resize' leg of the mandated decode/feature/resize/frame-sample
    surface with a real container->container transform instead of the
    signature stub (``resize_stub`` remains the seam for true-codec
    formats). Arrow-batched, map-only; output payload is ~factor²
    smaller, so downstream feature scans shrink accordingly. Corrupt
    or dimension-mismatched containers raise via the shared parser."""

    def resize(doc_id, payload):
        w, h, px = _parse_ppm(bytes(payload))
        nw, nh = w // factor, h // factor
        if nw < 1 or nh < 1:
            raise ValueError(f"resize factor {factor} collapses {w}x{h} to zero")
        out = bytearray()
        for y in range(nh):
            row0 = y * factor * w
            for x in range(nw):
                i = (row0 + x * factor) * 3
                out += px[i : i + 3]
        yield doc_id, f"P6\n{nw} {nh}\n255\n".encode() + bytes(out)

    return arrow_stage(media, resize, PAYLOAD_SCHEMA)


# ---------------------------------------------------------------------------
# REAL compressed codec (r9): PNG. Unlike WAV/PPM (raw-sample
# containers), PNG is a genuine codec — DEFLATE-compressed scanlines,
# per-row predictive filters, CRC-32 chunk integrity — and the whole
# format is implementable from the spec with stdlib zlib/struct, no
# external library. The encoder below writes standard 8-bit RGB PNGs
# (any viewer opens them) and deliberately cycles through ALL FIVE
# scanline filters (y % 5) so the decoder's unfilter arithmetic —
# Sub/Up/Average/Paeth prediction, the hard part of PNG — is exercised
# on every image, not just the trivial None path. The decoder verifies
# every chunk CRC, parses IHDR, inflates IDAT, and unfilters; corrupt
# bytes, bad CRCs, truncated streams, and unsupported subsets (non-8-bit,
# non-RGB, Adam7 interlace) all raise. With the baseline JPEG codec in
# operators/jpeg.py (r9), the MDCT audio codec in operators/mdct.py
# (r9, the MP3-class mechanisms), the MCV video codec in
# operators/mcv.py (r9, the H.264-class mechanisms), and the r11
# container-syntax layers (operators/mpeg_audio.py: ISO 11172-3
# framing; operators/annexb.py: H.264 Annex-B NAL syntax), no declared
# codec class or container syntax remains stubbed — the
# NotImplementedError seam marks only the PIL/ffmpeg boundary for
# arbitrary wild media files.
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor exactly as specified (PNG spec §9.4)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + typ
        + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def _png_filter_line(line: bytes, prev: bytes, ft: int, bpp: int = 3) -> bytes:
    """Apply scanline filter ``ft`` (forward direction, encoder side)."""
    out = bytearray(len(line))
    for i in range(len(line)):
        a = line[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ft == 0:
            pred = 0
        elif ft == 1:
            pred = a
        elif ft == 2:
            pred = b
        elif ft == 3:
            pred = (a + b) >> 1
        else:
            pred = _paeth(a, b, c)
        out[i] = (line[i] - pred) & 0xFF
    return bytes(out)


def _png_unfilter(raw: bytes, w: int, h: int, bpp: int = 3) -> bytes:
    """Reverse the per-scanline filters (decoder side): each row starts
    with a filter-type byte; Sub/Up/Average/Paeth reconstruct from the
    already-reconstructed left/up/up-left neighbors (spec §9)."""
    stride = w * bpp
    out = bytearray()
    prev: bytes = bytes(stride)
    pos = 0
    for _ in range(h):
        ft = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if len(line) != stride:
            raise ValueError("truncated scanline")
        if ft == 0:
            pass
        elif ft == 1:
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ft == 2:
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                c = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ft}")
        out += line
        prev = bytes(line)
    return bytes(out)


def _encode_png_bytes(px: bytes, w: int, h: int) -> bytes:
    """A complete standard PNG: signature + IHDR + IDAT + IEND, 8-bit
    RGB, filter schedule y % 5 (all five filter types on every image
    taller than 4 rows), zlib level 9."""
    import struct
    import zlib

    stride = w * 3
    if len(px) != stride * h:
        raise ValueError(f"pixel buffer {len(px)} != {w}x{h} RGB")
    raw = bytearray()
    prev: bytes = bytes(stride)
    for y in range(h):
        line = px[y * stride : (y + 1) * stride]
        ft = y % 5
        raw.append(ft)
        raw += _png_filter_line(line, prev, ft)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 9))
        + _png_chunk(b"IEND", b"")
    )


def _parse_png(payload: bytes):
    """Parse a PNG container: returns (width, height, pixel bytes).

    Walks the chunk stream verifying EVERY chunk's CRC-32, reads
    geometry/depth/color-type from IHDR, concatenates IDAT segments
    (multi-IDAT is spec-legal), inflates, and unfilters. Raises on a
    bad signature, CRC mismatch, truncation, a decompressed size that
    disagrees with IHDR, or the unsupported-subset cases (non-8-bit,
    non-RGB, nonzero compression/filter method, Adam7 interlace) —
    the same fail-loudly contract as the WAV/PPM parsers. Unknown
    ancillary chunks (tEXt, gAMA, ...) are CRC-checked then skipped."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat, seen_iend = 8, None, bytearray(), False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        crc_bytes = payload[pos + 8 + length : pos + 12 + length]
        if len(data) != length or len(crc_bytes) != 4:
            raise ValueError(f"truncated {typ!r} chunk")
        if zlib.crc32(typ + data) & 0xFFFFFFFF != struct.unpack(">I", crc_bytes)[0]:
            raise ValueError(f"CRC mismatch in {typ!r} chunk")
        if typ == b"IHDR":
            # A CRC-valid IHDR of the wrong length would leak raw
            # struct.error from the fixed-width unpack (ADVICE r9
            # item 3) — the spec fixes IHDR at exactly 13 bytes.
            if len(data) != 13:
                raise ValueError(f"IHDR must be 13 bytes, got {len(data)}")
            w, h, depth, ctype, comp, fmeth, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or ctype != 2:
                raise ValueError(
                    f"unsupported PNG subset: depth={depth} color_type={ctype} "
                    "(only 8-bit RGB)"
                )
            if comp != 0 or fmeth != 0:
                raise ValueError("nonstandard compression/filter method")
            if interlace != 0:
                raise ValueError("Adam7 interlace unsupported")
            ihdr = (w, h)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if ihdr is None or not seen_iend:
        raise ValueError("missing IHDR or IEND")
    w, h = ihdr
    try:
        # Per-chunk CRCs validate the BYTES, not the DEFLATE stream:
        # CRC-valid IDAT chunks can still concatenate to invalid
        # DEFLATE (ADVICE r9 item 3) — zlib.error is not a ValueError.
        raw = zlib.decompress(bytes(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt IDAT DEFLATE stream: {exc}") from exc
    if len(raw) != h * (1 + w * 3):
        raise ValueError(
            f"decompressed size {len(raw)} != expected {h * (1 + w * 3)}"
        )
    return w, h, _png_unfilter(raw, w, h)


def encode_png(df: DataFrame) -> DataFrame:
    """REAL PNG encoder: (doc_id, px flat RGB ints) -> (doc_id, payload)
    where payload is a standard, any-viewer-openable PNG (DEFLATE
    scanlines, all-five-filter schedule, CRC'd chunks). Arrow-batched,
    map-only. Scale note: per-byte Python filtering is fine at these
    thumbnail dims; production-size rasters would numpy-vectorize the
    filter loops inside the SAME mapInPandas batch — the plan shape
    (zero shuffles beyond the narrow-key spread, payload written columnar) is the part that carries
    to 100 TB unchanged."""
    return arrow_stage(
        df,
        lambda d, px: [(d, _encode_png_bytes(pxbytes(px), PPM_WIDTH, PPM_HEIGHT))],
        PAYLOAD_SCHEMA,
    )


def decode_png_features(media: DataFrame) -> DataFrame:
    """REAL PNG decoder: full container parse (_parse_png — CRC-verified
    chunks, IHDR geometry, multi-IDAT inflate, all-five-filter
    reconstruction) then per-channel exact sums. Same feature schema as
    the PPM decoder, so the analytic oracle is shared verbatim: parity
    proves DEFLATE + filter prediction round-tripped every pixel."""
    return arrow_stage(
        media, lambda d, p: [_rgb_sums_row(d, *_parse_png(bytes(p)))],
        PPM_FEATURE_SCHEMA,
    )


def decimate_wav(media: DataFrame, stride: int = 4) -> DataFrame:
    """REAL audio frame-sampling, codec-free tier (r9): parse the
    RIFF/WAVE container with the stdlib ``wave`` reader (channels /
    width / rate / frame count all from the header, mismatches raise),
    keep every ``stride``-th sample (classic decimation — the audio
    form of video frame-sampling), and RE-ENCODE a genuine WAV at
    rate // stride. Closes the 'frame-sample' leg of the mandated
    multimodal surface with a real container->container transform.
    Corrupt payloads raise ValueError (via read_pcm16_wav).
    Arrow-batched, map-only; output payloads shrink ~stride×."""

    def decimate(doc_id, payload):
        rate, _n, samples = read_pcm16_wav(payload, doc_id)
        yield doc_id, _wav_bytes(samples[::stride], max(1, rate // stride))

    return arrow_stage(media, decimate, PAYLOAD_SCHEMA)
