"""Multimodal queries: binary-column plumbing with a deterministic
decode stub, end-to-end through Arrow batches (see
operators/multimodal.py). The fake features are pure functions of the
bytes, so the whole pipeline is oracle-checkable in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ds_mapreduce_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    sample_frames,
)
from ds_mapreduce_spark.plans.registry import register
from ds_mapreduce_spark.sources.catalog import load_table


def _doc_ids_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow doc_id source for payload SYNTHESIS, repartitioned to the
    session's parallelism BEFORE the width expansion. The synth stage
    turns 8-byte rows into KB-scale payloads, so sizing tasks by INPUT
    bytes (one small parquet split at test scale) would serialize all
    the Python codec work onto one core — measured: the MJPEG bench
    row ran 13.9 s on 1 partition. Repartitioning the narrow keys
    costs a ~tens-of-KB shuffle and buys full parallelism on the
    expensive stage. The 100 TB rule this encodes: whenever an
    operator EXPANDS data (decode, synthesis, explode), partition for
    the OUTPUT width, not the input bytes — for real stored payloads
    the parquet splitter already does this via maxPartitionBytes, but
    a generator's input is always deceptively narrow."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return docs.repartition(spark.sparkContext.defaultParallelism)


@register(
    "multimodal_features",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS byte_len,
       md5(text) AS checksum,
       GREATEST(1, octet_length(encode(text)) // 256) AS n_frames
FROM documents
""",
    doc="Multimodal plumbing: text bytes stand in for media blobs → "
    "binary column + metadata struct → mapInPandas feature extraction "
    "(decode stubbed, deterministic). Map-only; payload column pruned "
    "from any downstream read that doesn't need it.",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(attach_binary_payload(docs))


@register(
    "multimodal_frame_sample",
    oracle="""
WITH base AS (
  SELECT doc_id, md5(text) AS checksum,
         GREATEST(1, octet_length(encode(text)) // 256) AS n_frames
  FROM documents
)
SELECT doc_id, i AS frame_idx,
       md5(checksum || ':' || CAST(i AS VARCHAR)) AS frame_sig
FROM base, UNNEST(range(0, n_frames, 4)) AS t(i)
""",
    doc="Frame sampling (video→frames / audio→windows shape): every 4th "
    "frame of each payload becomes a row via mapInPandas — map-only "
    "explode, no shuffle; frame_sig is the deterministic decode-stub "
    "stand-in for frame bytes.",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(attach_binary_payload(docs), stride=4)


@register(
    "multimodal_metadata_stats",
    oracle="""
SELECT lang,
       COUNT(*) AS n_items,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       ROUND(AVG(octet_length(encode(text))), 4) AS avg_bytes,
       CAST(MAX(octet_length(encode(text))) AS BIGINT) AS max_bytes
FROM documents GROUP BY lang
""",
    doc="Metadata-only scan over the multimodal table: aggregates read the "
    "meta struct, never the payload — demonstrates payload-column pruning.",
)
def q_multimodal_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return media.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("meta.byte_len")).cast("bigint").alias("total_bytes"),
        F.round(F.avg(F.col("meta.byte_len")), 4).alias("avg_bytes"),
        F.max(F.col("meta.byte_len")).cast("bigint").alias("max_bytes"),
    )


@register(
    "multimodal_resize",
    oracle="""
SELECT doc_id, 64 AS width, 64 AS height,
       md5(md5(text) || ':64x64') AS resized_sig,
       GREATEST(16, (64 * 64) // 8) AS out_bytes
FROM documents
""",
    doc="Multimodal resize stub through Arrow batches: map-only "
    "mapInPandas, deterministic per-payload signature standing in for "
    "the re-encoded image (PIL plugs into resize_stub's real_decode "
    "seam). Payload column never survives past the resize projection.",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.multimodal import resize_images

    docs = load_table(spark, sf_dir, "documents")
    return resize_images(attach_binary_payload(docs), width=64, height=64)


@register(
    "multimodal_payload_dedup",
    oracle="""
SELECT md5(text) AS payload_md5,
       MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
FROM documents
GROUP BY md5(text)
""",
    doc="Exact dedup over the BINARY payload column — the asset-level "
    "dedup every multimodal corpus runs before decode (identical bytes "
    "= identical media, no codec needed): md5 computed directly on the "
    "binary payload (Spark md5(BINARY) ≡ DuckDB md5 of the same utf-8 "
    "bytes, since the stand-in payload is encode(text)), grouped with "
    "min-id representative, copy count, and total bytes from the typed "
    "metadata struct (meta.byte_len — the struct access path graded). "
    "100 TB: one (hash, id, byte_len) shuffle — payload bytes never "
    "move; at real scale the hash is computed at ingest and stored as "
    "a column, making this a pure fingerprint-table groupBy.",
)
def q_multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return (
        media.select(
            "doc_id",
            F.md5(F.col("payload")).alias("payload_md5"),
            F.col("meta.byte_len").alias("byte_len"),
        )
        .groupBy("payload_md5")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sum("byte_len").cast("bigint").alias("total_bytes"),
        )
    )


def _payload_simhash_oracle(chunks: int = 4, max_hamming: int = 3) -> str:
    from ds_mapreduce_spark.plans.dedup_queries import _simhash_oracle

    # byte 4-grams = hex 8-grams at stride 2 (DuckDB range EXCLUDES the
    # stop, Spark sequence INCLUDES it: range(1, L-6, 2) ≙ sequence(1,
    # L-7, 2)); hex() is uppercase in both engines
    prelude = """hx AS (
  SELECT doc_id, hex(encode(text)) AS hx FROM documents
  WHERE length(hex(encode(text))) >= 8
),
th AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(hx) - 6, 2),
             i -> CAST(('0x' || substr(md5(substr(hx, CAST(i AS INTEGER), 8)), 1, 8))
                  AS BIGINT))) AS h
  FROM hx
)"""
    return _simhash_oracle(32, chunks, max_hamming, th_prelude=prelude)


@register(
    "multimodal_payload_simhash",
    oracle=_payload_simhash_oracle(),
    doc="Byte-level NEAR-dup over opaque binary payloads — the "
    "codec-free complement of multimodal_payload_dedup's exact md5 "
    "match: payloads sharing most of their byte stream (re-encoded "
    "asset, trimmed header) collide without decoding. Overlapping "
    "byte 4-grams (hex 8-grams, stride 2) hash through md5 into the "
    "SAME per-bit-majority simhash fold and chunk-pigeonhole pairing "
    "as the token variant (operators/dedup.simhash_fold — one "
    "arithmetic, two modalities), filtered to hamming <= 3 — the bound "
    "the 4-chunk pigeonhole finds COMPLETELY, and deliberately tighter "
    "than the token variant's <= 8: byte-gram signatures over a "
    "template-heavy corpus are denser, and the TRUE pair set at <= 8 "
    "is output-quadratic (12.6k pairs at sf0.01 vs 549 at <= 3 — the "
    "prefix-filter output-asymptotics lesson applied before it hit a "
    "bench). Map-only "
    "until the chunk-key self-join; payload bytes never shuffle. "
    "100 TB: the 32-bit signature is computed at ingest and stored — "
    "this query becomes a fingerprint-table self-join. See "
    "operators/multimodal.py:payload_simhash_pairs.",
)
def q_multimodal_payload_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.multimodal import payload_simhash_pairs

    media = attach_binary_payload(load_table(spark, sf_dir, "documents"))
    return payload_simhash_pairs(media, chunks=4, max_hamming=3)


def _wav_oracle() -> str:
    from ds_mapreduce_spark.operators.multimodal import (
        PCM_A,
        PCM_B,
        WAV_N_SAMPLES,
        WAV_SAMPLE_RATE,
    )

    return f"""
WITH s AS (
  SELECT doc_id,
         (((doc_id % 65536) * {PCM_A} + i * {PCM_B}) % 65536) - 32768 AS v
  FROM documents, UNNEST(range(0, {WAV_N_SAMPLES})) t(i)
)
SELECT doc_id,
       CAST({WAV_SAMPLE_RATE} AS BIGINT) AS sample_rate,
       CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM s GROUP BY doc_id
"""


@register(
    "multimodal_wav_roundtrip",
    oracle=_wav_oracle(),
    doc="REAL audio decode, codec-free tier (r8): deterministic PCM16 "
    "samples (pure JVM integer expression) -> a GENUINE RIFF/WAVE "
    "container built by the stdlib `wave` encoder in one Arrow batch "
    "pass -> a second pass that PARSES the container (channels, sample "
    "width, rate, frame count all read from the header, mismatches "
    "raise) and unpacks the PCM frames into exact-integer amplitude "
    "features. The oracle computes the same features analytically from "
    "the sample formula and never sees a WAV byte — parity therefore "
    "proves the encode->decode roundtrip preserved every sample "
    "bit-for-bit, i.e. the decoder is real, not a checksum stub. "
    "Plan: one fused mapInPandas, map-only, ZERO data-bearing shuffles beyond the narrow-key spread; at 100 TB "
    "payload width (not row count) sizes tasks via maxPartitionBytes "
    "and features are written columnar so the payload prunes away. "
    "The stub seam now remains only for MP3/H.264 (JPEG became real "
    "in operators/jpeg.py). See operators/multimodal.py:decode_wav_features.",
)
def q_multimodal_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.multimodal import (
        decode_wav_features,
        encode_wav,
        synth_pcm_samples,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_wav_features(encode_wav(synth_pcm_samples(docs)))


def _ppm_oracle() -> str:
    from ds_mapreduce_spark.operators.multimodal import (
        PCM_A,
        PCM_B,
        PPM_HEIGHT,
        PPM_WIDTH,
    )

    n = PPM_WIDTH * PPM_HEIGHT * 3
    return f"""
WITH px AS (
  SELECT doc_id, i, ((doc_id % 256) * {PCM_A} + i * {PCM_B}) % 256 AS v
  FROM documents, UNNEST(range(0, {n})) t(i)
)
SELECT doc_id,
       CAST({PPM_WIDTH} AS BIGINT) AS width,
       CAST({PPM_HEIGHT} AS BIGINT) AS height,
       CAST(SUM(CASE WHEN i % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN i % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN i % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
"""


@register(
    "multimodal_ppm_roundtrip",
    oracle=_ppm_oracle(),
    doc="REAL image decode, codec-free tier (r8): deterministic RGB "
    "bytes -> a genuine binary-PPM (P6) container (header + raw "
    "pixels) -> a decoder that parses the header (magic, dimensions, "
    "maxval) and validates the pixel buffer against the PARSED "
    "dimensions before emitting per-channel exact sums. Same "
    "analytic-oracle construction as multimodal_wav_roundtrip: parity "
    "proves the container roundtrip, not just the arithmetic. Map-only "
    "two-pass mapInPandas, zero shuffles beyond the narrow-key spread. See "
    "operators/multimodal.py:decode_ppm_features.",
)
def q_multimodal_ppm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.multimodal import (
        decode_ppm_features,
        encode_ppm,
        synth_ppm_pixels,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_ppm_features(encode_ppm(synth_ppm_pixels(docs)))


def _ppm_resize_oracle(factor: int = 2) -> str:
    from ds_mapreduce_spark.operators.multimodal import (
        PCM_A,
        PCM_B,
        PPM_HEIGHT,
        PPM_WIDTH,
    )

    nw, nh = PPM_WIDTH // factor, PPM_HEIGHT // factor
    return f"""
WITH px AS (
  SELECT doc_id, c,
         ((doc_id % 256) * {PCM_A}
          + (({factor} * y * {PPM_WIDTH} + {factor} * x) * 3 + c) * {PCM_B})
         % 256 AS v
  FROM documents,
       UNNEST(range(0, {nh})) ty(y),
       UNNEST(range(0, {nw})) tx(x),
       UNNEST(range(0, 3)) tc(c)
)
SELECT doc_id,
       CAST({nw} AS BIGINT) AS width,
       CAST({nh} AS BIGINT) AS height,
       CAST(SUM(CASE WHEN c = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
       CAST(SUM(CASE WHEN c = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
       CAST(SUM(CASE WHEN c = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
"""


@register(
    "multimodal_ppm_resize_real",
    oracle=_ppm_resize_oracle(2),
    doc="REAL image resize, codec-free tier (r9): the r8 roundtrip "
    "chain with a genuine container->container transform in the "
    "middle — synth pixels -> real P6 encode -> PARSE the container "
    "(shared _parse_ppm), nearest-neighbor downsample by 2 "
    "(out(x,y) = in(2x, 2y)), RE-ENCODE a real 12x8 P6 -> the real "
    "feature decoder. The oracle computes the downsampled channel "
    "sums analytically from the synth formula (pixel index "
    "(2y*24 + 2x)*3 + c) and never sees a container byte, so parity "
    "proves the full parse->resample->re-encode->parse chain "
    "preserved exactly the expected pixels. Closes the 'resize' leg "
    "of the mandated multimodal surface as REAL (the stub remains "
    "only for true-codec formats). Three stages fused into one mapInPandas, "
    "map-only, zero shuffles beyond the narrow-key spread; resize shrinks payloads 4x so the "
    "second decode scans a quarter of the bytes. See "
    "operators/multimodal.py:resize_ppm_nearest.",
)
def q_multimodal_ppm_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.multimodal import (
        decode_ppm_features,
        encode_ppm,
        resize_ppm_nearest,
        synth_ppm_pixels,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_ppm_features(
        resize_ppm_nearest(encode_ppm(synth_ppm_pixels(docs)), factor=2)
    )


@register(
    "multimodal_png_roundtrip",
    oracle=_ppm_oracle(),
    doc="REAL compressed-codec decode (r9): PNG, implemented from the "
    "spec with stdlib zlib — no external library. The same synth RGB "
    "pixels as the PPM roundtrip are encoded into a STANDARD 8-bit RGB "
    "PNG (DEFLATE-compressed scanlines; the filter schedule cycles "
    "through ALL FIVE predictive filters None/Sub/Up/Average/Paeth, "
    "y % 5, so the decoder's prediction arithmetic is exercised on "
    "every image; CRC-32 on every chunk) and decoded back by a full "
    "container parse: signature check, per-chunk CRC verification, "
    "IHDR geometry/depth/color-type, multi-IDAT inflate, five-filter "
    "unfiltering. The oracle is the SAME analytic channel-sum SQL as "
    "multimodal_ppm_roundtrip (identical pixels, shared constants — "
    "one-place rule), so parity proves DEFLATE + filter prediction "
    "preserved every pixel bit-for-bit. Lossless image compression is "
    "real here; the lossy tiers are real too (JPEG gray+color, G.711, "
    "MJPEG-AVI) — the stub seam now covers only MP3/H.264. Plan: one "
    "fused mapInPandas, map-only, ZERO data-bearing shuffles beyond "
    "the narrow-key spread; compressed payloads shrink the bytes that "
    "cross executor->Python. See operators/multimodal.py:_parse_png.",
)
def q_multimodal_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.multimodal import (
        decode_png_features,
        encode_png,
        synth_ppm_pixels,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_png_features(encode_png(synth_ppm_pixels(docs)))


def _ulaw_oracle() -> str:
    """Closed-form oracle for the LOSSY G.711 roundtrip: mu-law is a
    deterministic integer map, so the reconstructed sample is an exact
    8-branch CASE on the biased magnitude's segment — encode (clip,
    bias, segment, mantissa) and decode (Sun g711 reconstruction)
    fused into one expression per sample. tests/test_g711.py locks
    this closed form against encode->decode over the ENTIRE 16-bit
    range, so parity here grades the container+expansion chain."""
    from ds_mapreduce_spark.operators.g711 import ULAW_BIAS, ULAW_CLIP
    from ds_mapreduce_spark.operators.multimodal import (
        PCM_A,
        PCM_B,
        WAV_N_SAMPLES,
        WAV_SAMPLE_RATE,
    )

    branches = "\n         ".join(
        (
            f"WHEN mm < {256 << seg} THEN "
            if seg < 7
            else "ELSE "
        )
        + f"(((mm // {8 << seg}) % 16) * 8 + {ULAW_BIAS}) * {1 << seg} - {ULAW_BIAS}"
        for seg in range(8)
    )
    return f"""
WITH s AS (
  SELECT doc_id,
         (((doc_id % 65536) * {PCM_A} + i * {PCM_B}) % 65536) - 32768 AS v
  FROM documents, UNNEST(range(0, {WAV_N_SAMPLES})) t(i)
), m AS (
  SELECT doc_id, v, LEAST(ABS(v), {ULAW_CLIP}) + {ULAW_BIAS} AS mm FROM s
), r AS (
  SELECT doc_id,
         CASE WHEN v < 0 THEN -mag ELSE mag END AS rv
  FROM (
    SELECT doc_id, v, CASE
         {branches}
       END AS mag
    FROM m
  ) q
)
SELECT doc_id,
       CAST({WAV_SAMPLE_RATE} AS BIGINT) AS sample_rate,
       CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
       CAST(MAX(ABS(rv)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(rv)) AS BIGINT) AS sum_abs,
       CAST(SUM(rv * rv) AS BIGINT) AS sum_sq
FROM r GROUP BY doc_id
"""


@register(
    "multimodal_ulaw_roundtrip",
    oracle=_ulaw_oracle(),
    doc="REAL lossy AUDIO codec (r9): ITU-T G.711 mu-law companding "
    "from the spec — sign/segment/mantissa encode with bias 0x84 and "
    "clip 32635, ones-complement wire format, Sun-g711 reconstruction "
    "— in a genuine RIFF/WAVE container with wFormatTag=7, written "
    "and parsed BY HAND (stdlib wave is PCM-only; the parser walks "
    "chunks with spec word-alignment and validates the format tag "
    "from the container). Because companding is a deterministic "
    "integer map, the lossy reconstruction is exactly closed-form: "
    "the oracle fuses encode+decode into an 8-branch CASE per sample "
    "and parity proves the whole chain bit-for-bit (the closed form "
    "itself is locked against encode->decode over all 65536 inputs "
    "in tests/test_g711.py). Interchange: javax.sound.sampled — an "
    "independent mu-law implementation — decodes our files to "
    "IDENTICAL PCM (tests/test_codec_interchange.py). The features "
    "share the PCM WAV decoder's schema, so this row's delta vs "
    "multimodal_wav_roundtrip measures exactly what companding cost. "
    "Plan: one fused mapInPandas, map-only, ZERO data-bearing shuffles beyond the narrow-key spread; mu-law "
    "halves the bytes crossing executor->Python vs PCM16. See "
    "operators/g711.py:parse_ulaw_wav.",
)
def q_multimodal_ulaw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.g711 import (
        decode_ulaw_features,
        encode_ulaw,
    )
    from ds_mapreduce_spark.operators.multimodal import synth_pcm_samples

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_ulaw_features(encode_ulaw(synth_pcm_samples(docs)))


def _gif_oracle() -> str:
    from ds_mapreduce_spark.operators.gif import (
        GIF_H,
        GIF_PAL_B_OFF,
        GIF_PAL_G_OFF,
        GIF_W,
    )
    from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B

    n = GIF_W * GIF_H
    return f"""
WITH px AS (
  SELECT doc_id, ((doc_id % 256) * {PCM_A} + i * {PCM_B}) % 256 AS v
  FROM documents, UNNEST(range(0, {n})) t(i)
)
SELECT doc_id,
       CAST({GIF_W} AS BIGINT) AS width,
       CAST({GIF_H} AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS sum_r,
       CAST(SUM((v + {GIF_PAL_G_OFF}) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((v + {GIF_PAL_B_OFF}) % 256) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
"""


@register(
    "multimodal_gif_roundtrip",
    oracle=_gif_oracle(),
    doc="REAL dictionary-coding codec (r9): GIF89a with the LZW "
    "compressor/decompressor implemented BY HAND from the spec "
    "(stdlib has no LZW) — variable-width codes growing at the "
    "dictionary thresholds, CLEAR/EOI control codes, dictionary reset "
    "at 4095 entries, the KwKwK decoder case, length-prefixed "
    "sub-blocks. Completes the classic compression-family set "
    "alongside DEFLATE (PNG) and transform+Huffman (JPEG). The "
    "decoder parses the whole container (screen descriptor, global "
    "AND local color tables, extension skipping, interlace rejected "
    "loudly) and sums the PALETTE-MAPPED channels, so parity against "
    "the analytic index-formula oracle proves LZW round-tripped every "
    "pixel. Interchange is independently proven: OpenJDK ImageIO "
    "(javax.imageio, a decoder sharing zero code with ours) "
    "reconstructs our GIF and PNG files pixel-EXACTLY and our JPEG "
    "within the T.81-permitted +-1 (tests/test_codec_interchange.py). "
    "Plan: one fused mapInPandas, map-only, ZERO data-bearing shuffles beyond the narrow-key spread. See "
    "operators/gif.py:parse_gif.",
)
def q_multimodal_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.gif import (
        decode_gif_features,
        encode_gif,
        synth_gif_indices,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_gif_features(encode_gif(synth_gif_indices(docs)))


def _wav_decimate_oracle(stride: int = 4) -> str:
    from ds_mapreduce_spark.operators.multimodal import (
        PCM_A,
        PCM_B,
        WAV_N_SAMPLES,
        WAV_SAMPLE_RATE,
    )

    return f"""
WITH s AS (
  SELECT doc_id,
         (((doc_id % 65536) * {PCM_A} + i * {PCM_B}) % 65536) - 32768 AS v
  FROM documents, UNNEST(range(0, {WAV_N_SAMPLES}, {stride})) t(i)
)
SELECT doc_id,
       CAST({WAV_SAMPLE_RATE // stride} AS BIGINT) AS sample_rate,
       CAST({(WAV_N_SAMPLES + stride - 1) // stride} AS BIGINT) AS n_samples,
       CAST(MAX(ABS(v)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq
FROM s GROUP BY doc_id
"""


def _jpeg_chain_ctes() -> str:
    """The shared closed-form CTE chain for the fixed-point JPEG
    pipeline: expects a CTE ``p(doc_id, c, d)`` with one row per
    8x8 BLOCK INSTANCE (c = level-shifted base, d = step), and ends
    with ``fx(doc_id, vr)`` holding one reconstructed pixel value per
    (instance, output column x) — each vr stands for 8 identical rows.
    Shared verbatim by the still-image and MJPEG-video oracles (the
    one-place rule for the DCT constants)."""
    from ds_mapreduce_spark.operators.jpeg import DCT_STEP, DCT_T, JPEG_QT

    t00 = DCT_T[0][0]

    def da(x: str, m: int = 8192) -> str:
        """half-away-from-zero round of x/m in truncating integer SQL"""
        return (
            f"CASE WHEN ({x}) >= 0 THEN (2*({x}) + {m}) // {2 * m} "
            f"ELSE -((2*(-({x})) + {m}) // {2 * m}) END"
        )

    ac_g = ",\n         ".join(
        f"{da(f'd * {DCT_STEP[u]}')} AS e{u}" for u in (1, 3, 5, 7)
    )
    ac_c = ",\n         ".join(
        f"{da(f'8 * e{u} * {t00}')} AS c{u}" for u in (1, 3, 5, 7)
    )
    ac_r = ",\n         ".join(
        f"({da(f'c{u}', JPEG_QT[0][u])}) * {JPEG_QT[0][u]} AS r{u}"
        for u in (1, 3, 5, 7)
    )
    ac_h = ",\n         ".join(
        f"{da(f'r{u} * {t00}')} AS h{u}" for u in (1, 3, 5, 7)
    )
    # decoder pass 2 per output column x: the odd-u basis values by x
    basis = " + ".join(
        f"h{u} * ([{','.join(str(v) for v in DCT_T[u])}][x + 1])"
        for u in (1, 3, 5, 7)
    )
    return f"""g AS (
  SELECT doc_id, {da(f'8 * c * {t00}')} AS g0,
         {ac_g}
  FROM p
), q AS (
  SELECT doc_id, {da(f'8 * g0 * {t00}')} AS dc,
         {ac_c}
  FROM g
), r AS (
  SELECT doc_id, ({da('dc', JPEG_QT[0][0])}) * {JPEG_QT[0][0]} AS r0,
         {ac_r}
  FROM q
), hh AS (
  SELECT doc_id, {da(f'r0 * {t00}')} AS h0,
         {ac_h}
  FROM r
), fx AS (
  SELECT doc_id,
         LEAST(255, GREATEST(0,
           ({da(f'h0 * {t00} + {basis}')}) + 128)) AS vr
  FROM hh, UNNEST(range(0, 8)) tx(x)
)"""


def _jpeg_oracle() -> str:
    """Analytic oracle for the LOSSY JPEG roundtrip — every arithmetic
    step of the codec's fixed-point DCT -> quantize -> dequantize ->
    IDCT chain unrolled into portable integer SQL (half-away rounding
    via truncating DIV, verified identical on Spark and DuckDB). The
    synth blocks are constant+step, so exactly five coefficients are
    nonzero (DC + odd-u ACs) and the reconstruction is closed-form; the
    constants (basis row T[0][0]=2896, the step response sums, the
    Annex K quant row) are imported from the operator module — the
    one-place rule. tests/test_jpeg.py brute-forces this formula
    against the general pipeline over the whole parameter space."""
    from ds_mapreduce_spark.operators.jpeg import JPEG_BLOCKS, JPEG_H, JPEG_W
    from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B

    return f"""
WITH p AS (
  SELECT doc_id,
         32 + ((doc_id % 256) * {PCM_A} + b * {PCM_B}) % 192 - 128 AS c,
         ((doc_id % 256) * {PCM_B} + b * {PCM_A}) % 32 - 16 AS d
  FROM documents, UNNEST(range(0, {JPEG_BLOCKS})) t(b)
), {_jpeg_chain_ctes()}
SELECT doc_id,
       CAST({JPEG_W} AS BIGINT) AS width,
       CAST({JPEG_H} AS BIGINT) AS height,
       CAST({JPEG_BLOCKS} AS BIGINT) AS n_blocks,
       CAST(SUM(8 * vr) AS BIGINT) AS sum_v,
       CAST(SUM(8 * vr * vr) AS BIGINT) AS sum_sq
FROM fx GROUP BY doc_id
"""


def _jpeg_color_oracle() -> str:
    """Closed-form oracle for the COLOR (4:4:4 YCbCr) JPEG roundtrip:
    per block and channel, the synth RGB left/right values go through
    the fixed-point forward color transform, the generalized
    (sum, diff) coefficient closed form (tests/test_jpeg.py proves it
    exact for ALL 65536 left/right pairs, for BOTH quant rows), the
    per-channel dequantize/IDCT reconstruction per output column, and
    the fixed-point inverse color transform — every constant imported
    from the operator module (one-place rule). Parity proves the
    3-component interleaved scan, per-component prediction, both
    Annex K quant tables, and both color transforms end-to-end."""
    from ds_mapreduce_spark.operators.jpeg import (
        DCT_STEP,
        DCT_T,
        JPEG_BLOCKS,
        JPEG_H,
        JPEG_QT,
        JPEG_QT_CHROMA,
        JPEG_W,
        YCC_FWD,
        YCC_INV,
    )
    from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B

    t00 = DCT_T[0][0]
    hstep = {u: DCT_STEP[u] // 2 for u in (1, 3, 5, 7)}

    def da(x: str, m: int) -> str:
        return (
            f"CASE WHEN ({x}) >= 0 THEN (2*({x}) + {m}) // {2 * m} "
            f"ELSE -((2*(-({x})) + {m}) // {2 * m}) END"
        )

    def clamp(x: str) -> str:
        return f"LEAST(255, GREATEST(0, {x}))"

    # p: per (doc, block) the six RGB class values (left/right halves)
    chan_vals = []
    for k, ch in enumerate("rgb"):
        v0 = f"32 + ((doc_id % 256) * {PCM_A} + (3*b + {k}) * {PCM_B}) % 192"
        d = f"((doc_id % 256) * {PCM_B} + (3*b + {k}) * {PCM_A}) % 32 - 16"
        chan_vals.append(f"({v0}) + ({d}) AS {ch}l")
        chan_vals.append(f"({v0}) - ({d}) AS {ch}r")
    # cc: forward fixed-point color transform per class
    cc_cols = []
    for cls in ("l", "r"):
        for key, alias in (("y", "y"), ("cb", "cb"), ("cr", "cr")):
            cr_, cg_, cb_ = YCC_FWD[key]
            core = da(f"{cr_}*r{cls} + {cg_}*g{cls} + {cb_}*b{cls}", 256)
            if key != "y":
                core = f"({core}) + 128"
            cc_cols.append(f"{clamp(core)} AS {alias}{cls}")
    # per-channel coefficient chains on (sum, diff) of level-shifted values
    qrow = {"y": JPEG_QT[0], "cb": JPEG_QT_CHROMA[0], "cr": JPEG_QT_CHROMA[0]}
    g_cols, q_cols, r_cols, h_cols, fx_cols = [], [], [], [], []
    for c in ("y", "cb", "cr"):
        g_cols.append(f"{da(f'4*({c}l + {c}r - 256)*{t00}', 8192)} AS g0{c}")
        g_cols += [
            f"{da(f'({c}l - {c}r)*{hstep[u]}', 8192)} AS e{u}{c}"
            for u in (1, 3, 5, 7)
        ]
        q_cols.append(f"{da(f'8*g0{c}*{t00}', 8192)} AS dc{c}")
        q_cols += [
            f"{da(f'8*e{u}{c}*{t00}', 8192)} AS c{u}{c}" for u in (1, 3, 5, 7)
        ]
        r_cols.append(
            f"({da(f'dc{c}', qrow[c][0])}) * {qrow[c][0]} AS r0{c}"
        )
        r_cols += [
            f"({da(f'c{u}{c}', qrow[c][u])}) * {qrow[c][u]} AS r{u}{c}"
            for u in (1, 3, 5, 7)
        ]
        h_cols.append(f"{da(f'r0{c}*{t00}', 8192)} AS h0{c}")
        h_cols += [
            f"{da(f'r{u}{c}*{t00}', 8192)} AS h{u}{c}" for u in (1, 3, 5, 7)
        ]
        basis = " + ".join(
            f"h{u}{c} * ([{','.join(str(v) for v in DCT_T[u])}][x + 1])"
            for u in (1, 3, 5, 7)
        )
        rec = da(f"h0{c}*{t00} + {basis}", 8192)
        fx_cols.append(clamp(f"({rec}) + 128") + f" AS v{c}")
    # inverse fixed-point color transform per output column
    rcr, gcb = YCC_INV["r_cr"], YCC_INV["g_cb"]
    gcr, bcb = YCC_INV["g_cr"], YCC_INV["b_cb"]
    inv = {
        "rr2": "vy + (" + da(f"{rcr}*(vcr - 128)", 256) + ")",
        "gg2": "vy + ("
        + da(f"{gcb}*(vcb - 128) + {gcr}*(vcr - 128)", 256)
        + ")",
        "bb2": "vy + (" + da(f"{bcb}*(vcb - 128)", 256) + ")",
    }
    px_cols = [f"{clamp(expr)} AS {name}" for name, expr in inv.items()]
    nl = ",\n         "
    return f"""
WITH p AS (
  SELECT doc_id,
         {nl.join(chan_vals)}
  FROM documents, UNNEST(range(0, {JPEG_BLOCKS})) t(b)
), cc AS (
  SELECT doc_id, {nl.join(cc_cols)} FROM p
), g AS (
  SELECT doc_id, {nl.join(g_cols)} FROM cc
), q AS (
  SELECT doc_id, {nl.join(q_cols)} FROM g
), r AS (
  SELECT doc_id, {nl.join(r_cols)} FROM q
), hh AS (
  SELECT doc_id, {nl.join(h_cols)} FROM r
), fx AS (
  SELECT doc_id, {nl.join(fx_cols)}
  FROM hh, UNNEST(range(0, 8)) tx(x)
), px AS (
  SELECT doc_id, {nl.join(px_cols)} FROM fx
)
SELECT doc_id,
       CAST({JPEG_W} AS BIGINT) AS width,
       CAST({JPEG_H} AS BIGINT) AS height,
       CAST({JPEG_BLOCKS} AS BIGINT) AS n_blocks,
       CAST(SUM(8 * rr2) AS BIGINT) AS sum_r,
       CAST(SUM(8 * gg2) AS BIGINT) AS sum_g,
       CAST(SUM(8 * bb2) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id
"""


@register(
    "multimodal_jpeg_color_roundtrip",
    oracle=_jpeg_color_oracle(),
    doc="REAL COLOR lossy codec (r9): baseline 4:4:4 YCbCr JPEG — "
    "fixed-point RGB<->YCbCr transforms (integer rows summing to "
    "256/0 so gray round-trips exactly), per-plane DCT with BOTH "
    "Annex K quant tables (K.1 luminance, K.2 chrominance), "
    "MCU-interleaved entropy coding with per-component DC "
    "prediction, and a decoder that parses the 3-component frame "
    "and inverts the whole chain. The oracle composes the fixed-"
    "point forward transform, the generalized (sum,diff) coefficient "
    "closed form (proven exact for ALL 65536 left/right pairs and "
    "both quant rows in tests/test_jpeg.py), per-channel "
    "reconstruction, and the inverse transform — parity grades "
    "color JPEG end-to-end bit-exactly. OpenJDK ImageIO decodes our "
    "color files within the expected IDCT+color variance "
    "(tests/test_codec_interchange.py). Plan: one fused "
    "mapInPandas after the narrow-key spread. See "
    "operators/jpeg.py:encode_jpeg_color_bytes.",
)
def q_multimodal_jpeg_color_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.jpeg import (
        decode_jpeg_color_features,
        encode_jpeg_color,
        synth_color_jpeg_pixels,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_jpeg_color_features(encode_jpeg_color(synth_color_jpeg_pixels(docs)))


def _mjpeg_oracle() -> str:
    """Closed-form oracle for the MJPEG-AVI video roundtrip with
    temporal frame-sampling: the SAME fixed-point JPEG chain
    (_jpeg_chain_ctes — one-place rule), with block instances drawn
    from the SAMPLED frames only (frame f in range(0, n, stride),
    block id B = f*blocks_per_frame + b). Parity proves the AVI
    container walk, the per-frame JPEG decode, and the sampling all
    at once."""
    from ds_mapreduce_spark.operators.jpeg import JPEG_BLOCKS, JPEG_H, JPEG_W
    from ds_mapreduce_spark.operators.mjpeg_avi import (
        MJPEG_N_FRAMES,
        MJPEG_STRIDE,
    )
    from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B

    sampled = list(range(0, MJPEG_N_FRAMES, MJPEG_STRIDE))
    block_ids = ",".join(
        str(f * JPEG_BLOCKS + b) for f in sampled for b in range(JPEG_BLOCKS)
    )
    return f"""
WITH p AS (
  SELECT doc_id,
         32 + ((doc_id % 256) * {PCM_A} + b * {PCM_B}) % 192 - 128 AS c,
         ((doc_id % 256) * {PCM_B} + b * {PCM_A}) % 32 - 16 AS d
  FROM documents, UNNEST([{block_ids}]) t(b)
), {_jpeg_chain_ctes()}
SELECT doc_id,
       CAST({JPEG_W} AS BIGINT) AS width,
       CAST({JPEG_H} AS BIGINT) AS height,
       CAST({MJPEG_N_FRAMES} AS BIGINT) AS n_frames,
       CAST({len(sampled)} AS BIGINT) AS n_sampled,
       CAST(SUM(8 * vr) AS BIGINT) AS sum_v,
       CAST(SUM(8 * vr * vr) AS BIGINT) AS sum_sq
FROM fx GROUP BY doc_id
"""


@register(
    "multimodal_mjpeg_avi_roundtrip",
    oracle=_mjpeg_oracle(),
    doc="REAL video container + per-frame codec (r9): MJPEG-in-AVI — "
    "a genuine RIFF/AVI container (avih/strh/strf headers, 'movi' "
    "LIST of '00dc' chunks, word alignment) whose frames are our "
    "interchange-proven baseline JPEG files, plus TEMPORAL "
    "frame-sampling (keep every 2nd frame after the parse — the "
    "video form of the mandated frame-sample leg, now real). The "
    "decoder reads geometry/frame count from avih, requires a "
    "vids/MJPG stream (any inter-frame codec raises — the documented "
    "H.264 seam), decodes each sampled frame through the full JPEG "
    "parser and cross-checks dimensions and counts against the "
    "header. The oracle reuses the fixed-point JPEG closed form over "
    "the sampled (frame, block) instances, so parity proves container "
    "walk + per-frame lossy decode + sampling end-to-end. Plan: one "
    "fused mapInPandas, map-only, ZERO data-bearing shuffles beyond the narrow-key spread; sampling drops "
    "half the IDCT work, and at 100 TB video payloads are the widest "
    "rows so maxPartitionBytes sizes tasks. See "
    "operators/mjpeg_avi.py:parse_mjpeg_avi.",
)
def q_multimodal_mjpeg_avi_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.mjpeg_avi import (
        decode_mjpeg_features,
        encode_mjpeg_avi,
        synth_mjpeg_pixels,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_mjpeg_features(encode_mjpeg_avi(synth_mjpeg_pixels(docs)))


@register(
    "multimodal_jpeg_roundtrip",
    oracle=_jpeg_oracle(),
    doc="REAL LOSSY codec (r9): baseline sequential JPEG from the ITU "
    "T.81 spec — fixed-point integer DCT, Annex K luminance "
    "quantization, canonical Huffman entropy coding with 0xFF byte "
    "stuffing, genuine JFIF container (any viewer opens it). The "
    "decoder is a full baseline-grayscale parser: every table comes "
    "from the CONTAINER (DQT in zigzag order, Huffman rebuilt from "
    "DHT), EXTEND magnitude decode, dequantize, fixed-point IDCT. "
    "Because the codec defines its DCT as exact integer arithmetic "
    "(spec-legal — T.81 bounds accuracy, not implementation), the "
    "lossy reconstruction is bit-reproducible and the oracle computes "
    "it in closed form from the synth constants without seeing a JPEG "
    "byte: parity proves the entire DCT->quant->Huffman->container->"
    "parse->IDCT chain. The synth blocks carry nonzero AC "
    "coefficients at zigzag 1/6/15/28, so run-length coding is "
    "genuinely exercised on the graded path (not just DC+EOB). This "
    "retires the 'lossy codecs' NotImplementedError seam for images; "
    "only MP3/H.264 remain environment-stubbed. Plan: one fused "
    "mapInPandas, map-only, ZERO data-bearing shuffles beyond the narrow-key spread; DCT/IDCT are vectorized "
    "int64 numpy matmuls per payload batch. See "
    "operators/jpeg.py:parse_jpeg.",
)
def q_multimodal_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.jpeg import (
        decode_jpeg_features,
        encode_jpeg,
        synth_jpeg_pixels,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_jpeg_features(encode_jpeg(synth_jpeg_pixels(docs)))


@register(
    "multimodal_wav_decimate_real",
    oracle=_wav_decimate_oracle(4),
    doc="REAL audio frame-sampling, codec-free tier (r9): synth PCM16 "
    "-> real RIFF/WAVE encode -> PARSE the container (stdlib wave "
    "reader, header-validated), keep every 4th sample (decimation — "
    "the audio form of video frame-sampling), RE-ENCODE a genuine "
    "WAV at rate/4 -> the real feature decoder, which reads the NEW "
    "rate (2000) and frame count (256) from the re-encoded header. "
    "The oracle computes the decimated features analytically "
    "(UNNEST(range(0, 1024, 4))) and never sees a WAV byte — parity "
    "proves the parse->decimate->re-encode->parse chain bit-exact. "
    "Closes the 'frame-sample' leg of the mandated multimodal "
    "surface as REAL. Three stages fused into one mapInPandas, map-only, zero "
    "shuffles; decimation shrinks payloads ~4x. See "
    "operators/multimodal.py:decimate_wav.",
)
def q_multimodal_wav_decimate_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.multimodal import (
        decimate_wav,
        decode_wav_features,
        encode_wav,
        synth_pcm_samples,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_wav_features(
        decimate_wav(encode_wav(synth_pcm_samples(docs)), stride=4)
    )


def _adpcm_oracle() -> str:
    """Sequential-state oracle for the IMA ADPCM roundtrip — the first
    RECURSIVE-CTE oracle in the repo. ADPCM is a closed-loop adaptive
    codec: sample i's reconstruction depends on every nibble since the
    block header, so no per-sample CASE exists. Instead the oracle
    REPLAYS the fused encoder+decoder state machine (they share one
    predictor — the encoder quantizes against its own reconstruction):
    the recursion carries (pred, idx) per (doc, block), the seed is
    the block header (raw first sample, index 0), and each iteration
    applies the spec's successive-approximation quantizer + the
    reconstruction + the index adaptation, all in integer arithmetic.
    Blocks are independent (the encoder resets the index at each
    header), so recursion depth is ADPCM_SAMPLES_PER_BLOCK, not the
    payload length, and all (doc, block) chains advance in one
    parallel recursive step. tests/test_adpcm.py locks this SQL
    against the Python codec chain sample-for-sample."""
    from ds_mapreduce_spark.operators.adpcm import (
        ADPCM_INDEX_ADJ,
        ADPCM_SAMPLES_PER_BLOCK,
        ADPCM_STEP_TABLE,
    )
    from ds_mapreduce_spark.operators.multimodal import (
        PCM_A,
        PCM_B,
        WAV_N_SAMPLES,
        WAV_SAMPLE_RATE,
    )

    spb = ADPCM_SAMPLES_PER_BLOCK
    n_blocks = -(-WAV_N_SAMPLES // spb)
    steps = "[" + ",".join(map(str, ADPCM_STEP_TABLE)) + "]"
    idx_adj = (
        "CASE code "
        + " ".join(
            f"WHEN {c} THEN {adj}" for c, adj in enumerate(ADPCM_INDEX_ADJ)
        )
        + " END"
    )
    synth0 = f"(((doc_id % 65536) * {PCM_A} + s0 * {PCM_B}) % 65536) - 32768"
    synth_next = (
        f"((((doc_id % 65536) * {PCM_A} + (i + 1) * {PCM_B}) % 65536) - 32768)"
    )
    return f"""
WITH RECURSIVE blocks AS (
  SELECT doc_id, b * {spb} AS s0, LEAST({WAV_N_SAMPLES}, (b + 1) * {spb}) AS s1
  FROM documents, UNNEST(range(0, {n_blocks})) t(b)
), r AS (
  SELECT doc_id, s0 AS i, s1, {synth0} AS pred, 0 AS idx
  FROM blocks
  UNION ALL
  SELECT doc_id, i, s1,
         GREATEST(-32768, LEAST(32767,
             pred + CASE WHEN sgn = 1 THEN -dq ELSE dq END)) AS pred,
         GREATEST(0, LEAST(88, idx + {idx_adj})) AS idx
  FROM (
    SELECT *, b4 * 4 + b2 * 2 + b1 AS code,
           (st >> 3) + b4 * st + b2 * (st >> 1) + b1 * (st >> 2) AS dq
    FROM (
      SELECT *, CASE WHEN d2 >= (st >> 2) THEN 1 ELSE 0 END AS b1
      FROM (
        SELECT *, CASE WHEN d1 >= (st >> 1) THEN 1 ELSE 0 END AS b2,
               d1 - CASE WHEN d1 >= (st >> 1) THEN st >> 1 ELSE 0 END AS d2
        FROM (
          SELECT *, CASE WHEN ad >= st THEN 1 ELSE 0 END AS b4,
                 ad - CASE WHEN ad >= st THEN st ELSE 0 END AS d1
          FROM (
            SELECT doc_id, i + 1 AS i, s1, pred, idx,
                   list_extract({steps}, idx + 1) AS st,
                   CASE WHEN x < pred THEN 1 ELSE 0 END AS sgn,
                   ABS(x - pred) AS ad
            FROM (SELECT r.*, {synth_next} AS x
                  FROM r WHERE i + 1 < s1) z0
          ) z1 ) z2 ) z3 ) z4 ) z5
)
SELECT doc_id,
       CAST({WAV_SAMPLE_RATE} AS BIGINT) AS sample_rate,
       CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
       CAST(MAX(ABS(pred)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(pred)) AS BIGINT) AS sum_abs,
       CAST(SUM(pred * pred) AS BIGINT) AS sum_sq
FROM r GROUP BY doc_id
"""


@register(
    "multimodal_adpcm_roundtrip",
    oracle=_adpcm_oracle(),
    doc="REAL stateful-adaptive lossy AUDIO codec (r9): IMA/DVI ADPCM "
    "(WAV format 0x11) — 4 bits/sample with a backward-adaptive step "
    "size, a different codec CLASS from the memoryless G.711 row: "
    "every decoded sample depends on the whole nibble history since "
    "the block header. Genuine container (fmt extension with "
    "wSamplesPerBlock, fact chunk with the true count, 256-byte "
    "blocks: raw-int16 predictor + index header, low-nibble-first "
    "packing, zero padding), hand-parsed and validated field by "
    "field. Because the codec is all-integer, the lossy chain is "
    "exactly reproducible, and the oracle replays the fused "
    "encoder+decoder state machine as a DuckDB RECURSIVE CTE — the "
    "repo's first sequential-state oracle — so parity proves the "
    "encode -> container -> parse -> decode chain bit-for-bit "
    "(tests/test_adpcm.py locks the SQL against the Python codec "
    "sample-for-sample, plus quantizer brute-force over every step "
    "index). The per-block index reset makes blocks decode-"
    "independent — the audio analog of JPEG restart intervals: the "
    "intra-payload parallelism seam at 100 TB. Plan: one fused "
    "mapInPandas, map-only, zero data-bearing shuffles beyond the "
    "narrow-key spread; 4-bit packing is the cheapest "
    "executor->Python transfer in the audio family. See "
    "operators/adpcm.py.",
)
def q_multimodal_adpcm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.adpcm import (
        decode_adpcm_features,
        encode_adpcm,
    )
    from ds_mapreduce_spark.operators.multimodal import synth_pcm_samples

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_adpcm_features(encode_adpcm(synth_pcm_samples(docs)))


@register(
    "multimodal_flac_roundtrip",
    oracle=_wav_oracle(),
    doc="REAL lossless predictive AUDIO codec (r9): a FLAC stream "
    "(RFC 9639 subset) implemented from the spec at the bit level — "
    "the fourth entropy-coding family (RICE/GOLOMB, after Huffman/"
    "LZW/DEFLATE) and the fourth audio codec class (predictive "
    "lossless, after raw PCM, memoryless mu-law, adaptive ADPCM). "
    "fLaC magic + STREAMINFO (incl. the spec's 16-byte MD5 of the "
    "unencoded PCM, which the decoder verifies against what it "
    "reconstructed — the container's OWN lossless proof), frame "
    "headers with the 14-bit sync, code tables, UTF-8-style frame "
    "numbers and a checked CRC-8, FIXED predictors orders 0-2 chosen "
    "per frame by minimal encoded bits, 4-bit Rice residuals with "
    "the raw-width escape, frame CRC-16. Lossless, so the oracle is "
    "the same analytic PCM formula as multimodal_wav_roundtrip — "
    "parity proves predict -> Rice -> bitpack -> container -> parse "
    "-> reconstruct is the identity on every sample (the PNG/DEFLATE "
    "precedent, entropy-coding edition); tests/test_flac.py locks "
    "the CRC polynomials, coded-number widths, compression on "
    "low-entropy signals, and the tamper paths. Plan: one fused "
    "mapInPandas, map-only, zero data-bearing shuffles beyond the "
    "narrow-key spread; frames are decode-independent after "
    "STREAMINFO (the JPEG-restart / ADPCM-block parallelism seam). "
    "See operators/flac.py.",
)
def q_multimodal_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.flac import (
        decode_flac_features,
        encode_flac,
    )
    from ds_mapreduce_spark.operators.multimodal import synth_pcm_samples

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_flac_features(encode_flac(synth_pcm_samples(docs)))


def _animgif_oracle() -> str:
    """Composed-frame oracle for the animated-GIF roundtrip: replays
    the closed-form animation (static background + moving block) and
    palette-maps every pixel of every composed frame — it never sees a
    GIF byte, so parity proves the delta-extraction -> LZW ->
    container -> parse -> composition chain reproduced every canvas."""
    from ds_mapreduce_spark.operators.animgif import (
        _BX_MOD,
        _BY_MOD,
        ANIM_BLOCK,
        ANIM_FRAMES,
        ANIM_VMOD,
    )
    from ds_mapreduce_spark.operators.gif import (
        GIF_H,
        GIF_PAL_B_OFF,
        GIF_PAL_G_OFF,
        GIF_W,
    )
    from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B

    n = GIF_W * GIF_H
    return f"""
WITH px AS (
  SELECT doc_id, t, i,
         i % {GIF_W} AS x, i // {GIF_W} AS y,
         (doc_id + t * 3) % {_BX_MOD} AS bx,
         ((doc_id // 7) + t * 2) % {_BY_MOD} AS by
  FROM documents,
       UNNEST(range(0, {ANIM_FRAMES})) f(t),
       UNNEST(range(0, {n})) p(i)
), v AS (
  SELECT doc_id, t,
         CASE WHEN x >= bx AND x < bx + {ANIM_BLOCK}
               AND y >= by AND y < by + {ANIM_BLOCK}
              THEN ((doc_id % 256) * {PCM_B}
                    + (t * 1000 + (y - by) * {ANIM_BLOCK} + (x - bx))
                      * {PCM_A}) % {ANIM_VMOD}
              ELSE ((doc_id % 256) * {PCM_A} + i * {PCM_B}) % {ANIM_VMOD}
         END AS v
  FROM px
)
SELECT doc_id,
       CAST(t AS BIGINT) AS frame_id,
       CAST({GIF_W} AS BIGINT) AS width,
       CAST({GIF_H} AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS sum_r,
       CAST(SUM((v + {GIF_PAL_G_OFF}) % 256) AS BIGINT) AS sum_g,
       CAST(SUM((v + {GIF_PAL_B_OFF}) % 256) AS BIGINT) AS sum_b
FROM v GROUP BY doc_id, t
"""


@register(
    "multimodal_animgif_roundtrip",
    oracle=_animgif_oracle(),
    doc="REAL temporal video compression (r9): ANIMATED GIF89a with "
    "transparency-masked delta frames — the inter-frame coding class "
    "MJPEG lacks (it stores every frame independently). Frame 0 is "
    "stored full; every later frame is the bounding rectangle of the "
    "pixels that ACTUALLY changed (computed from the rasters, not "
    "the formula), unchanged pixels masked by the reserved "
    "transparent index, composited by the do-not-dispose disposal "
    "method — the gifsicle optimization, in the standard container "
    "every browser plays (NETSCAPE2.0 loop extension, per-frame GCE, "
    "offset image descriptors, the shared hand-written LZW). The "
    "decoder parses and COMPOSES, validating GCE structure, subset "
    "disposal, sub-rectangle bounds, and first-frame opacity; "
    "features are per-COMPOSED-frame palette-mapped channel sums, so "
    "parity against the analytic composed-frame oracle proves the "
    "whole delta->LZW->container->composition chain (a wrong "
    "rectangle or mis-masked pixel shifts some frame's sums). "
    "Payload bytes scale with MOTION, not frame count (4.3x under "
    "6 independent frames, pinned in tests/test_animgif.py) — the "
    "storage economics that make temporal coding matter at 100 TB; "
    "composition chains frames WITHIN a payload (the inter-frame "
    "seam's defining cost) while payloads stay independent rows. "
    "Plan: one fused mapInPandas, map-only, zero data-bearing "
    "shuffles beyond the narrow-key spread. See operators/animgif.py.",
)
def q_multimodal_animgif_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ds_mapreduce_spark.operators.animgif import (
        decode_animgif_features,
        encode_animgif,
        synth_anim_frames,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_animgif_features(encode_animgif(synth_anim_frames(docs)))


def _mdct_oracle() -> str:
    """Fused encoder+decoder replay for the MDCT roundtrip, as FLAT SQL
    (no recursion — unlike ADPCM, the lapped transform has no
    cross-frame state; granules are independent by construction). The
    pipeline: closed-form synth samples -> forward MDCT as a join
    against the shared 16x32 constant table -> per-(granule, band)
    scalefactor as MIN-e-satisfying-all (BOOL_AND over the granule's
    frames, monotone in e so filtered MIN = first-true) -> half-away-
    from-zero quantize + clamp -> dequantize -> inverse transform with
    the SAME table -> overlap-add the two frames covering each sample
    -> scale, clamp, aggregate features. Payload bytes are priced
    closed-form: signed exp-Golomb length = 2*bitlength(zigzag(q)+1)-1
    (LENGTH(bin(u+1)) on both engines), 64 scalefactor bits + byte
    padding + CRC byte per granule, 12 header bytes. The oracle never
    sees a payload byte, so parity proves the whole encode ->
    container -> parse -> decode chain INCLUDING the bit-level entropy
    coder. tests/test_mdct.py locks this SQL against the Python codec
    sample-for-sample and byte-for-byte."""
    shared, mlt1_tail = _mdct_oracle_parts()
    return shared + mlt1_tail


def _mdct_oracle_parts() -> tuple[str, str]:
    """-> (the shared CTE chain px..recon/bits, the MLT1-specific
    pricing tail). `_mp3_oracle` reuses the shared chain with its own
    MPEG-frame pricing tail."""
    from ds_mapreduce_spark.operators.mdct import (
        MDCT_BASE_STEPS,
        MDCT_COEF,
        MDCT_CSHIFT,
        MDCT_EMAX,
        MDCT_GRANULE,
        MDCT_N,
        MDCT_QMAX,
        MDCT_WIN,
    )
    from ds_mapreduce_spark.operators.multimodal import (
        PCM_A,
        PCM_B,
        WAV_N_SAMPLES,
        WAV_SAMPLE_RATE,
    )

    t_frames = WAV_N_SAMPLES // MDCT_N + 1
    coef = ",".join(str(c) for row in MDCT_COEF for c in row)
    base = ",".join(map(str, MDCT_BASE_STEPS))
    cs = MDCT_CSHIFT
    half, div = 1 << (cs + 2), 1 << (cs + 3)
    shared = f"""
WITH px AS (
  SELECT doc_id, i,
         (((doc_id % 65536) * {PCM_A} + i * {PCM_B}) % 65536) - 32768 AS x
  FROM documents, UNNEST(range(0, {WAV_N_SAMPLES})) s(i)
), cf AS (
  SELECT j // {MDCT_WIN} AS k, j % {MDCT_WIN} AS n,
         list_extract([{coef}], j + 1)::BIGINT AS c
  FROM UNNEST(range(0, {MDCT_N * MDCT_WIN})) t(j)
), fa AS (
  SELECT p.doc_id, f.t, cf.k, SUM(p.x * cf.c) AS a,
         list_extract([{base}], cf.k + 1)::BIGINT AS b
  FROM UNNEST(range(0, {t_frames})) f(t)
  CROSS JOIN cf
  JOIN px p ON p.i = {MDCT_N} * (f.t - 1) + cf.n
  GROUP BY p.doc_id, f.t, cf.k
), sc AS (
  SELECT doc_id, gr, k, COALESCE(MIN(e) FILTER (WHERE ok), {MDCT_EMAX}) AS e
  FROM (
    SELECT doc_id, t // {MDCT_GRANULE} AS gr, k, g.e,
           BOOL_AND((ABS(a) + (b << ({cs} + g.e)) // 2)
                    // (b << ({cs} + g.e)) <= {MDCT_QMAX}) AS ok
    FROM fa, UNNEST(range(0, {MDCT_EMAX})) g(e)
    GROUP BY doc_id, t // {MDCT_GRANULE}, k, g.e
  ) GROUP BY doc_id, gr, k
), q AS (
  SELECT fa.doc_id, fa.t, fa.k, fa.b << sc.e AS s,
         GREATEST(-{MDCT_QMAX}, LEAST({MDCT_QMAX},
           CASE WHEN fa.a >= 0
                THEN (fa.a + (fa.b << ({cs} + sc.e)) // 2)
                     // (fa.b << ({cs} + sc.e))
                ELSE -((-fa.a + (fa.b << ({cs} + sc.e)) // 2)
                       // (fa.b << ({cs} + sc.e))) END)) AS q
  FROM (SELECT *, t // {MDCT_GRANULE} AS gr FROM fa) fa
  JOIN sc ON sc.doc_id = fa.doc_id AND sc.gr = fa.gr AND sc.k = fa.k
), y AS (
  SELECT q.doc_id, {MDCT_N} * (q.t - 1) + cf.n AS j, SUM(q.q * q.s * cf.c) AS y
  FROM q JOIN cf ON cf.k = q.k
  GROUP BY q.doc_id, {MDCT_N} * (q.t - 1) + cf.n
  HAVING j >= 0 AND j < {WAV_N_SAMPLES}
), recon AS (
  SELECT doc_id, j, GREATEST(-32768, LEAST(32767,
    CASE WHEN y >= 0 THEN (y + {half}) // {div}
         ELSE -((-y + {half}) // {div}) END)) AS r
  FROM y
), bits AS (
  SELECT doc_id, t // {MDCT_GRANULE} AS gr,
         {MDCT_N * 4} + SUM(2 * LENGTH(bin(
             CASE WHEN q >= 0 THEN 2 * q ELSE -2 * q - 1 END + 1)) - 1) AS fb
  FROM q GROUP BY doc_id, t // {MDCT_GRANULE}
)"""
    mlt1_tail = f""", pb AS (
  SELECT doc_id, 12 + SUM((fb + 7) // 8 + 1) AS payload_bytes
  FROM bits GROUP BY doc_id
)
SELECT doc_id,
       CAST({WAV_SAMPLE_RATE} AS BIGINT) AS sample_rate,
       CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
       CAST(MAX(ABS(r.r)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(r.r)) AS BIGINT) AS sum_abs,
       CAST(SUM(r.r * r.r) AS BIGINT) AS sum_sq,
       CAST(ANY_VALUE(pb.payload_bytes) AS BIGINT) AS payload_bytes
FROM recon r JOIN pb USING (doc_id)
GROUP BY doc_id
"""
    return shared, mlt1_tail


@register(
    "multimodal_mdct_roundtrip",
    oracle=_mdct_oracle(),
    doc="REAL perceptual-transform lossy AUDIO codec (r9): a windowed-"
    "MDCT subset of the MPEG audio family — the MP3/AAC codec CLASS, "
    "closing the second third of the JPEG/MP3/H.264 seam. All three "
    "defining mechanisms are implemented from the published math: a "
    "32-sample sine-windowed LAPPED transform with 50% overlap "
    "(Princen-Bradley TDAC — each output sample overlap-adds two "
    "frames, the anti-blocking property block-DCT JPEG lacks), MPEG "
    "Layer-I/II BLOCK COMPANDING (a 4-bit per-band-per-granule "
    "scalefactor, the smallest e keeping the granule's coefficients "
    "in 6 bits), and signed exp-Golomb ENTROPY CODING (the fifth "
    "entropy family after Huffman/LZW/DEFLATE/Rice). All arithmetic "
    "is integer fixed-point, so the lossy chain is bit-exactly "
    "reproducible and the flat-SQL oracle replays the fused "
    "encoder+decoder — transform as a constant-table join, "
    "scalefactor as MIN-e-satisfying-all, payload bytes closed-form "
    "from exp-Golomb code lengths — proving encode -> container -> "
    "parse -> decode including the bit-level coder (payload_bytes is "
    "a graded column). Container: MLT1 header + CRC-8-framed "
    "independent granules (the parallelism seam: a 100 TB corpus "
    "splits one payload's granules across tasks). ~0.73x of raw "
    "PCM16 at <500 LSB max error on this corpus — real "
    "rate-distortion, priced against the lossless WAV row by the "
    "shared schema. Plan: one fused mapInPandas, map-only, zero "
    "data-bearing shuffles beyond the narrow-key spread. See "
    "operators/mdct.py.",
)
def q_multimodal_mdct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.mdct import (
        decode_mdct_features,
        encode_mdct,
    )
    from ds_mapreduce_spark.operators.multimodal import synth_pcm_samples

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_mdct_features(encode_mdct(synth_pcm_samples(docs)))


def _mcv_oracle() -> str:
    """Fused encoder+decoder replay for the motion-compensated video
    roundtrip — a RECURSIVE-CTE oracle like ADPCM's, but carrying a
    whole reconstructed FRAME per step instead of a scalar state pair.
    The anchor intra-decodes frame 0 (level shift -> the shared
    fixed-point DCT as two constant-table join passes -> flat quantize
    -> dequantize -> two inverse passes -> clamp); each recursive step
    replays block matching against the previous reconstruction (all
    in-picture displacements, windowed SAD, RANK() argmin with the
    format's (sad, dy, dx) tie-break), the residual DCT chain, and the
    reconstruction, emitting the next frame's pixels. Per-block coded
    bits are priced closed-form (exp-Golomb lengths + the 1-bit
    zero-residual flag + se(v) motion vectors), attached to each
    block's first pixel and summed per frame — so frame_bytes grades
    the syntax coder byte-for-byte without the oracle ever seeing a
    payload byte. The DCT constants come from operators/jpeg.DCT_T
    (one-place rule); tests/test_mcv.py locks this SQL against the
    Python codec chain feature-for-feature."""
    from ds_mapreduce_spark.operators.jpeg import DCT_T
    from ds_mapreduce_spark.operators.mcv import (
        MCV_FRAMES,
        MCV_H,
        MCV_QI,
        MCV_QP,
        MCV_SEARCH,
        MCV_VX,
        MCV_VY,
        MCV_W,
    )
    from ds_mapreduce_spark.operators.multimodal import PCM_A, PCM_B

    tflat = ",".join(str(DCT_T[u][x]) for u in range(8) for x in range(8))
    db = 8192  # descale denominator 2^DCT_BITS
    r_ = MCV_SEARCH
    side = 2 * r_ + 1

    def da(x: str, m: int) -> str:
        return (
            f"CASE WHEN ({x}) >= 0 THEN (2*({x}) + {m}) // {2 * m} "
            f"ELSE -((2*(-({x})) + {m}) // {2 * m}) END"
        )

    def cur(t: str, x: str, y: str) -> str:
        return (
            f"((doc_id % 256) * {PCM_A} + (((({y}) + {MCV_VY} * ({t})) % {MCV_H})"
            f" * {MCV_W} + ((({x}) + {MCV_VX} * ({t})) % {MCV_W})) * {PCM_B}) % 256"
        )

    def ulen(q: str) -> str:
        return (
            f"(2 * LENGTH(bin((CASE WHEN ({q}) >= 0 THEN 2*({q}) "
            f"ELSE -2*({q})-1 END) + 1)) - 1)"
        )

    def dct_chain(src: str, step: int) -> str:
        """src(doc_id, blk, yy, xx, val) -> f1(doc_id, blk, yy, xx, fv)
        + bits1(doc_id, blk, bb): forward two passes, flat quantize,
        closed-form code bits (1-bit zero flag + 64 ue codes unless all
        zero), dequantize, inverse two passes."""
        return f"""g1 AS (
      SELECT doc_id, blk, yy, tt.u AS uu, {da('SUM(val * tt.tv)', db)} AS gv
      FROM {src} JOIN tt ON tt.x = xx GROUP BY doc_id, blk, yy, tt.u
    ), h1 AS (
      SELECT doc_id, blk, tt.u AS vv, uu, {da('SUM(gv * tt.tv)', db)} AS hv
      FROM g1 JOIN tt ON tt.x = yy GROUP BY doc_id, blk, tt.u, uu
    ), q1 AS (
      SELECT doc_id, blk, vv, uu, {da('hv', step)} AS qv FROM h1
    ), bits1 AS (
      SELECT doc_id, blk,
             1 + CASE WHEN BOOL_OR(qv != 0)
                      THEN SUM({ulen('qv')}) ELSE 0 END AS bb
      FROM q1 GROUP BY doc_id, blk
    ), gi1 AS (
      SELECT doc_id, blk, tt.x AS yy, uu, {da(f'SUM(qv * {step} * tt.tv)', db)} AS gv
      FROM q1 JOIN tt ON tt.u = vv GROUP BY doc_id, blk, tt.x, uu
    ), f1 AS (
      SELECT doc_id, blk, yy, tt.x AS xx, {da('SUM(gv * tt.tv)', db)} AS fv
      FROM gi1 JOIN tt ON tt.u = uu GROUP BY doc_id, blk, yy, tt.x
    )"""

    return f"""
WITH RECURSIVE tt AS (
  SELECT j // 8 AS u, j % 8 AS x, list_extract([{tflat}], j + 1)::BIGINT AS tv
  FROM UNNEST(range(0, 64)) t(j)
), bl AS (
  SELECT b AS blk, (b % {MCV_W // 8}) * 8 AS bx0, (b // {MCV_W // 8}) * 8 AS by0
  FROM UNNEST(range(0, {(MCV_W // 8) * (MCV_H // 8)})) t(b)
), r(doc_id, t, i, v, bits_px, mv_px) AS (
  SELECT fb.doc_id, 0 AS t,
         (bl.by0 + fb.yy) * {MCV_W} + bl.bx0 + fb.xx AS i,
         LEAST(255, GREATEST(0, fb.fv + 128)) AS v,
         CASE WHEN fb.yy = 0 AND fb.xx = 0 THEN fb.bb ELSE 0 END AS bits_px,
         0 AS mv_px
  FROM (
    WITH px AS (
      SELECT d.doc_id, bl.blk, p.p // 8 AS yy, p.p % 8 AS xx,
             ({cur('0', 'bl.bx0 + (p.p % 8)', 'bl.by0 + (p.p // 8)')}) - 128 AS val
      FROM documents d, bl, UNNEST(range(0, 64)) p(p)
    ), {dct_chain('px', MCV_QI)}
    SELECT f1.doc_id, f1.blk, f1.yy, f1.xx, f1.fv, bits1.bb
    FROM f1 JOIN bits1 USING (doc_id, blk)
  ) fb JOIN bl ON bl.blk = fb.blk
  UNION ALL
  SELECT fb.doc_id, fb.t1 AS t,
         (bl.by0 + fb.yy) * {MCV_W} + bl.bx0 + fb.xx AS i,
         LEAST(255, GREATEST(0, fb.pred + fb.fv)) AS v,
         CASE WHEN fb.yy = 0 AND fb.xx = 0 THEN fb.bb + fb.mvbits ELSE 0 END
           AS bits_px,
         CASE WHEN fb.yy = 0 AND fb.xx = 0 THEN fb.mvabs ELSE 0 END AS mv_px
  FROM (
    WITH prev AS (
      SELECT doc_id, t, i, v FROM r WHERE t + 1 < {MCV_FRAMES}
    ), cand AS (
      SELECT p.doc_id, p.t + 1 AS t1, bl.blk, c.dy, c.dx,
             pos.p // 8 AS yy, pos.p % 8 AS xx,
             ({cur('p.t + 1', 'bl.bx0 + (pos.p % 8)', 'bl.by0 + (pos.p // 8)')})
               AS cur,
             p.v AS pv
      FROM bl
      JOIN (SELECT (c.c // {side}) - {r_} AS dy, (c.c % {side}) - {r_} AS dx
            FROM UNNEST(range(0, {side * side})) c(c)) c
        ON bl.by0 + c.dy >= 0 AND bl.by0 + c.dy + 8 <= {MCV_H}
       AND bl.bx0 + c.dx >= 0 AND bl.bx0 + c.dx + 8 <= {MCV_W}
      CROSS JOIN UNNEST(range(0, 64)) pos(p)
      JOIN prev p
        ON p.i = (bl.by0 + c.dy + pos.p // 8) * {MCV_W}
                 + bl.bx0 + c.dx + (pos.p % 8)
    ), sadded AS (
      SELECT *, SUM(ABS(cur - pv)) OVER (PARTITION BY doc_id, blk, dy, dx)
               AS sad
      FROM cand
    ), ranked AS (
      SELECT *, RANK() OVER (PARTITION BY doc_id, blk ORDER BY sad, dy, dx)
               AS rk
      FROM sadded
    ), best AS (
      SELECT doc_id, t1, blk, dy, dx, yy, xx, pv AS pred, cur - pv AS val
      FROM ranked WHERE rk = 1
    ), {dct_chain('best', MCV_QP)}
    SELECT f1.doc_id, b.t1, f1.blk, f1.yy, f1.xx, f1.fv, b.pred,
           bits1.bb,
           {ulen('b.dx')} + {ulen('b.dy')} AS mvbits,
           ABS(b.dx) + ABS(b.dy) AS mvabs
    FROM f1
    JOIN best b USING (doc_id, blk, yy, xx)
    JOIN bits1 USING (doc_id, blk)
  ) fb JOIN bl ON bl.blk = fb.blk
)
SELECT doc_id,
       CAST(t AS BIGINT) AS frame_id,
       CAST({MCV_W} AS BIGINT) AS width,
       CAST({MCV_H} AS BIGINT) AS height,
       CAST(SUM(v) AS BIGINT) AS sum_v,
       CAST(SUM(v * v) AS BIGINT) AS sum_sq_v,
       CAST(SUM(mv_px) AS BIGINT) AS sum_abs_mv,
       CAST((SUM(bits_px) + 7) // 8 + 1 AS BIGINT) AS frame_bytes
FROM r GROUP BY doc_id, t
"""


@register(
    "multimodal_mcv_roundtrip",
    oracle=_mcv_oracle(),
    doc="REAL hybrid motion-compensated transform VIDEO codec (r9): "
    "the H.261->MPEG->H.264 class, closing the last third of the "
    "JPEG/MP3/H.264 seam. All four defining mechanisms: exhaustive "
    "full-pel block-matching MOTION ESTIMATION (+/-3 window, "
    "minimum-SAD with a (sad,dy,dx) tie-break that is part of the "
    "format), CLOSED-LOOP motion-compensated prediction from the "
    "encoder's own reconstruction (2-D analog of ADPCM's predictor "
    "discipline), TRANSFORM-CODED residuals through the shared "
    "fixed-point JPEG DCT with flat half-away quantization (intra "
    "frame 0 = random-access point), and H.264-STYLE SYNTAX — se(v) "
    "motion vectors, ue(v) coefficients, a 1-bit zero-residual flag "
    "per block (the skip/CBP economics: a perfectly predicted block "
    "costs its vector plus one bit). All-integer, so the oracle "
    "replays the fused encoder+decoder as a recursive CTE that "
    "carries the reconstructed FRAME: block matching as windowed SAD "
    "+ RANK argmin, the residual DCT as constant-table joins, coded "
    "bytes priced closed-form — parity proves motion search, "
    "prediction, transform, entropy coding, container framing and "
    "reconstruction, byte-for-byte, without the oracle seeing a "
    "payload byte. The scene scrolls toroidally, so interior blocks "
    "prove the search finds true motion while edge blocks (which "
    "cannot reach the displacement in-picture) exercise the full "
    "residual path every frame. CRC-8-framed frames; prediction "
    "chains frames WITHIN a payload (the inter-coding seam, as "
    "animgif), payloads stay independent rows. Plan: one fused "
    "mapInPandas, map-only, zero data-bearing shuffles beyond the "
    "narrow-key spread. See operators/mcv.py.",
)
def q_multimodal_mcv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ds_mapreduce_spark.operators.mcv import (
        decode_mcv_features,
        encode_mcv,
        synth_scroll_frames,
    )

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_mcv_features(encode_mcv(synth_scroll_frames(docs)))


def _mp3_oracle() -> str:
    """MPEG-frame pricing on the shared MDCT replay chain: per granule
    the coded bytes gb = (fb+7)//8 + 1 (the SAME closed-form exp-Golomb
    pricing the MLT1 oracle grades), then the Layer-III frame-length
    rule 144000*kbps // 44100 + padding over the published bitrate
    table, with the VBR first-fit choice replayed as MIN(2*index +
    padding) over satisfying candidates (index ascending dominates:
    table indices are consecutive). Container bytes add the ID3v2.3
    tag (closed-form size) and every frame's chosen length — so parity
    grades the header-table choice, the padding bits, and the byte
    stream end-to-end without the oracle seeing a payload byte."""
    from ds_mapreduce_spark.operators.mpeg_audio import (
        MP3_BITRATES,
        MP3_FRAME_SAMPLES,
        MP3_SAMPLE_RATE,
        id3_tag_bytes,
    )
    from ds_mapreduce_spark.operators.multimodal import WAV_N_SAMPLES

    shared, _ = _mdct_oracle_parts()
    br_rows = ",".join(
        f"({i},{k})" for i, k in enumerate(MP3_BITRATES) if k
    )
    id3 = id3_tag_bytes(WAV_N_SAMPLES)
    return f"""{shared}, gb AS (
  SELECT doc_id, gr, (fb + 7) // 8 + 1 AS gb FROM bits
), br(i, kbps) AS (
  SELECT * FROM (VALUES {br_rows})
), pick AS (
  SELECT gb.doc_id, gb.gr, MIN(2 * br.i + p.p) AS sel
  FROM gb CROSS JOIN br CROSS JOIN (SELECT UNNEST(range(0, 2)) AS p) p
  WHERE 144000 * br.kbps // {MP3_SAMPLE_RATE} + p.p >= gb.gb + 4
  GROUP BY gb.doc_id, gb.gr
), fr AS (
  SELECT p.doc_id, p.gr, br.kbps, p.sel % 2 AS pad,
         144000 * br.kbps // {MP3_SAMPLE_RATE} + p.sel % 2 AS flen
  FROM pick p JOIN br ON br.i = p.sel // 2
), fm AS (
  SELECT doc_id, COUNT(*) AS nf, SUM(kbps) AS skbps,
         SUM(pad) AS npad, SUM(flen) AS fbytes
  FROM fr GROUP BY doc_id
)
SELECT doc_id,
       CAST(ANY_VALUE(fm.nf) AS BIGINT) AS n_frames,
       CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
       CAST({MP3_SAMPLE_RATE} AS BIGINT) AS declared_hz,
       CAST(ANY_VALUE(fm.nf) * {MP3_FRAME_SAMPLES} * 1000
            // {MP3_SAMPLE_RATE} AS BIGINT) AS duration_ms,
       CAST(ANY_VALUE(fm.skbps) AS BIGINT) AS sum_bitrate_kbps,
       CAST(ANY_VALUE(fm.npad) AS BIGINT) AS n_padded,
       CAST({id3} + ANY_VALUE(fm.fbytes) AS BIGINT) AS container_bytes,
       CAST(MAX(ABS(r.r)) AS BIGINT) AS peak_abs,
       CAST(SUM(ABS(r.r)) AS BIGINT) AS sum_abs,
       CAST(SUM(r.r * r.r) AS BIGINT) AS sum_sq
FROM recon r JOIN fm USING (doc_id)
GROUP BY doc_id
"""


@register(
    "multimodal_mp3_framing_roundtrip",
    oracle=_mp3_oracle(),
    doc="REAL MPEG-audio FRAME SYNTAX (r11): retires the MPEG-framing "
    "half of the container seam the r9 codec round left stubbed "
    "(operators/multimodal.py). The MDCT row (r9) implemented the "
    "MP3-class signal path; this row wraps the SAME coded granules in "
    "the actual ISO 11172-3 byte syntax: an ID3v2.3 leading tag with "
    "a SYNCSAFE 28-bit size and a TXXX sample-count frame, then one "
    "MPEG-1 Layer III frame per granule — 11-bit sync, version/layer/"
    "protection bits, the published 4-bit BITRATE TABLE, the 2-bit "
    "sampling-rate index, and the PADDING bit, with the frame-length "
    "rule 144000*kbps//44100+padding (44100 chosen precisely because "
    "the division truncates, making the padding bit load-bearing). "
    "The encoder is VBR: each frame independently first-fits the "
    "smallest (bitrate index, padding) that holds its granule — so "
    "the header census (sum_bitrate_kbps, n_padded, container_bytes) "
    "is data-dependent and the oracle replays the choice as a MIN "
    "over the candidate table on top of the SHARED MDCT replay chain. "
    "The decoder validates every header field, each granule's CRC-8, "
    "zero slack bytes, and exact stream end, then reconstructs the "
    "audio through the shared synthesis path — graded sample-exactly "
    "alongside the byte census. Plan: identical map-only shape to the "
    "MDCT row (narrow-key spread -> one fused Arrow mapInPandas, zero "
    "data-bearing shuffles); frames are decode-independent after the "
    "tag, the splittability property real distributed MP3 ingest "
    "relies on. See operators/mpeg_audio.py.",
)
def q_multimodal_mp3_framing_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ds_mapreduce_spark.operators.mpeg_audio import (
        decode_mp3_features,
        encode_mp3,
    )
    from ds_mapreduce_spark.operators.multimodal import synth_pcm_samples

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_mp3_features(encode_mp3(synth_pcm_samples(docs)))


def _annexb_oracle() -> str:
    """Annex-B byte-stream pricing over the MCV replay: the recursive
    MCV oracle (nested as a derived table — frame bytes, pixel sums,
    motion budgets) aggregates per doc; the SEI record's emulation-
    prevention insertions are replayed CLOSED-FORM by a gaps-and-
    islands scan over the record's 20 generated bytes (u64 doc_id +
    u32 frame count/width/height, big-endian): within a maximal run of
    k zero bytes the escape rule inserts (k-1)//2 threes, plus one
    more when the run has even residue and the terminating byte is
    <= 0x03 — exactly the scanner in operators/annexb.py:ebsp_escape.
    Frame NALs provably never need escaping (exp-Golomb codes bound
    in-NAL zero runs below 16 bits; the rbsp trailing byte 0x80
    terminates the one longer run alignment+CRC can build), and the
    SPS/PPS insertions are compile-time constants — so container_bytes
    is graded byte-for-byte against a replay that never sees the
    stream."""
    from ds_mapreduce_spark.operators.annexb import (
        ebsp_escape,
        write_pps,
        write_sei,
        write_sps,
    )
    from ds_mapreduce_spark.operators.mcv import MCV_FRAMES, MCV_H, MCV_W

    sps, pps = write_sps(MCV_W, MCV_H), write_pps()
    sei_rbsp = write_sei(0, MCV_FRAMES, MCV_W, MCV_H)
    const_emu = (len(ebsp_escape(sps)) - len(sps)) + (
        len(ebsp_escape(pps)) - len(pps)
    )
    n_nals = 3 + MCV_FRAMES
    start_bytes = 4 * 4 + 3 * (MCV_FRAMES - 1)
    const_rbsp = len(sps) + len(pps) + len(sei_rbsp)
    mcv = _mcv_oracle()
    return f"""
WITH agg AS (
  SELECT doc_id, SUM(frame_bytes) AS fb, SUM(sum_v) AS sv,
         SUM(sum_sq_v) AS ssv, SUM(sum_abs_mv) AS smv
  FROM ({mcv}) mcv GROUP BY doc_id
), sei AS (
  SELECT d.doc_id, b.j,
         CASE
           WHEN b.j < 8  THEN (d.doc_id >> (8 * (7 - b.j))) & 255
           WHEN b.j < 12 THEN ({MCV_FRAMES} >> (8 * (11 - b.j))) & 255
           WHEN b.j < 16 THEN ({MCV_W} >> (8 * (15 - b.j))) & 255
           ELSE               ({MCV_H} >> (8 * (19 - b.j))) & 255
         END AS byte
  FROM documents d, UNNEST(range(0, 20)) b(j)
), runs AS (
  SELECT doc_id, grp, COUNT(*) AS k, MAX(j) AS jmax
  FROM (SELECT doc_id, j,
               j - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY j) AS grp
        FROM sei WHERE byte = 0)
  GROUP BY doc_id, grp
), emu AS (
  SELECT r.doc_id,
         SUM((r.k - 1) // 2
             + CASE WHEN r.k >= 2 AND r.k % 2 = 0
                         AND COALESCE(nxt.byte, 128) <= 3
                    THEN 1 ELSE 0 END) AS e
  FROM runs r
  LEFT JOIN sei nxt ON nxt.doc_id = r.doc_id AND nxt.j = r.jmax + 1
  GROUP BY r.doc_id
)
SELECT doc_id,
       CAST({n_nals} AS BIGINT) AS n_nals,
       CAST(1 AS BIGINT) AS n_idr,
       CAST({MCV_W} AS BIGINT) AS sps_width,
       CAST({MCV_H} AS BIGINT) AS sps_height,
       CAST(doc_id AS BIGINT) AS sei_doc_id,
       CAST({const_rbsp} + a.fb + {MCV_FRAMES} AS BIGINT) AS sum_rbsp_bytes,
       CAST({const_emu} + COALESCE(emu.e, 0) AS BIGINT) AS emu_bytes,
       CAST({start_bytes + n_nals + const_rbsp + const_emu} + a.fb
            + {MCV_FRAMES} + COALESCE(emu.e, 0) AS BIGINT) AS container_bytes,
       CAST(a.sv AS BIGINT) AS sum_v_total,
       CAST(a.ssv AS BIGINT) AS sum_sq_v_total,
       CAST(a.smv AS BIGINT) AS sum_abs_mv_total
FROM agg a LEFT JOIN emu USING (doc_id)
"""


@register(
    "multimodal_h264_annexb_roundtrip",
    oracle=_annexb_oracle(),
    doc="REAL H.264 Annex-B BYTE-STREAM SYNTAX (r11): retires the "
    "NAL-syntax half of the container seam the r9 codec round left "
    "stubbed (operators/multimodal.py). The MCV row (r9) implemented "
    "the H.264-class signal path; this row wraps those coded frames "
    "in the actual ITU-T H.264 byte-stream syntax: 4-/3-byte START "
    "CODES with a sequential validated scan, NAL headers (0x67 SPS, "
    "0x68 PPS, 0x06 SEI, 0x65 IDR, 0x41 non-IDR — the bytes any "
    "hex dump shows), EMULATION PREVENTION (0x03 insertion before "
    "00 00 0x, stripped and policed on parse), rbsp_trailing_bits "
    "(the spec's guarantee that a NAL never ends in 0x00, which is "
    "what keeps trailing bytes from merging with the next start "
    "code), a REAL SPS/PPS written and parsed with the shared "
    "exp-Golomb coder — the 24x16 picture signalled as 2x1 "
    "macroblocks with frame cropping, H.264's actual arithmetic for "
    "non-multiple-of-16 sizes, so the decoder's width/height are "
    "PARSED, not assumed — and an SEI user_data_unregistered record "
    "(u64 doc_id + geometry, big-endian) whose leading zero bytes "
    "are where emulation prevention FIRES data-dependently (small "
    "doc_ids escape more — x264 streams get their emulation sites "
    "from exactly this kind of SEI metadata). The oracle nests the "
    "recursive MCV replay and replays the escape scan closed-form "
    "(gaps-and-islands over the generated record bytes), grading "
    "sei_doc_id, the inserted-0x03 census, and container_bytes "
    "byte-for-byte; decode reassembles the MCV1 container from "
    "parsed geometry and re-validates every frame CRC, so the pixel "
    "features grade the whole wrap -> escape -> scan -> unescape -> "
    "parse -> decode chain. Plan: synth, encode, wrap and decode fused into "
    "one map-only Arrow mapInPandas on the narrow-key spread, zero data-bearing shuffles; the "
    "start-code scan is the property that makes H.264 elementary "
    "streams SPLITTABLE at 100 TB. See operators/annexb.py.",
)
def q_multimodal_h264_annexb_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ds_mapreduce_spark.operators.annexb import (
        decode_annexb_features,
        wrap_annexb_df,
    )
    from ds_mapreduce_spark.operators.mcv import encode_mcv, synth_scroll_frames

    docs = _doc_ids_spread(spark, sf_dir)
    return decode_annexb_features(
        wrap_annexb_df(encode_mcv(synth_scroll_frames(docs)))
    )
