"""Multimodal-column queries (SURVEY.md §2.2 LLM-ext multimodal row).

DuckDB's blob surface is narrower than Spark's (no md5(BLOB), no
substring(BLOB)), so oracles compute the same values from the text/
lengths — the equality is on VALUES, proving Spark's binary plumbing
produces the right answers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    FRAME_BYTES,
    extract_features,
    frames_col,
    sample_frames,
    to_binary_payload,
)
from ._util import t
from .registry import query


@query(
    "mm_binary_metadata", "multimodal",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           substring(lower(hex(encode(text))), 1, 8) AS magic_hex
    FROM documents
    """,
    description="binary payload column + typed metadata struct",
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = to_binary_payload(t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
        F.col("meta.magic_hex").alias("magic_hex"),
    )


@query(
    "mm_decode_features", "multimodal",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) % 640 AS width,
           (octet_length(encode(text)) * 7) % 480 AS height,
           CAST(3 AS BIGINT) AS channels,
           CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_byte
    FROM documents
    """,
    description="mapInPandas decode stage (deterministic fake codec)",
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(to_binary_payload(t(spark, sf_dir, "documents")))


@query(
    "mm_frame_sample", "multimodal",
    oracle=f"""
    SELECT doc_id,
           CAST(ceil(length(text) / {FRAME_BYTES}.0) AS BIGINT) AS n_frames,
           CAST(ceil(ceil(length(text) / {FRAME_BYTES}.0) / 3.0) AS BIGINT)
               AS n_sampled,
           substring(text, 1, {FRAME_BYTES}) AS first_frame_text
    FROM documents
    """,
    description="payload chunking into frames + every-3rd frame sampling",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    frames = frames_col("text", FRAME_BYTES)
    sampled = sample_frames(frames, every=3)
    return d.select(
        "doc_id",
        F.size(frames).cast("long").alias("n_frames"),
        F.size(sampled).cast("long").alias("n_sampled"),
        F.decode(F.element_at(sampled, 1), "UTF-8").alias("first_frame_text"),
    )


# Loudness features recomputed from the documents' own bytes in SQL:
# (b-128)/128 is exact in double (power-of-two divide), so only summation
# order differs between engines and the 1e-6 rounding absorbs it. Shared
# by the fake-PCM lane and the real-WAV-codec lane: a u8 WAV wrapping of
# byte string B decodes back to exactly B's samples, so both lanes must
# produce these values.
_AUDIO_FEATURES_ORACLE = """
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents),
    s AS (
        SELECT doc_id, n,
               list_transform(range(1, least(n, 256) + 1),
                   i -> (CAST(concat('0x', substr(hx, 2*i-1, 2)) AS INT)
                         - 128) / 128.0) AS w1,
               list_transform(range(1, n + 1),
                   i -> abs((CAST(concat('0x', substr(hx, 2*i-1, 2)) AS INT)
                             - 128) / 128.0)) AS absall
        FROM b)
    SELECT doc_id, n AS n_samples,
           CAST(ceil(n / 256.0) AS BIGINT) AS n_windows,
           ROUND(sqrt(list_aggregate(list_transform(w1, x -> x*x), 'avg')), 6)
               AS rms_w1,
           ROUND(list_aggregate(absall, 'max'), 6) AS peak
    FROM s
    """


@query(
    "mm_audio_rms", "multimodal",
    oracle=_AUDIO_FEATURES_ORACLE,
    description="audio lane: mapInPandas PCM decode (fake codec) + windowed RMS/peak",
)
def mm_audio_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The audio modality stage: opaque binary in, loudness features out.
    # Decode is the deterministic fake (u8 PCM from payload bytes; a
    # real pipeline swaps in soundfile/ffmpeg) — the windowing, Arrow
    # batching and numpy vectorization are the real 100 TB shape
    # (map-only, no shuffle, constant memory per batch). The oracle
    # recomputes the identical features from the same bytes in SQL:
    # (b-128)/128 is exact in double (power-of-two divide), so only
    # summation order differs and the 1e-6 rounding absorbs it.
    from ..operators.multimodal import audio_window_features
    return audio_window_features(to_binary_payload(t(spark, sf_dir, "documents")))


@query(
    "mm_audio_wav_real", "multimodal",
    oracle=_AUDIO_FEATURES_ORACLE,
    description="audio lane with the REAL WAV codec: RIFF-wrap payloads, parse with stdlib wave, identical features",
)
def mm_audio_wav_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    # End-to-end REAL container codec (the one decode the sandbox can
    # prove without installs): each document's bytes are wrapped as a
    # genuine mono u8-PCM RIFF/WAVE file in one Arrow stage, and the
    # next stage parses that container with stdlib `wave` + numpy
    # (operators/multimodal.decode_wav_real) — no fake in the path.
    # Because u8 WAV stores samples verbatim, the decoded features must
    # equal the fake-PCM lane's, so the same exact oracle gates both;
    # a header mis-parse, off-by-one frame count, or sample-scale bug
    # would hash-mismatch here.
    from ..operators.multimodal import (
        audio_window_features,
        wrap_payloads_as_wav,
    )
    wav = wrap_payloads_as_wav(to_binary_payload(t(spark, sf_dir, "documents")))
    return audio_window_features(wav, codec="wav")


# Shared by the PPM and PNG real-codec lanes: identical raster
# geometry and output contract, different container.
_IMAGE_FEATURES_ORACLE = """
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS n
        FROM documents)
    SELECT doc_id,
           CAST(32 AS BIGINT) AS width,
           GREATEST(CAST(1 AS BIGINT), CAST(ceil(n / 96.0) AS BIGINT))
               AS height,
           CAST(3 AS BIGINT) AS channels,
           GREATEST(CAST(1 AS BIGINT), CAST(ceil(n / 96.0) AS BIGINT)) * 96
               AS n_pixel_bytes,
           CAST(coalesce(list_aggregate(
               list_transform(range(1, n + 1),
                   i -> CAST(concat('0x', substr(hx, 2*i-1, 2)) AS INT)),
               'sum'), 0) AS BIGINT) AS sum_pixels
    FROM b
    """


@query(
    "mm_image_ppm_real", "multimodal",
    # Real IMAGE container codec end-to-end (netpbm needs no PIL): each
    # document's bytes become a genuine P6 PPM (comment-bearing header +
    # zero-padded RGB raster) in one Arrow stage; the next stage parses
    # the container for real (decode_image_real -> decode_ppm_real) and
    # emits header dims + the exact raster pixel sum. The oracle
    # recomputes everything from the pre-wrap bytes: a header mis-parse,
    # wrong padding, or raster misread hash-fails.
    oracle=_IMAGE_FEATURES_ORACLE,
    description="image lane with the REAL netpbm codec: PPM-wrap payloads, parse header+raster, exact pixel sum",
)
def mm_image_ppm_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        image_features_real,
        wrap_payloads_as_ppm,
    )
    ppm = wrap_payloads_as_ppm(to_binary_payload(t(spark, sf_dir, "documents")))
    return image_features_real(ppm)


def _mm_pipeline_oracle() -> str:
    from .text import QUALITY_SCORE_SQL
    return f"""
    WITH kept AS (
        SELECT doc_id, text FROM documents
        WHERE {QUALITY_SCORE_SQL} >= 0.5),
    ded AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
            FROM kept)
        WHERE doc_id = keeper),
    b AS (SELECT doc_id, hex(encode(text)) AS hx,
                 octet_length(encode(text)) AS n FROM ded),
    s AS (
        SELECT doc_id, n,
               list_transform(range(1, least(n, 256) + 1),
                   i -> (CAST(concat('0x', substr(hx, 2*i-1, 2)) AS INT)
                         - 128) / 128.0) AS w1,
               list_transform(range(1, n + 1),
                   i -> CAST(concat('0x', substr(hx, 2*i-1, 2)) AS INT))
                   AS bytes_int
        FROM b)
    SELECT doc_id, n AS n_samples,
           CAST(ceil(n / 256.0) AS BIGINT) AS n_windows,
           ROUND(sqrt(list_aggregate(list_transform(w1, x -> x*x), 'avg')), 6)
               AS rms_w1,
           ROUND(list_aggregate(list_transform(bytes_int,
                   x -> abs((x - 128) / 128.0)), 'max'), 6) AS peak,
           GREATEST(CAST(1 AS BIGINT), CAST(ceil(n / 96.0) AS BIGINT))
               AS img_height,
           CAST(coalesce(list_aggregate(bytes_int, 'sum'), 0) AS BIGINT)
               AS sum_pixels
    FROM s
    """


@query(
    "mm_pipeline_full", "multimodal",
    oracle=_mm_pipeline_oracle(),
    description="composed multimodal prep: quality gate -> exact dedup -> BOTH real codecs fused in one Arrow stage",
)
def mm_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The multimodal counterpart of text_pipeline_full, one Catalyst
    # plan: deterministic quality gate (bit-identical score => the >=0.5
    # cut is engine-stable), exact content-hash dedup via a window min
    # (one shuffle on md5), then BOTH real container codecs — WAV wrap/
    # parse and PPM wrap/parse — fused into a single Arrow stage
    # (combined_codec_features), so the binary column is scanned once
    # and no join reunites the lanes.
    from pyspark.sql import Window as W

    from ..operators.multimodal import combined_codec_features
    from ..operators.spread import spread
    from ..operators.text import quality_cols

    d = spread(t(spark, sf_dir, "documents"))
    kept = d.filter(quality_cols("text")["quality_score"] >= 0.5)
    w = W.partitionBy(F.md5(F.col("text").cast("binary")))
    ded = (kept.withColumn("_keeper", F.min("doc_id").over(w))
           .filter(F.col("doc_id") == F.col("_keeper")))
    return combined_codec_features(to_binary_payload(ded))


@query(
    "mm_resize", "multimodal",
    oracle="""
    SELECT doc_id,
           CAST(32 AS INTEGER) AS out_w,
           CAST(24 AS INTEGER) AS out_h,
           least(octet_length(encode(text)), 768) AS n_out_bytes,
           substring(lower(hex(encode(text))), 1, 16) AS head_hex
    FROM documents
    """,
    description="mapInPandas resize stage (fake crop kernel; real Arrow plumbing)",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The resize step of an image pipeline: Arrow-batched binary in,
    # resized binary out, map-only. The oracle checks byte counts and
    # the first-8-bytes hex of the resized payload computed from the
    # source text (DuckDB has no blob substring, so it slices the hex
    # string instead).
    from ..operators.multimodal import resize_payloads
    d = resize_payloads(to_binary_payload(t(spark, sf_dir, "documents")))
    return d.select(
        "doc_id", "out_w", "out_h", "n_out_bytes",
        F.lower(F.hex(F.col("resized").substr(1, 8))).alias("head_hex"))


@query(
    "mm_image_png_real", "multimodal",
    # Real COMPRESSED image codec end-to-end, no third-party install:
    # one Arrow stage deflate-encodes each document's bytes as a genuine
    # PNG (filtered scanlines cycling all five spec filters, CRC'd
    # chunks); the next stage decodes it for real (signature, CRC walk,
    # inflate, five-filter scanline reconstruction) and emits header
    # dims + the exact raster pixel sum. Same oracle contract as the
    # netpbm lane — the raster geometry is identical, so a filter-math
    # or inflate mistake hash-fails against bytes DuckDB sums directly.
    oracle=_IMAGE_FEATURES_ORACLE,
    description="image lane with a REAL compressed codec: PNG-wrap payloads (deflate+filters+CRC), decode, exact pixel sum",
)
def mm_image_png_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        image_features_real,
        wrap_payloads_as_png,
    )
    png = wrap_payloads_as_png(to_binary_payload(t(spark, sf_dir, "documents")))
    return image_features_real(png)


@query(
    "mm_image_jpeg_real", "multimodal",
    # Real LOSSY DCT codec end-to-end, no third-party install: one
    # Arrow stage FDCT+quantize+Huffman-encodes each document's bytes
    # as a genuine baseline grayscale JPEG (Annex K tables, byte
    # stuffing); the next stage decodes it for real (marker walk,
    # in-file Huffman tables, dequant, IDCT) and emits exact geometry
    # plus a reconstruction-error-within-bound flag vs the original
    # bytes. Lossy means no exact pixel-sum oracle can exist; the
    # contract is the agg_approx_bounds pattern — the oracle computes
    # the geometry DuckDB can derive from payload length and pins the
    # error flag TRUE, so any codec defect hash-fails.
    oracle="""
    WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
    SELECT doc_id,
           CAST(32 AS BIGINT) AS width,
           GREATEST(CAST(1 AS BIGINT), CAST(ceil(n / 32.0) AS BIGINT))
               AS height,
           CAST(1 AS BIGINT) AS channels,
           TRUE AS err_within_bound
    FROM b
    """,
    description="image lane with a REAL lossy DCT codec: JPEG-wrap payloads (FDCT+Huffman), decode, bounded-error contract",
)
def mm_image_jpeg_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        image_error_contract,
        wrap_payloads_as_jpeg,
    )
    jpg = wrap_payloads_as_jpeg(
        to_binary_payload(t(spark, sf_dir, "documents")))
    return image_error_contract(jpg)


@query(
    "mm_image_jpeg_color", "multimodal",
    # The COLOR tier of the lossy lane: genuine 4:4:4 YCbCr baseline
    # JPEG (per-component quant tables -> a real multi-DQT file,
    # interleaved per-MCU Y/Cb/Cr blocks, independent DC predictors,
    # full-range JFIF color transform). Same bounded-error contract as
    # the grayscale lane, against the original bytes as an RGB raster;
    # the color bound additionally absorbs the YCbCr round trip's
    # conditioning.
    oracle="""
    WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents)
    SELECT doc_id,
           CAST(32 AS BIGINT) AS width,
           GREATEST(CAST(1 AS BIGINT), CAST(ceil(n / 96.0) AS BIGINT))
               AS height,
           CAST(3 AS BIGINT) AS channels,
           TRUE AS err_within_bound
    FROM b
    """,
    description="COLOR tier of the lossy lane: 4:4:4 YCbCr baseline JPEG, interleaved MCUs, bounded-error contract",
)
def mm_image_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import (
        image_error_contract,
        wrap_payloads_as_jpeg,
    )
    jpg = wrap_payloads_as_jpeg(
        to_binary_payload(t(spark, sf_dir, "documents")), color=True)
    return image_error_contract(jpg)
