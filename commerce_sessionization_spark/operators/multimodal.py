"""Multimodal column plumbing: media as opaque binary + typed metadata.

The Spark-side contract — schema (``schemas.MEDIA_SCHEMA``), Arrow-batched
``mapInPandas`` plumbing, partitioning by modality, stable output schemas —
is real and tested, and so is decode for the formats parseable without
codec libraries: **BMP, PNG, JPEG (baseline + progressive), and lossless
WebP (VP8L) images and PCM WAV audio**
run through the real dependency-free decoders in ``functions.codecs`` /
``functions.webp`` (header parse + numpy pixel/sample math; PNG inflates
IDAT with stdlib ``zlib``; JPEG is a full T.81 decode, baseline AND
progressive — Huffman entropy decode, successive approximation,
vectorized IDCT, chroma upsampling; VP8L covers the full lossless
bitstream: prefix codes, LZ77 + color cache, all four transforms).

The per-asset contract, shared by every extractor below: each one is a
per-asset function run by ``_map_assets`` (modality filter, one
Arrow-batched ``mapInPandas``, 0..n rows of a fixed schema per asset).

* ``fake=True`` swaps the decode for a deterministic stand-in derived
  from sha256(payload), so pipeline shape stays testable for formats
  (arithmetic JPEG, lossy VP8 WebP, AVIF, MP3, video codecs) that need
  external libs.
* On the real path (``_decode``), a payload the decoders do not support
  raises ``NotImplementedError`` naming the asset. Extractors that take
  ``on_error="skip"`` (crawl mode) instead drop an unsupported or corrupt
  asset (``UnsupportedMediaError``, ``ValueError``, ``struct.error``), so
  one garbage payload never kills the pass. Any other error propagates:
  it is a decoder bug.
* The triage extractors (``extract_container_metadata``,
  ``extract_image_metadata``, ``extract_document_text``) never fail: an
  unparseable payload yields a fallback row (unknown container/format).

At 100 TB: binary payloads dominate row size — always project metadata-only
when features suffice (column pruning keeps payload IO at zero), partition
by ``modality`` so a per-modality pipeline prunes the rest, and size
``maxRecordsPerFile`` low for payload tables.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from commerce_sessionization_spark.functions.codecs import (
    UnsupportedMediaError,
    _luma,
    average_hash,
    decode_bmp,
    decode_gif,
    decode_jpeg,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_jpeg,
    encode_png,
    encode_wav,
    image_features,
    parse_gif_frames,
    resample_audio,
    wav_features,
    wav_mfcc_features,
    wav_spectral_features,
)
from commerce_sessionization_spark.functions.containers import (
    container_metadata,
    mp4_sample_index,
    parse_avif,
    sniff_container,
)
from commerce_sessionization_spark.functions.metadata import (
    jpeg_dimensions,
    parse_jpeg_exif,
    parse_png_metadata,
    parse_tiff_exif,
)

#: What a decoder may raise on garbage (the fuzz contract): skip mode and
#: the triage fallbacks absorb exactly these.
_DECODE_ERRORS = (UnsupportedMediaError, ValueError, struct.error)

_WAV_ONLY = "only PCM WAV decodes without codec libs"


def _map_assets(
    df: DataFrame,
    schema: StructType,
    per_asset: Callable[..., Iterable[dict]],
    modality: str | None = None,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Run ``per_asset(asset_id, payload, *extra)`` over every asset (of
    ``modality`` when given) in Arrow batches; it returns the asset's 0..n
    records, keyed by ``schema`` field names (missing keys become null)."""
    cols = [f.name for f in schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            recs: list[dict] = []
            for a, c, *rest in zip(
                pdf["asset_id"], pdf["content"], *(pdf[x] for x in extra)
            ):
                recs.extend(per_asset(a, bytes(c or b""), *rest))
            yield pd.DataFrame.from_records(recs, columns=cols)

    if modality is not None:
        df = df.filter(F.col("modality") == modality)
    return df.select("asset_id", "content", *extra).mapInPandas(
        batches, schema=schema
    )


def _decode(asset_id, fn: Callable, on_error: str, what: str):
    """``fn()`` under the decode-error contract (module docstring);
    ``on_error="skip"`` turns a decode error into ``[]`` (asset dropped)."""
    try:
        return fn()
    except _DECODE_ERRORS as e:
        if on_error == "skip":
            return []
        if not isinstance(e, UnsupportedMediaError):
            raise
        raise NotImplementedError(
            f"asset {asset_id}: {what} ({e}); use fake=True for other formats"
        ) from e


IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("mean_luma", DoubleType()),
        StructField("phash", StringType()),
    ]
)

AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_sec", DoubleType()),
        StructField("rms", DoubleType()),
    ]
)

AUDIO_SPECTRAL_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("dominant_hz", DoubleType()),
        StructField("spectral_centroid_hz", DoubleType()),
        StructField("rolloff85_hz", DoubleType()),
        StructField("zero_crossing_rate", DoubleType()),
    ]
)

FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_phash", StringType()),
    ]
)


def _fake_image_features(asset_id: int, payload: bytes) -> dict:
    """Deterministic stand-in for a real image decode (no PIL/opencv here)."""
    h = hashlib.sha256(payload).digest()
    return {
        "asset_id": asset_id,
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "n_channels": 3,
        "mean_luma": round(h[2] / 255.0, 6),
        "phash": h.hex()[:16],
    }


def extract_image_features(
    df: DataFrame, fake: bool = False, on_error: str = "raise"
) -> DataFrame:
    """Decode + featurize image payloads.

    The real path decodes BMP, PNG, JPEG (baseline + progressive),
    lossless-WebP (VP8L), and baseline TIFF (none/LZW/PackBits strips)
    payloads with the dependency-free parsers in
    ``functions.codecs`` / ``functions.webp`` (width/height/channels,
    Rec.601 mean luma, 8×8 average-hash; PNG rides stdlib ``zlib``,
    JPEG is a full T.81 decode incl. progressive; TIFF implements the
    TIFF-variant LZW with EarlyChange). Lossy-VP8 WebP / AVIF need codec
    libraries this container lacks.
    """

    def one(a, payload):
        if fake:
            return [_fake_image_features(a, payload)]
        return _decode(
            a,
            lambda: [image_features(a, payload)],
            on_error,
            "only BMP/PNG/JPEG/VP8L/TIFF decode without codec libs",
        )

    return _map_assets(df, IMAGE_FEATURES_SCHEMA, one, "image")


def extract_audio_features(
    df: DataFrame, fake: bool = False, on_error: str = "raise"
) -> DataFrame:
    """Decode + featurize audio payloads: the real path decodes PCM
    RIFF/WAVE with ``functions.codecs`` (sample rate, duration, RMS over
    mono-averaged samples); compressed formats (MP3/AAC/OGG) need codec
    libraries.
    """

    def one(a, payload):
        if fake:
            h = hashlib.sha256(payload).digest()
            return [
                {
                    "asset_id": a,
                    "sample_rate": 16000,
                    "duration_sec": round(len(payload) / 32000.0, 6),
                    "rms": round(h[0] / 255.0, 6),
                }
            ]
        return _decode(
            a, lambda: [wav_features(a, payload)], on_error, _WAV_ONLY
        )

    return _map_assets(df, AUDIO_FEATURES_SCHEMA, one, "audio")


def extract_audio_spectral(df: DataFrame, fake: bool = False) -> DataFrame:
    """Frequency-domain audio features (FFT) — dominant pitch, spectral
    centroid, 85% rolloff, zero-crossing rate per asset.

    The real path runs ONE numpy rfft per PCM-WAV payload inside the
    batch loop (vectorized per asset; Arrow moves only (asset_id,
    content) in and six scalars out).
    """

    def one(a, payload):
        if fake:
            h = hashlib.sha256(payload).digest()
            return [
                {
                    "asset_id": a,
                    "sample_rate": 16000,
                    "dominant_hz": float(h[0]) * 8000.0 / 255.0,
                    "spectral_centroid_hz": float(h[1]) * 8000.0 / 255.0,
                    "rolloff85_hz": float(h[2]) * 8000.0 / 255.0,
                    "zero_crossing_rate": float(h[3]) * 2.0,
                }
            ]
        return _decode(
            a, lambda: [wav_spectral_features(a, payload)], "raise", _WAV_ONLY
        )

    return _map_assets(df, AUDIO_SPECTRAL_SCHEMA, one, "audio")


def sample_video_frames(
    df: DataFrame,
    every_n: int = 10,
    max_frames: int = 8,
    fake: bool = False,
    on_error: str = "raise",
) -> DataFrame:
    """Frame sampling for motion payloads.

    The real path dispatches on the container: animated GIFs walk the
    frame descriptors in ``functions.codecs``; MP4s walk the ``stbl``
    sample tables (``functions.containers.mp4_sample_index``) and emit the
    SYNC samples — the keyframes, exactly the frames a sampling pipeline
    wants, located by byte offset without an H.264 decoder. Either way,
    every ``every_n``-th eligible frame (up to ``max_frames``) is emitted
    with a SHA-256 fingerprint of its compressed bytes. Other video
    containers need ffmpeg bindings this container lacks; an MP4 whose
    ``moov`` is absent or corrupt takes the same decode-error contract.
    """
    step = max(every_n, 1)

    def one(a, payload):
        if fake:
            n = min(max_frames, 1 + (len(payload) // step) % max_frames)
            return [
                {
                    "asset_id": a,
                    "frame_idx": i * every_n,
                    "frame_phash": hashlib.sha256(
                        payload + i.to_bytes(4, "big")
                    ).hexdigest()[:16],
                }
                for i in range(n)
            ]
        if sniff_container(payload) == "mp4":
            sync = _decode(
                a,
                lambda: [s for s in mp4_sample_index(payload) if s["sync"]],
                on_error,
                "MP4 container unparsable without ffmpeg fallback",
            )
            return [
                {
                    "asset_id": a,
                    "frame_idx": s["sample"] - 1,
                    "frame_phash": hashlib.sha256(
                        payload[s["offset"] : s["offset"] + s["size"]]
                    ).hexdigest()[:16],
                }
                for s in sync[::step][:max_frames]
            ]
        frames = _decode(
            a,
            lambda: parse_gif_frames(payload),
            on_error,
            "only GIF and MP4 containers parse without ffmpeg",
        )
        return [
            {
                "asset_id": a,
                "frame_idx": fr["frame_idx"],
                "frame_phash": fr["data_sha256"][:16],
            }
            for fr in frames[::step][:max_frames]
        ]

    return _map_assets(df, FRAME_SAMPLE_SCHEMA, one, "video")


AUDIO_MFCC_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("mfcc_mean", ArrayType(DoubleType())),
        StructField("mfcc_std", ArrayType(DoubleType())),
    ]
)


def extract_audio_mfcc(
    df: DataFrame, n_mfcc: int = 13, fake: bool = False
) -> DataFrame:
    """MFCC audio fingerprints: the standard speech/audio featurization
    (pre-emphasis → Hamming frames → power spectrum → mel filterbank →
    log → DCT-II) reduced to a fixed-size per-asset vector (frame mean +
    std), computed as one numpy matmul chain per payload. The output
    ``mfcc_mean`` is an ``array<double>`` — directly consumable by the
    embedding similarity and dedup operators, so audio near-dup rides the
    same kNN/SemDeDup paths as text embeddings.
    """

    def one(a, payload):
        if fake:
            h = hashlib.sha256(payload).digest()
            vec = [round(b / 255.0, 6) for b in h[:n_mfcc]]
            return [
                {
                    "asset_id": a,
                    "n_frames": 1 + h[0] % 100,
                    "mfcc_mean": vec,
                    "mfcc_std": vec[::-1],
                }
            ]
        return _decode(
            a,
            lambda: [wav_mfcc_features(a, payload, n_mfcc=n_mfcc)],
            "raise",
            _WAV_ONLY,
        )

    return _map_assets(df, AUDIO_MFCC_SCHEMA, one, "audio")


FRAME_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("delay_cs", IntegerType()),
        StructField("mean_luma", DoubleType()),
        StructField("phash", StringType()),
    ]
)


def extract_video_frame_features(
    df: DataFrame, every_n: int = 1, max_frames: int = 8, fake: bool = False
) -> DataFrame:
    """PIXEL-level frame featurization for motion payloads: full GIF
    decode (real LZW + palette + compositing in ``functions.codecs``),
    then per sampled frame the same luma/phash features the image path
    computes — so cross-modal joins (video frame ↔ image near-dup) use
    one fingerprint space. ``sample_video_frames`` stays the cheap
    container-walk variant (compressed-bytes fingerprints, no pixel
    work); this one pays the decode for real content features. True
    video codecs (H.264/VP9) are unsupported.

    At 100 TB: decode cost is per-asset and rides the same Arrow batch;
    sampling (``every_n``, ``max_frames``) bounds output rows, and the
    composited-canvas copies are freed per asset — peak memory is one
    canvas per in-flight row, not per frame.
    """

    def one(a, payload):
        if fake:
            h = hashlib.sha256(payload).digest()
            return [
                {
                    "asset_id": a,
                    "frame_idx": i * every_n,
                    "width": 64 + h[1] % 64,
                    "height": 64 + h[2] % 64,
                    "delay_cs": 10,
                    "mean_luma": round(h[3] / 255.0, 6),
                    "phash": h.hex()[:16],
                }
                for i in range(min(max_frames, 1 + h[0] % 4))
            ]
        frames, delays = _decode(
            a,
            lambda: decode_gif(payload),
            "raise",
            "only GIF pixels decode without ffmpeg",
        )
        sampled = list(enumerate(zip(frames, delays)))[:: max(every_n, 1)]
        return [
            {
                "asset_id": a,
                "frame_idx": i,
                "width": rgb.shape[1],
                "height": rgb.shape[0],
                "delay_cs": d,
                "mean_luma": round(float(_luma(rgb).mean()), 6),
                "phash": average_hash(rgb),
            }
            for i, (rgb, d) in sampled[:max_frames]
        ]

    return _map_assets(df, FRAME_FEATURES_SCHEMA, one, "video")


SCENE_CUT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("cut_at_frame", IntegerType()),
        StructField("prev_fingerprint", StringType()),
        StructField("next_fingerprint", StringType()),
    ]
)


def detect_scene_cuts(df: DataFrame, fake: bool = False) -> DataFrame:
    """Scene-change detection for motion payloads: one row per position
    where consecutive frame content fingerprints DIFFER.

    Composes the container walk ``sample_video_frames`` uses (every
    frame, no sampling) with a per-asset adjacent-compare — all inside
    the same Arrow batch, so no second pass over payload bytes and no
    shuffle: the expensive part (container parsing) happens once per
    asset and the cut positions come out directly. Real codecs would
    swap the fingerprint for a frame-difference metric; the GIF path
    uses the compressed-bytes SHA the codec layer already exposes
    (identical frames ⇒ identical bytes in practice for our encoder
    path).
    """

    def one(a, payload):
        if fake:
            h = hashlib.sha256(payload).digest()
            return [
                {
                    "asset_id": a,
                    "cut_at_frame": i + 1,
                    "prev_fingerprint": h[1:9].hex(),
                    "next_fingerprint": h[9:17].hex(),
                }
                for i in range(h[0] % 3)
            ]
        frames = _decode(
            a,
            lambda: parse_gif_frames(payload),
            "raise",
            "only GIF containers parse without ffmpeg",
        )
        return [
            {
                "asset_id": a,
                "cut_at_frame": nxt["frame_idx"],
                "prev_fingerprint": prev["data_sha256"][:16],
                "next_fingerprint": nxt["data_sha256"][:16],
            }
            for prev, nxt in zip(frames, frames[1:])
            if prev["data_sha256"] != nxt["data_sha256"]
        ]

    return _map_assets(df, SCENE_CUT_SCHEMA, one, "video")


RESAMPLED_AUDIO_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("content", BinaryType()),
    ]
)


def standardize_audio(
    df: DataFrame, target_rate: int = 16000, fake: bool = False
) -> DataFrame:
    """Normalize audio payloads to mono 16-bit PCM at ``target_rate``
    (linear-interpolation resample) — the audio analog of
    ``resize_images``: every downstream featurizer (MFCC frame sizes,
    spectral bins) then sees one known rate. Accepts any PCM/float WAV
    the codec layer decodes (8/16/24/32-bit int, 32/64-bit float,
    extensible); output ``content`` is a decodable 16-bit WAV, so the
    step composes with ``extract_audio_mfcc``/``extract_audio_spectral``
    downstream.
    """

    def one(a, payload):
        if fake:
            h = hashlib.sha256(payload).digest()
            return [
                {"asset_id": a, "sample_rate": target_rate,
                 "n_samples": 100 + h[0], "content": h * 8}
            ]
        rate, mono = _decode(a, lambda: decode_wav(payload), "raise", _WAV_ONLY)
        out = resample_audio(mono, rate, target_rate)
        return [
            {
                "asset_id": a,
                "sample_rate": target_rate,
                "n_samples": len(out),
                "content": encode_wav(out, target_rate),
            }
        ]

    return _map_assets(df, RESAMPLED_AUDIO_SCHEMA, one, "audio")


def phash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "asset_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs over 64-bit perceptual hashes (the ``phash``
    the image AND video-frame featurizers emit — one fingerprint space,
    so image↔image, frame↔frame, and image↔frame near-dups all come out
    of the same call).

    Scale shape is the SimHash/LSH pattern, not all-pairs: the 16-hex
    phash splits into 4 × 16-bit bands; by pigeonhole, any pair within
    Hamming distance ≤ 3 agrees on at least one whole band, so the
    candidate join is an equi-join on ``(band_idx, band_value)`` and the
    exact Hamming distance (4 × conv/xor/bit_count — all JVM
    expressions, no UDF) verifies only candidates. For ``max_hamming >=
    4`` the band guarantee no longer covers every pair; the operator
    raises rather than silently losing recall.

    Returns (id_l, id_r, hamming), id_l < id_r, deduped across bands.
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            "banded phash join guarantees recall only for max_hamming <= 3 "
            "(4 bands); use more bands or exhaustive compare beyond that"
        )
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.substring(F.col(phash_col), 1 + 4 * i, 4).alias("band_val"),
            )
            for i in range(4)
        ]
    )
    sides = df.select(
        F.col(id_col).alias("_id"),
        F.col(phash_col).alias("_ph"),
        F.explode(bands).alias("_b"),
    ).select("_id", "_ph", "_b.band_idx", "_b.band_val")
    left = sides.alias("l")
    right = sides.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_l"),
            F.col("r._id").alias("id_r"),
            F.col("l._ph").alias("ph_l"),
            F.col("r._ph").alias("ph_r"),
        )
        .distinct()
    )
    hamming = sum(
        F.bit_count(
            F.conv(F.substring("ph_l", 1 + 4 * i, 4), 16, 10).cast("long")
            .bitwiseXOR(
                F.conv(F.substring("ph_r", 1 + 4 * i, 4), 16, 10).cast("long")
            )
        )
        for i in range(4)
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_l", "id_r", "hamming")
    )


def media_metadata_stats(df: DataFrame) -> DataFrame:
    """Per-modality rollup over modality + payload size only (no decode)."""
    return df.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.round(F.avg(F.length("content")), 2).alias("avg_bytes"),
    )


#: mime types whose *sample decode* (pixels/PCM) is dependency-free here.
#: Container *metadata* covers far more — see extract_container_metadata.
DECODABLE_IMAGE_MIMES = frozenset(
    {"image/bmp", "image/png", "image/jpeg", "image/webp", "image/tiff"}
)
DECODABLE_AUDIO_MIMES = frozenset({"audio/wav"})
DECODABLE_VIDEO_MIMES = frozenset({"image/gif"})


CONTAINER_META_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("container", StringType()),
        StructField("codec", StringType()),
        StructField("duration_sec", DoubleType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("bitrate_kbps", DoubleType()),
        StructField("n_streams", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_keyframes", LongType()),
        StructField("tags", MapType(StringType(), StringType())),
    ]
)


def extract_container_metadata(df: DataFrame, fake: bool = False) -> DataFrame:
    """Container-level triage for every media payload — no codec work.

    The step a 100 TB crawl pipeline runs FIRST: demux the container
    structure (``functions.containers``: MP4/ISO-BMFF sample tables, MP3
    frame-header walk + Xing, Ogg pages with RFC 3533 CRC + Opus/Vorbis/
    Theora ident headers, FLAC STREAMINFO, plus WAV/GIF via
    ``functions.codecs``) into one fixed-schema row per asset: container,
    codec, duration, dimensions, rates, stream/sample/keyframe counts.
    Decisions like "sample this video", "skip sub-second clips", "budget
    decode by duration" all read this table — which is thousands of times
    smaller than the payload column — and never touch payload bytes again.

    A payload matching no known magic yields ``container = 'unknown'``.
    Runs on ALL modalities.
    """

    # tags must be an explicit None: pandas fills missing record keys with
    # NaN, which Arrow's map converter rejects
    def one(a, payload):
        if fake:
            h = hashlib.sha256(payload).digest()
            return [
                {
                    "asset_id": a,
                    "container": "fake",
                    "codec": "fake",
                    "duration_sec": round(h[0] / 16.0, 6),
                    "sample_rate": 16000,
                    "channels": 1 + h[1] % 2,
                    "n_streams": 1,
                    "tags": None,
                }
            ]
        try:
            return [container_metadata(a, payload)]
        except _DECODE_ERRORS:
            return [{"asset_id": a, "container": "unknown", "tags": None}]

    return _map_assets(df, CONTAINER_META_SCHEMA, one)


IMAGE_METADATA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("orientation", IntegerType()),
        StructField("make", StringType()),
        StructField("model", StringType()),
        StructField("datetime_original", StringType()),
        StructField("has_gps", BooleanType()),
        StructField("dpi", DoubleType()),
        StructField("software", StringType()),
    ]
)


def extract_image_metadata(df: DataFrame, fake: bool = False) -> DataFrame:
    """Embedded image metadata (EXIF / PNG chunks) — header-prefix parse only.

    The filter columns a vision corpus pipeline needs before any pixel
    work: EXIF orientation (is the stored width/height swapped? does
    ingestion need a rotate?), camera make/model and DateTimeOriginal
    (provenance, recency), a GPS-IFD flag (PII — feed it to the privacy
    scrub), PNG DPI and Software/text chunks (toolchain provenance, and
    where generative-model provenance strings live). JPEG dimensions come
    from the SOF marker and PNG's from IHDR, so no payload is ever
    entropy-decoded; formats without embedded metadata (BMP/WebP/GIF)
    and unparseable payloads yield a format + null-fields row.
    """

    def one(a, payload):
        if fake:
            h = hashlib.sha256(payload).digest()
            return [
                {
                    "asset_id": a,
                    "format": "fake",
                    "width": 1 + h[0],
                    "height": 1 + h[1],
                    "orientation": 1,
                    "has_gps": False,
                }
            ]
        kind = sniff_container(payload)
        rec = {"asset_id": a, "format": kind or "unknown"}
        try:
            if kind == "jpeg":
                exif = parse_jpeg_exif(payload)
                w, h = jpeg_dimensions(payload)
                rec.update(
                    width=w,
                    height=h,
                    orientation=exif["orientation"],
                    make=exif["make"],
                    model=exif["model"],
                    datetime_original=exif["datetime_original"]
                    or exif["datetime"],
                    has_gps=exif["has_gps"],
                )
            elif kind == "png":
                m = parse_png_metadata(payload)
                rec.update(
                    width=m["width"],
                    height=m["height"],
                    dpi=m["dpi"],
                    software=m["text"].get("Software"),
                    datetime_original=m["modified"],
                    has_gps=False,
                )
            elif kind == "avif":
                m = parse_avif(payload)
                rec.update(width=m["width"], height=m["height"], has_gps=False)
            elif kind == "tiff":
                m = parse_tiff_exif(payload)
                rec.update(
                    width=m["width"],
                    height=m["height"],
                    orientation=m["orientation"],
                    make=m["make"],
                    model=m["model"],
                    datetime_original=m["datetime_original"] or m["datetime"],
                    has_gps=m["has_gps"],
                )
        except _DECODE_ERRORS:
            pass  # keep the format-only row
        return [rec]

    return _map_assets(df, IMAGE_METADATA_SCHEMA, one, "image")


RESIZED_IMAGE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("content", BinaryType()),
    ]
)


def _decode_for_resize(payload: bytes):
    """(rgb, encoder of the same container) for a BMP/PNG/JPEG payload."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)[0], encode_png
    if payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)[0], encode_jpeg
    return decode_bmp(payload)[0], encode_bmp


def resize_images(df: DataFrame, max_dim: int = 64, fake: bool = False) -> DataFrame:
    """Downscale image payloads so the longest edge ≤ ``max_dim`` (the
    thumbnail/normalize step every vision-data pipeline runs before
    feature extraction).

    Real path: BMP/PNG/JPEG decode → nearest-neighbor index
    sampling (pure numpy, no PIL) → re-encode in the SAME container the
    asset arrived in (JPEG re-encodes near-lossless at ``quant=1``);
    images already within bounds pass through byte-identical. The fake
    stand-in carries correctly scaled dimensions.

    Output keeps the ``content`` column a decodable image — resize
    composes with ``extract_image_features`` downstream.
    """

    def scaled(w: int, h: int) -> tuple[int, int]:
        m = max(w, h)
        if m <= max_dim:
            return w, h
        return max(1, (w * max_dim) // m), max(1, (h * max_dim) // m)

    def one(a, payload):
        if fake:
            hsh = hashlib.sha256(payload).digest()
            w, h = scaled(64 + hsh[0] % 192, 64 + hsh[1] % 192)
            return [{"asset_id": a, "width": w, "height": h, "content": hsh * 2}]
        rgb, encode = _decode(
            a,
            lambda: _decode_for_resize(payload),
            "raise",
            "only BMP/PNG/JPEG resize without codec libs",
        )
        ih, iw = rgb.shape[:2]
        w, h = scaled(iw, ih)
        if (w, h) == (iw, ih):
            out = payload  # within bounds: byte-identical passthrough
        else:
            ys = (np.arange(h) * ih) // h
            xs = (np.arange(w) * iw) // w
            out = encode(np.ascontiguousarray(rgb[ys][:, xs]))
        return [{"asset_id": a, "width": w, "height": h, "content": out}]

    return _map_assets(df, RESIZED_IMAGE_SCHEMA, one, "image")


DOCUMENT_TEXT_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("format", StringType()),
        StructField("n_pages", IntegerType()),
        StructField("text", StringType()),
        StructField("n_chars", LongType()),
        StructField("title", StringType()),
        StructField("producer", StringType()),
        StructField("has_cid_fonts", BooleanType()),
    ]
)


def _decode_text_bytes(payload: bytes) -> str:
    """BOM-aware text decode: UTF-8/UTF-16 BOMs honored, then strict
    UTF-8, then Latin-1 (which never fails) — the standard ingest
    ladder for legacy text exports."""
    if payload[:3] == b"\xef\xbb\xbf":
        return payload[3:].decode("utf-8", "replace")
    if payload[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return payload.decode("utf-16")
    try:
        return payload.decode("utf-8")
    except UnicodeDecodeError:
        return payload.decode("latin1")


def _extract_document_rec(asset_id, payload: bytes, mime: str) -> dict:
    """One asset's extraction record. Degrades to ``format='unknown'``
    on unparseable payloads (UnsupportedMediaError/ValueError from the
    decoders; RuntimeError/NotImplementedError from zipfile for
    encrypted members / unsupported compression — PK-prefixed payloads
    ONLY). Any other escape is a decoder bug and propagates: masking it
    as 'unknown' would silently drop real documents from the corpus.

    Module-level (not a closure) so the swallow-vs-raise contract is
    unit-testable without a Spark round-trip.
    """
    from commerce_sessionization_spark.functions.docx import (
        extract_docx_text,
        parse_docx,
    )
    from commerce_sessionization_spark.functions.pdf import (
        extract_pdf_text,
        parse_pdf,
    )

    rec = {"asset_id": asset_id, "format": "unknown"}
    try:
        if str(mime).startswith("text/"):
            # plain text / markdown: decode is the parse.
            # BOM-aware (UTF-8/16) with Latin-1 fallback so
            # legacy exports never crash the pass.
            text = _decode_text_bytes(payload)
            rec.update(
                format=str(mime).split("/", 1)[1],
                n_pages=1,
                text=text,
                n_chars=len(text),
                has_cid_fonts=False,
            )
        elif payload[:5] == b"%PDF-":
            meta = parse_pdf(payload)
            text = "\f".join(extract_pdf_text(payload))
            rec.update(
                format="pdf",
                n_pages=meta["n_pages"],
                text=text,
                n_chars=len(text),
                title=meta["title"],
                producer=meta["producer"],
                has_cid_fonts=meta["has_cid_fonts"],
            )
        elif payload[:4] == b"PK\x03\x04":
            meta = parse_docx(payload)
            text = "\n".join(extract_docx_text(payload))
            rec.update(
                format="docx",
                n_pages=meta["n_paragraphs"],  # best unit it has
                text=text,
                n_chars=len(text),
                title=meta["title"],
                producer=meta["producer"],
                has_cid_fonts=False,
            )
    except (UnsupportedMediaError, ValueError):
        pass
    except (RuntimeError, NotImplementedError):
        if payload[:4] != b"PK\x03\x04":
            raise
    return rec


def extract_document_text(df: DataFrame) -> DataFrame:
    """Text + metadata from document payloads (PDF) — the document leg
    of the corpus pipeline. Per asset: page count, concatenated page text
    (pages joined by form-feed, so the sentence chunker can re-split),
    Info metadata (Title/Producer — generative-tool provenance lives
    there), and the ``has_cid_fonts`` flag (CJK embedded fonts decode
    wrong in the dependency-free path — route those to a real PDF stack).
    Encrypted or non-PDF payloads yield a format-only row. The output is
    documents-shaped enough to feed ``quality_score`` / dedup directly via
    ``text``.
    """
    docs = df.filter(
        (F.col("modality") == "document")
        | (F.col("mime_type") == "application/pdf")
    )
    return _map_assets(
        docs,
        DOCUMENT_TEXT_SCHEMA,
        lambda a, payload, mime: [_extract_document_rec(a, payload, mime)],
        extra=("mime_type",),
    )
