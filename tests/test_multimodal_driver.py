"""The multimodal extractors' shared per-asset contract.

* Golden: every extractor with a ``fake=True`` path, run over one fixed
  mixed-modality frame, returns exactly the rows whose sha256 is pinned
  below (sorted row reprs plus the column names).
* Decode errors: a payload no dependency-free decoder accepts surfaces as
  a ``NotImplementedError`` naming the asset; ``on_error="skip"`` drops
  that asset and keeps the rest.
* Lint: ``operators/multimodal.py`` holds one ``mapInPandas`` call and one
  ``raise NotImplementedError``, so the batch loop and the error contract
  each live in one place.
"""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

import numpy as np
import pytest

from commerce_sessionization_spark.functions.codecs import (
    encode_bmp,
    encode_gif,
    encode_wav,
)
from commerce_sessionization_spark.operators import multimodal as mm
from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

#: Matroska EBML magic: every decoder the extractors call rejects it with
#: ``UnsupportedMediaError`` (no MKV demuxer here).
MKV = b"\x1aE\xdf\xa3" + bytes(40)
BAD_ID = 424242


def _tone(n: int, hz: float, rate: int = 8000) -> np.ndarray:
    t = np.arange(n) / rate
    return (0.4 * np.sin(2 * np.pi * hz * t) * 32767).astype(np.int16)


def _gif(levels: list[int]) -> bytes:
    return encode_gif([np.full((6, 8), v, dtype=np.uint8) for v in levels])


@pytest.fixture(scope="module")
def mixed(spark):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (12, 20, 3), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(encode_bmp(img)), "image/bmp", {}),
        (2, "image", bytearray(b"\x89PNG\r\n\x1a\n" + bytes(range(64))), "image/png", {}),
        (3, "audio", bytearray(encode_wav(_tone(800, 440.0), 8000)), "audio/wav", {}),
        (4, "audio", bytearray(b"ID3" + bytes(97)), "audio/mpeg", {"k": "v"}),
        (5, "video", bytearray(_gif([10, 10, 60, 90])), "image/gif", {}),
        (6, "video", bytearray(b"\x00\x00\x00\x18ftypisom" + bytes(200)), "video/mp4", {}),
        (7, "document", bytearray(b"%PDF-1.4 not really"), "application/pdf", {}),
        (8, "audio", None, "audio/wav", None),
        (9, "image", bytearray(), "image/jpeg", {}),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _digest(df) -> str:
    lines = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join([",".join(df.columns), *lines]).encode()).hexdigest()


#: case -> (kwargs, sha256 of the sorted rows), recorded before the
#: extractors shared one driver.
GOLDEN = {
    "detect_scene_cuts": (
        {},
        "45ec3bd461fb7f08507da5696f9725a115a18ad832b9b94a123d7ae969d4c940",
    ),
    "extract_audio_features": (
        {},
        "bc47abdc32c642664f2d7d754de451654e6f890ae01a29a0950f7828b8bc49c8",
    ),
    "extract_audio_mfcc": (
        {},
        "cda0780de8c12484e2fca3035e334f1b4b870f93e22cfcdc8ed4d5ecc86a21ff",
    ),
    "extract_audio_mfcc[n_mfcc=5]": (
        {'n_mfcc': 5},
        "68aa90d92644b69f158311f6184188a9f6422b52f19696ac5456b54aa2ff7b17",
    ),
    "extract_audio_spectral": (
        {},
        "3960ac1702dd5cad8ce64c138e410f5414cbd0e9d64dc5225bb18e52623b51f9",
    ),
    "extract_container_metadata": (
        {},
        "18e5baeab5e8b6601ec7282aada8573923abd876d0e30e6e32dd96fbd41e9b9f",
    ),
    "extract_image_features": (
        {},
        "846348bffa76b8e927b87c9b578285756a3e967b7cb944c55d7fd5274ca34d71",
    ),
    "extract_image_metadata": (
        {},
        "12e8b6ecb21fd313cae9bdb79749c247e996cb2e6feeaa3736ab427fe4b973cb",
    ),
    "extract_video_frame_features": (
        {},
        "972d7e2784f73f0d9e69da5531040496966c9104d8a8fe128994a00a9485823e",
    ),
    "extract_video_frame_features[every_n=2,max_frames=2]": (
        {'every_n': 2, 'max_frames': 2},
        "21754b36ddc1b538de751cfe388bc44b1eb014216105494d021e19c60415a842",
    ),
    "resize_images": (
        {},
        "bca962d25fdfe6c22e5c31e4bde902a6402e73c4564923ba88ce76a5d6f232b6",
    ),
    "resize_images[max_dim=100]": (
        {'max_dim': 100},
        "3a85a076b7d28cdc60bdcf6817134cc67a7568453c4d6ebdf6f677a064116cb5",
    ),
    "sample_video_frames": (
        {},
        "122589ee7a85fc15c15a5ed70fd6cda39a837e81515d65ca4526ec13d9e373b0",
    ),
    "sample_video_frames[every_n=3,max_frames=5]": (
        {'every_n': 3, 'max_frames': 5},
        "a1be5a32eaec4fb1b018577b6a9396199434f33a186c6f4967dd7308449236de",
    ),
    "standardize_audio": (
        {},
        "f48fd296b0b3c8c8b7c5f88506e55caf00d40648eae29cd8cadb532076635a8c",
    ),
    "standardize_audio[target_rate=8000]": (
        {'target_rate': 8000},
        "16913d31dfeb05ae3f87b9574e131b8255d5723ff25737713fdb5e837d58b328",
    ),
}


@pytest.mark.parametrize("case", sorted(GOLDEN))
def test_fake_extractor_rows_are_pinned(mixed, case):
    kwargs, want = GOLDEN[case]
    fn = getattr(mm, case.split("[")[0])
    assert _digest(fn(mixed, fake=True, **kwargs)) == want


#: The nine extractors that turn an unsupported payload into
#: ``NotImplementedError``; the value is the bad asset's modality and
#: whether the extractor takes ``on_error``.
RAISING = {
    "extract_image_features": ("image", True),
    "extract_audio_features": ("audio", True),
    "extract_audio_spectral": ("audio", False),
    "sample_video_frames": ("video", True),
    "extract_audio_mfcc": ("audio", False),
    "extract_video_frame_features": ("video", False),
    "detect_scene_cuts": ("video", False),
    "standardize_audio": ("audio", False),
    "resize_images": ("image", False),
}


@pytest.fixture(scope="module")
def with_bad(spark):
    """One decodable asset per modality (ids 1-3) plus an MKV payload
    under each modality (all ``BAD_ID``)."""
    good = {
        "image": encode_bmp(np.full((4, 6, 3), 90, dtype=np.uint8)),
        "audio": encode_wav(_tone(400, 220.0), 8000),
        "video": _gif([5, 50]),
    }
    rows = [
        (i, m, bytearray(p), None, {}) for i, (m, p) in enumerate(good.items(), 1)
    ] + [(BAD_ID, m, bytearray(MKV), None, {}) for m in good]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


@pytest.mark.parametrize("name", sorted(RAISING))
def test_unsupported_payload_raises_naming_the_asset(with_bad, name):
    modality, _ = RAISING[name]
    with pytest.raises(Exception) as ei:
        getattr(mm, name)(with_bad).collect()
    msg = str(ei.value)
    assert "NotImplementedError" in msg or isinstance(ei.value, NotImplementedError)
    assert f"asset {BAD_ID}" in msg


@pytest.mark.parametrize("name", sorted(n for n, (_, s) in RAISING.items() if s))
def test_skip_mode_drops_only_the_unsupported_asset(with_bad, name):
    modality, _ = RAISING[name]
    good_id = {"image": 1, "audio": 2, "video": 3}[modality]
    got = {r.asset_id for r in getattr(mm, name)(with_bad, on_error="skip").collect()}
    assert got == {good_id}


def _calls_and_raises(path: Path) -> tuple[int, int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    calls = sum(
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "mapInPandas"
        for n in ast.walk(tree)
    )
    raises = 0
    for n in ast.walk(tree):
        if isinstance(n, ast.Raise) and n.exc is not None:
            exc = n.exc.func if isinstance(n.exc, ast.Call) else n.exc
            raises += isinstance(exc, ast.Name) and exc.id == "NotImplementedError"
    return calls, raises


def test_one_batch_loop_and_one_decode_error_site():
    assert _calls_and_raises(Path(mm.__file__)) == (1, 1)
