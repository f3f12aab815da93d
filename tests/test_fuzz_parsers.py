"""Parser fuzz: arbitrary bytes into every dependency-free parser must
either parse or raise ``UnsupportedMediaError`` — never a stray
``struct.error``/``IndexError``/``MemoryError``. This is the crawl
contract: triage operators catch ``UnsupportedMediaError`` (plus
ValueError/struct.error defensively), so any OTHER escape class would
crash a 100 TB pass on one garbage payload.

Two generators: pure random bytes, and "near-miss" payloads that start
with a real magic number followed by junk — the adversarial case real
crawls produce constantly (truncated uploads, mislabeled files).
"""

from __future__ import annotations

import struct

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from commerce_sessionization_spark.functions.codecs import UnsupportedMediaError

#: Exception classes the triage operators catch — anything else escaping
#: a parser is a bug (see operators/multimodal.py except clauses).
ALLOWED = (UnsupportedMediaError, ValueError, struct.error)

MAGICS = [
    b"BM",
    b"\x89PNG\r\n\x1a\n",
    b"\xff\xd8\xff\xe0",
    b"RIFF\x20\x00\x00\x00WEBP",
    b"RIFF\x20\x00\x00\x00WAVE",
    b"GIF89a",
    b"II*\x00",
    b"MM\x00*",
    b"OggS",
    b"fLaC",
    b"ID3\x04\x00\x00",
    b"\x00\x00\x00\x20ftypisom",
    b"\x00\x00\x00\x20ftypavif",
    b"%PDF-1.4\n",
    b"PK\x03\x04",
    b"WARC/1.0\r\n",
]


def _parsers():
    from commerce_sessionization_spark.functions.codecs import (
        decode_bmp,
        decode_gif,
        decode_jpeg,
        decode_png,
        decode_wav,
        image_features,
    )
    from commerce_sessionization_spark.functions.containers import (
        container_metadata,
        parse_avif,
        parse_flac,
        parse_mp3,
        parse_mp4,
        parse_ogg,
        sniff_container,
    )
    from commerce_sessionization_spark.functions.docx import (
        extract_docx_text,
        parse_docx,
    )
    from commerce_sessionization_spark.functions.metadata import (
        parse_jpeg_exif,
        parse_png_metadata,
        parse_tiff_exif,
    )
    from commerce_sessionization_spark.functions.pdf import (
        extract_pdf_text,
        parse_pdf,
    )
    from commerce_sessionization_spark.functions.tiff import (
        decode_tiff,
        tiff_page_count,
    )
    from commerce_sessionization_spark.functions.containers import (
        mp4_fragment_index,
        mp4_sample_index,
    )
    from commerce_sessionization_spark.functions.tiff import (
        packbits_decode,
        tiff_lzw_decode,
    )
    from commerce_sessionization_spark.functions.warc import (
        parse_http_response,
        parse_warc,
    )

    return [
        mp4_sample_index, mp4_fragment_index,
        packbits_decode, tiff_lzw_decode,
        parse_http_response,
        decode_bmp, decode_gif, decode_jpeg, decode_png, decode_wav,
        lambda b: image_features(1, b),
        lambda b: container_metadata(1, b),
        parse_avif, parse_flac, parse_mp3, parse_mp4, parse_ogg,
        sniff_container,
        parse_docx, extract_docx_text,
        parse_jpeg_exif, parse_png_metadata, parse_tiff_exif,
        parse_pdf, extract_pdf_text,
        decode_tiff, tiff_page_count,
        parse_warc,
    ]


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(payload=st.binary(max_size=400))
def test_random_bytes_never_escape_the_contract(payload):
    for fn in _parsers():
        try:
            fn(payload)
        except ALLOWED:
            pass


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    magic=st.sampled_from(MAGICS),
    junk=st.binary(max_size=300),
)
def test_magic_plus_junk_never_escapes(magic, junk):
    payload = magic + junk
    for fn in _parsers():
        try:
            fn(payload)
        except ALLOWED:
            pass


def test_extract_image_features_skip_mode(spark):
    """on_error='skip' — the crawl contract: one garbage payload must
    drop its row, not kill the whole 100 TB pass."""
    import numpy as np

    from commerce_sessionization_spark.functions.codecs import encode_bmp
    from commerce_sessionization_spark.operators import extract_image_features
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    img = np.zeros((4, 6, 3), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(encode_bmp(img)), "image/bmp", {}),
        (2, "image", bytearray(b"II*\x00\x00\x00\x00\x00"), "image/tiff", {}),
        (3, "image", bytearray(b"total garbage"), "image/jpeg", {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_image_features(df, on_error="skip").collect()
    assert [r["asset_id"] for r in out] == [1]
    assert (out[0]["width"], out[0]["height"]) == (6, 4)


def test_image_features_skip_mode_survives_struct_error(spark):
    """The fuzz contract lets decoders raise ValueError/struct.error on
    garbage; on_error='skip' must catch those too (a TIFF whose IFD value
    pointer is out of bounds raises struct.error), or one payload kills
    the pass skip mode exists to protect."""
    import numpy as np

    from commerce_sessionization_spark.functions.codecs import encode_bmp
    from commerce_sessionization_spark.operators import extract_image_features
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    bad_tiff = (
        b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
        + struct.pack("<HHI", 0x0111, 4, 2) + struct.pack("<I", 0xFFFF)
        + struct.pack("<I", 0)
    )  # StripOffsets value pointer far out of bounds -> struct.error
    img = np.zeros((4, 6, 3), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(encode_bmp(img)), "image/bmp", {}),
        (2, "image", bytearray(bad_tiff), "image/tiff", {}),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_image_features(df, on_error="skip").collect()
    assert [r["asset_id"] for r in out] == [1]


def test_sample_video_frames_moovless_mp4_contract(spark):
    """ftyp sniffs as mp4 but moov is absent: raise mode must surface the
    documented NotImplementedError (not a raw UnsupportedMediaError
    through the task) and skip mode must drop the row, like the GIF
    branch."""
    import pytest

    from commerce_sessionization_spark.operators import sample_video_frames
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    moovless = struct.pack(">I", 16) + b"ftypisom" + b"\x00\x00\x02\x00"
    rows = [(7, "video", bytearray(moovless), "video/mp4", {})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    with pytest.raises(Exception) as ei:
        sample_video_frames(df).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )
    assert sample_video_frames(df, on_error="skip").collect() == []


def test_extract_document_text_encrypted_zip_never_fails_pass(spark):
    """zipfile raises RuntimeError for encrypted members; the documented
    contract is 'extraction never fails the pass' — the row must come
    back with format='unknown', not crash the job."""
    import io
    import zipfile

    from commerce_sessionization_spark.operators import extract_document_text
    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    bio = io.BytesIO()
    with zipfile.ZipFile(bio, "w") as z:
        z.writestr("word/document.xml", "<w:document/>")
    data = bytearray(bio.getvalue())
    data[data.find(b"PK\x03\x04") + 6] |= 1  # local header: encrypted bit
    data[data.find(b"PK\x01\x02") + 8] |= 1  # central dir: encrypted bit
    rows = [(9, "document", data, "application/docx", {})]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = extract_document_text(df).collect()
    assert len(out) == 1
    assert out[0]["format"] == "unknown"


def test_document_extraction_zip_errors_swallowed_only_for_pk(monkeypatch):
    """The RuntimeError/NotImplementedError swallow exists for zipfile's
    encrypted-member / unsupported-compression signals, which only arise
    on PK-prefixed payloads. The same exception escaping a PDF decoder
    is a bug and must PROPAGATE — masking it as format='unknown' would
    silently drop real documents from the corpus."""
    import pytest

    from commerce_sessionization_spark.operators import multimodal

    def boom(_payload):
        raise RuntimeError("decoder bug")

    monkeypatch.setattr(multimodal, "_decode_text_bytes", boom)
    with pytest.raises(RuntimeError, match="decoder bug"):
        multimodal._extract_document_rec(1, b"hello", "text/plain")

    # PK-prefixed payloads keep the documented degradation: zipfile's
    # RuntimeError (here via a stubbed parse_docx) -> format='unknown'.
    import commerce_sessionization_spark.functions.docx as docx_mod

    def zip_boom(_payload):
        raise RuntimeError("File <x> is encrypted, password required")

    monkeypatch.setattr(docx_mod, "parse_docx", zip_boom)
    rec = multimodal._extract_document_rec(2, b"PK\x03\x04junk", "application/docx")
    assert rec["format"] == "unknown"


def test_corrupt_docx_mutants_degrade_to_unknown():
    """Seeded byte-mutants of a valid DOCX: a damaged zip (bad CRC or
    header, corrupt deflate stream, truncated member) must come back as
    format='unknown', never fail the document pass."""
    import random

    from commerce_sessionization_spark.functions.docx import build_docx
    from commerce_sessionization_spark.operators import multimodal

    good = build_docx(["hello world paragraph"] * 20, title="T", author="A")
    rnd = random.Random(0)
    formats = []
    for i in range(400):
        mutant = bytearray(good)
        for _ in range(rnd.randint(1, 4)):
            # keep the PK magic so every mutant reaches the zip layer
            mutant[rnd.randrange(4, len(mutant))] = rnd.randrange(256)
        rec = multimodal._extract_document_rec(i, bytes(mutant), "application/docx")
        formats.append(rec["format"])
    # both outcomes occur: the mutants hit payload bytes and zip structure
    assert set(formats) == {"docx", "unknown"}
