"""DOCX text extraction — stdlib-only (OOXML WordprocessingML).

The second document container a corpus pass meets after PDF. A DOCX is
a zip package; visible text lives in ``word/document.xml`` as ``<w:t>``
runs inside ``<w:p>`` paragraphs, and provenance metadata in
``docProps/core.xml`` / ``app.xml``. stdlib ``zipfile`` + regex cover
the fast extraction path end-to-end — no XML library needed for this
grammar subset (attribute-free text runs).

Public spec: ECMA-376 / ISO 29500 (OOXML). Reference parity note: the
reference repo has no document surface; north star.
"""

from __future__ import annotations

import io
import re
import zipfile
import zlib

from commerce_sessionization_spark.functions.codecs import UnsupportedMediaError

#: What a damaged zip raises while it is read: a bad header or CRC, a
#: corrupt deflate stream, a member cut short.
_CORRUPT_ZIP = (zipfile.BadZipFile, zlib.error, EOFError)


def parse_docx(payload: bytes) -> dict:
    """Structure + core properties of a DOCX: paragraph count, Title /
    Creator / Application (docProps/core.xml + app.xml)."""
    buf = bytes(payload or b"")
    if buf[:4] != b"PK\x03\x04":
        raise UnsupportedMediaError("not a DOCX (zip) payload")
    try:
        zf = zipfile.ZipFile(io.BytesIO(buf))
        names = set(zf.namelist())
        if "word/document.xml" not in names:
            raise UnsupportedMediaError("zip is not a DOCX (no document.xml)")
        doc, core, app = (
            zf.read(part) if part in names else b""
            for part in ("word/document.xml", "docProps/core.xml", "docProps/app.xml")
        )
    except _CORRUPT_ZIP as e:
        raise UnsupportedMediaError(f"docx: bad zip: {e}") from None

    def prop(xml: bytes, tag: bytes) -> str | None:
        m = re.search(rb"<" + tag + rb"[^>]*>([^<]*)</" + tag + rb">", xml)
        return m.group(1).decode("utf-8", "replace") if m else None

    return {
        "n_paragraphs": len(re.findall(rb"<w:p[ >]", doc)),
        "title": prop(core, rb"dc:title"),
        "author": prop(core, rb"dc:creator"),
        "producer": prop(app, rb"Application"),
    }


def extract_docx_text(payload: bytes) -> list[str]:
    """Paragraph texts from word/document.xml, in document order.

    WordprocessingML keeps visible text in ``<w:t>`` runs inside
    ``<w:p>`` paragraphs; tabs/breaks (``<w:tab/>``, ``<w:br/>``) map
    to whitespace. XML entities decode; everything else strips. This is
    the fast extraction path — numbering, tables (their cells' text
    appears in order), headers/footers and embedded objects are out of
    scope by design.
    """
    buf = bytes(payload or b"")
    if buf[:4] != b"PK\x03\x04":
        raise UnsupportedMediaError("not a DOCX (zip) payload")
    try:
        doc = zipfile.ZipFile(io.BytesIO(buf)).read("word/document.xml")
    except (*_CORRUPT_ZIP, KeyError) as e:
        raise UnsupportedMediaError(f"docx: {e}") from None
    paragraphs = []
    for pm in re.finditer(rb"<w:p[ >].*?</w:p>", doc, re.S):
        block = pm.group(0)
        block = re.sub(rb"<w:(?:tab|br)\s*/>", b" ", block)
        texts = re.findall(rb"<w:t(?:\s[^>]*)?>(.*?)</w:t>", block, re.S)
        text = b"".join(texts).decode("utf-8", "replace")
        for ent, rep in (
            ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
            ("&apos;", "'"), ("&amp;", "&"),
        ):
            text = text.replace(ent, rep)
        paragraphs.append(text)
    return paragraphs


def build_docx(
    paragraphs: list[str], title: str | None = None, author: str = "fixture"
) -> bytes:
    """Minimal valid DOCX for tests: [Content_Types], rels, document.xml,
    core/app props — the parts every real reader requires."""

    def xml_esc(s: str) -> str:
        return (
            s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        )

    body = "".join(
        f"<w:p><w:r><w:t xml:space=\"preserve\">{xml_esc(p)}</w:t></w:r></w:p>"
        for p in paragraphs
    )
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>'
        f"{body}</w:body></w:document>"
    )
    core = (
        '<?xml version="1.0"?><cp:coreProperties '
        'xmlns:cp="http://schemas.openxmlformats.org/package/2006/'
        'metadata/core-properties" '
        'xmlns:dc="http://purl.org/dc/elements/1.1/">'
        + (f"<dc:title>{xml_esc(title)}</dc:title>" if title else "")
        + f"<dc:creator>{xml_esc(author)}</dc:creator></cp:coreProperties>"
    )
    app = (
        '<?xml version="1.0"?><Properties xmlns="http://schemas.'
        'openxmlformats.org/officeDocument/2006/extended-properties">'
        "<Application>fixture-writer</Application></Properties>"
    )
    ctypes = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.'
        'openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.'
        'openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/word/document.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.wordprocessingml.document.'
        'main+xml"/></Types>'
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
        'openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="word/document.xml"/></Relationships>'
    )
    out = io.BytesIO()
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", ctypes)
        zf.writestr("_rels/.rels", rels)
        zf.writestr("word/document.xml", document)
        zf.writestr("docProps/core.xml", core)
        zf.writestr("docProps/app.xml", app)
    return out.getvalue()
