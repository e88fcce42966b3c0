"""ZIP-container document extraction — DOCX and EPUB, stdlib only.

After PDF (``datapipe/pdf.py``) the largest real-corpus document
family is the OPC/OCF zip containers: DOCX (ECMA-376 / ISO 29500
WordprocessingML), EPUB (IDPF OCF + OPF package), ODT.  A 100-TB
text-corpus pipeline meets these as crawled attachments and book
dumps; this module is the extraction half plus the deterministic
synthesis twin the driver rows verify against, the same recipe as
``pdf.py::encode_pdf`` and ``tarshard.py::encode_tar_shard``.

DOCX (ECMA-376 part 1, WordprocessingML):

- :func:`docx_text` — ``word/document.xml`` paragraph walk: every
  ``w:p`` in document order (tables included — ``w:tbl`` cells hold
  ordinary paragraphs), runs assemble from ``w:t`` text (with
  ``xml:space`` semantics preserved by the XML parser), ``w:tab`` ->
  TAB, ``w:br``/``w:cr`` -> newline.  Paragraphs join with newline.
- :func:`encode_docx` — minimal valid OPC package
  ([Content_Types].xml, _rels/.rels, word/document.xml) with TAB and
  newline characters in paragraph text mapped back to ``w:tab`` /
  ``w:br`` so the interesting run structure is exercised.

EPUB (OCF 3.0 container + OPF package document):

- :func:`epub_chapters` — ``META-INF/container.xml`` -> rootfile ->
  OPF manifest/spine -> XHTML members **in spine order** (storage
  order deliberately differs in the synthesis twin so a green driver
  row proves spine ordering), each XHTML reduced to text with
  block-level elements (p, h1-h6, li, div, ...) starting new lines,
  whitespace runs collapsed per line.
- :func:`encode_epub` — mimetype member STORED first (OCF 3.0 §3.3),
  container.xml, OPF with manifest + spine, one XHTML per chapter.

Malformed input contract matches the other extractors: structural
corruption (bad zip, missing parts, XML parse errors, dangling spine
refs) raises ``ValueError``; nothing is silently skipped.

Scale shape: one document = one input row; extraction runs
partition-local inside Arrow ``mapInPandas`` — zero shuffle,
scan-parallel, the exact plan shape of the PDF/WARC/media decoders.
"""

from __future__ import annotations

import io as _io
import re as _re
import xml.etree.ElementTree as _ET
from xml.sax.saxutils import escape as _xml_escape

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._util import map_blobs, spread

from .tarshard import parse_zip_members, zip_bytes

__all__ = ["docx_text", "extract_docx_text", "encode_docx",
           "epub_chapters", "extract_epub_text", "encode_epub",
           "odt_text", "extract_odt_text", "encode_odt",
           "DOCX_TEXT_SCHEMA", "EPUB_CHAPTER_SCHEMA"]

_W_NS = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
_CT_NS = "http://schemas.openxmlformats.org/package/2006/content-types"
_REL_NS = "http://schemas.openxmlformats.org/package/2006/relationships"
_CNT_NS = "urn:oasis:names:tc:opendocument:xmlns:container"
_OPF_NS = "http://www.idpf.org/2007/opf"
_XHTML_NS = "http://www.w3.org/1999/xhtml"


def _zip_map(content: bytes) -> dict[str, bytes]:
    return dict(parse_zip_members(content))


def _parse_xml(data: bytes, what: str) -> _ET.Element:
    try:
        return _ET.fromstring(data)
    except _ET.ParseError as exc:
        raise ValueError(f"malformed {what} XML: {exc}") from exc


# ------------------------------------------------------------- DOCX

def docx_text(content: bytes) -> tuple[str, int]:
    """``(text, n_paragraphs)`` from DOCX bytes: paragraphs in
    document order joined by newline; see module docstring for the
    run-assembly rules."""
    members = _zip_map(content)
    doc = members.get("word/document.xml")
    if doc is None:
        raise ValueError("DOCX without word/document.xml")
    root = _parse_xml(doc, "word/document.xml")
    w = "{%s}" % _W_NS
    paras = []
    for p in root.iter(w + "p"):
        buf = []
        for node in p.iter():
            tag = node.tag
            if tag == w + "t":
                buf.append(node.text or "")
            elif tag == w + "tab":
                buf.append("\t")
            elif tag in (w + "br", w + "cr"):
                buf.append("\n")
        paras.append("".join(buf))
    return "\n".join(paras), len(paras)


DOCX_TEXT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_paragraphs", T.IntegerType()),
])


def extract_docx_text(df: DataFrame, content_col: str = "content",
                      id_col: str = "doc_id") -> DataFrame:
    """One row per document: ``(doc_id, text, n_paragraphs)`` —
    Arrow ``mapInPandas`` over :func:`docx_text`, zero shuffle."""
    return map_blobs(spread(df), DOCX_TEXT_SCHEMA,
                     lambda b: [docx_text(b)], id_col, content_col)


_DOCX_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Types xmlns="{_CT_NS}">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.'
    'main+xml"/></Types>'
).encode()

_DOCX_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    f'<Relationships xmlns="{_REL_NS}">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/></Relationships>'
).encode()


def _docx_runs(text: str) -> str:
    """Paragraph text -> ``w:r`` XML, mapping TAB -> ``w:tab`` and
    newline -> ``w:br`` (the inverse of the :func:`docx_text` walk).
    Text segments carry ``xml:space="preserve"`` so leading/trailing
    blanks survive the XML parser."""
    out = []
    for piece in _re.split(r"([\t\n])", text):
        if piece == "\t":
            out.append("<w:r><w:tab/></w:r>")
        elif piece == "\n":
            out.append("<w:r><w:br/></w:r>")
        elif piece:
            out.append('<w:r><w:t xml:space="preserve">'
                       f"{_xml_escape(piece)}</w:t></w:r>")
    return "".join(out)


def encode_docx(paragraphs: list[str],
                table_cells: list[str] | None = None) -> bytes:
    """Deterministic DOCX bytes: the given paragraphs in order, then
    (optionally) a one-row table whose cells each hold one paragraph
    — exercising the table-paragraph path of :func:`docx_text`."""
    body = [f"<w:p>{_docx_runs(p)}</w:p>" for p in paragraphs]
    if table_cells:
        cells = "".join(
            f"<w:tc><w:p>{_docx_runs(c)}</w:p></w:tc>"
            for c in table_cells)
        body.append(f"<w:tbl><w:tr>{cells}</w:tr></w:tbl>")
    document = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<w:document xmlns:w="{_W_NS}"><w:body>'
        + "".join(body) + "<w:sectPr/></w:body></w:document>"
    ).encode()
    return zip_bytes([
        ("[Content_Types].xml", _DOCX_CONTENT_TYPES),
        ("_rels/.rels", _DOCX_RELS),
        ("word/document.xml", document),
    ])


# ------------------------------------------------------------- EPUB

#: block-level XHTML elements that start a new output line — the
#: Python-side dual of textstats.BLOCK_TAGS (which is a JVM regexp)
_XHTML_BLOCKS = frozenset(
    "p div li tr td th h1 h2 h3 h4 h5 h6 section article main header "
    "footer nav aside ul ol table blockquote form figure pre title "
    "body br".split())
_XHTML_SKIP = frozenset(("script", "style", "head"))


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def _xhtml_lines(el: _ET.Element, lines: list[str],
                 cur: list[str]) -> None:
    tag = _localname(el.tag)
    if tag in _XHTML_SKIP:
        return
    block = tag in _XHTML_BLOCKS
    if block and cur:
        lines.append("".join(cur))
        cur.clear()
    if el.text:
        cur.append(el.text)
    for child in el:
        _xhtml_lines(child, lines, cur)
        if child.tail:
            cur.append(child.tail)
    if block and cur:
        lines.append("".join(cur))
        cur.clear()


def xhtml_text(data: bytes, what: str = "XHTML") -> str:
    """Well-formed XHTML -> text: block elements start new lines,
    whitespace runs collapse within a line, blank lines drop."""
    root = _parse_xml(data, what)
    lines: list[str] = []
    cur: list[str] = []
    _xhtml_lines(root, lines, cur)
    if cur:
        lines.append("".join(cur))
    out = []
    for ln in lines:
        ln = _re.sub(r"\s+", " ", ln).strip()
        if ln:
            out.append(ln)
    return "\n".join(out)


def _opf_path(members: dict[str, bytes]) -> str:
    container = members.get("META-INF/container.xml")
    if container is None:
        raise ValueError("EPUB without META-INF/container.xml")
    root = _parse_xml(container, "container")
    for rf in root.iter("{%s}rootfile" % _CNT_NS):
        path = rf.get("full-path")
        if path:
            return path
    raise ValueError("EPUB container.xml without a rootfile")


def epub_chapters(content: bytes) -> list[tuple[int, str]]:
    """``[(chapter_no, text)]`` in SPINE order (not storage order):
    container -> OPF -> manifest hrefs resolved relative to the OPF
    directory -> spine itemrefs -> :func:`xhtml_text` per member."""
    members = _zip_map(content)
    opf_path = _opf_path(members)
    opf = members.get(opf_path)
    if opf is None:
        raise ValueError(f"EPUB rootfile {opf_path!r} missing")
    root = _parse_xml(opf, "OPF")
    base = opf_path.rsplit("/", 1)[0] + "/" if "/" in opf_path else ""
    manifest = {}
    for item in root.iter("{%s}item" % _OPF_NS):
        iid, href = item.get("id"), item.get("href")
        if iid and href:
            manifest[iid] = base + href
    out = []
    n = 0
    for ref in root.iter("{%s}itemref" % _OPF_NS):
        idref = ref.get("idref")
        href = manifest.get(idref or "")
        if href is None:
            raise ValueError(f"EPUB spine idref {idref!r} not in "
                             "manifest")
        data = members.get(href)
        if data is None:
            raise ValueError(f"EPUB spine member {href!r} missing")
        out.append((n, xhtml_text(data, href)))
        n += 1
    if not out:
        raise ValueError("EPUB with an empty spine")
    return out


EPUB_CHAPTER_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("chapter_no", T.IntegerType()),
    T.StructField("text", T.StringType()),
])


def extract_epub_text(df: DataFrame, content_col: str = "content",
                      id_col: str = "doc_id") -> DataFrame:
    """One row per spine chapter: ``(doc_id, chapter_no, text)`` —
    Arrow ``mapInPandas`` over :func:`epub_chapters`, zero shuffle."""
    return map_blobs(spread(df), EPUB_CHAPTER_SCHEMA, epub_chapters,
                     id_col, content_col)


_EPUB_CONTAINER = (
    '<?xml version="1.0" encoding="UTF-8"?>'
    f'<container version="1.0" xmlns="{_CNT_NS}">'
    '<rootfiles><rootfile full-path="OEBPS/content.opf" '
    'media-type="application/oebps-package+xml"/></rootfiles>'
    '</container>'
).encode()


def encode_epub(chapters: list[tuple[str, list[str]]],
                reverse_storage: bool = False) -> bytes:
    """Deterministic EPUB bytes from ``[(title, paragraphs)]``: one
    XHTML per chapter (``<h1>`` title + ``<p>`` paragraphs), OPF
    spine in the given order.  ``reverse_storage=True`` stores the
    chapter members in REVERSE zip order while the spine stays
    forward — extraction must follow the spine to come out right."""
    items, refs, files = [], [], []
    for i, (title, paras) in enumerate(chapters):
        name = f"chap{i}.xhtml"
        body = f"<h1>{_xml_escape(title)}</h1>" + "".join(
            f"<p>{_xml_escape(p)}</p>" for p in paras)
        xhtml = (
            '<?xml version="1.0" encoding="UTF-8"?>'
            f'<html xmlns="{_XHTML_NS}"><head><title>'
            f"{_xml_escape(title)}</title></head><body>"
            f"{body}</body></html>"
        ).encode()
        items.append(f'<item id="c{i}" href="{name}" '
                     'media-type="application/xhtml+xml"/>')
        refs.append(f'<itemref idref="c{i}"/>')
        files.append((f"OEBPS/{name}", xhtml))
    opf = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<package xmlns="{_OPF_NS}" version="3.0" '
        'unique-identifier="uid"><metadata/>'
        f'<manifest>{"".join(items)}</manifest>'
        f'<spine>{"".join(refs)}</spine></package>'
    ).encode()
    if reverse_storage:
        files.reverse()
    return zip_bytes(
        [("mimetype", b"application/epub+zip", False),
         ("META-INF/container.xml", _EPUB_CONTAINER),
         ("OEBPS/content.opf", opf)] + files)


# -------------------------------------------------------------- ODT

_ODT_TEXT_NS = "urn:oasis:names:tc:opendocument:xmlns:text:1.0"
_ODT_OFFICE_NS = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"


def odt_text(content: bytes) -> tuple[str, int]:
    """``(text, n_paragraphs)`` from ODT bytes (OASIS ODF 1.2
    ``content.xml``): every ``text:p`` and ``text:h`` in document
    order (table cells hold ordinary paragraphs, so they ride the
    same walk), ``text:tab`` -> TAB, ``text:line-break`` -> newline,
    ``text:s`` -> its ``text:c`` count of spaces (ODF whitespace
    compression).  Same join/raise contract as :func:`docx_text`."""
    members = _zip_map(content)
    doc = members.get("content.xml")
    if doc is None:
        raise ValueError("ODT without content.xml")
    root = _parse_xml(doc, "content.xml")
    t = "{%s}" % _ODT_TEXT_NS
    paras = []
    for p in root.iter():
        if p.tag not in (t + "p", t + "h"):
            continue
        buf = []
        if p.text:
            buf.append(p.text)
        for node in p.iter():
            if node is p:
                continue
            if node.tag == t + "tab":
                buf.append("\t")
            elif node.tag == t + "line-break":
                buf.append("\n")
            elif node.tag == t + "s":
                buf.append(" " * int(node.get(t + "c", "1") or "1"))
            elif node.text and node.tag != t + "note":
                buf.append(node.text)
            if node.tail:
                buf.append(node.tail)
        paras.append("".join(buf))
    return "\n".join(paras), len(paras)


def extract_odt_text(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """One row per document: ``(doc_id, text, n_paragraphs)`` — the
    ODT twin of :func:`extract_docx_text` (same schema, same
    zero-shuffle Arrow plan)."""
    return map_blobs(spread(df), DOCX_TEXT_SCHEMA,
                     lambda b: [odt_text(b)], id_col, content_col)


def _odt_spans(text: str) -> str:
    """Paragraph text -> ODF inline XML: TAB -> ``text:tab``,
    newline -> ``text:line-break``, runs of 2+ spaces -> one space +
    ``text:s text:c=...`` (the ODF whitespace-compression rule)."""
    out = []
    for piece in _re.split(r"([\t\n]| {2,})", text):
        if piece == "\t":
            out.append("<text:tab/>")
        elif piece == "\n":
            out.append("<text:line-break/>")
        elif piece.startswith("  "):
            out.append(f' <text:s text:c="{len(piece) - 1}"/>')
        elif piece:
            out.append(_xml_escape(piece))
    return "".join(out)


def encode_odt(paragraphs: list[str],
               heading: str | None = None) -> bytes:
    """Deterministic ODT bytes: optional ``text:h`` heading then the
    paragraphs; mimetype member STORED first per the ODF package
    spec."""
    body = []
    if heading is not None:
        body.append(f"<text:h>{_odt_spans(heading)}</text:h>")
    body += [f"<text:p>{_odt_spans(p)}</text:p>" for p in paragraphs]
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        f'<office:document-content xmlns:office="{_ODT_OFFICE_NS}" '
        f'xmlns:text="{_ODT_TEXT_NS}"><office:body><office:text>'
        + "".join(body)
        + "</office:text></office:body></office:document-content>"
    ).encode()
    return zip_bytes([
        ("mimetype",
         b"application/vnd.oasis.opendocument.text", False),
        ("content.xml", content),
    ])
