"""Document router — magic-byte dispatch over the extraction tier.

A real crawl's attachment column is MIXED: PDFs next to DOCX next to
EPUB next to RTF next to raw HTML.  This module is the front door
that routes each blob to the right extractor by CONTENT (magic
bytes + container members), never by filename — the same
decode-by-sniff law as ``multimodal.decode_image``:

- ``%PDF-``                      -> :func:`pdf.pdf_text_pages`
- zip + ``word/document.xml``    -> :func:`zipdoc.docx_text`
- zip + ``META-INF/container.xml`` -> :func:`zipdoc.epub_chapters`
- zip + ``content.xml``          -> :func:`zipdoc.odt_text`
- ``{\\rtf``                     -> :func:`rtf.rtf_text`
- anything else that decodes as UTF-8 is LABELED (raw string
  returned verbatim, r14): ``latex`` on ``\\documentclass`` /
  ``\\begin{document}``, ``ipynb`` on JSON carrying ``"nbformat"``
  + ``"cells"``, ``html`` on a tag, ``markdown`` on ATX / fence /
  inline-link markers, else ``text`` — stripping/parsing is the
  downstream scan-level stage (``textstats.strip_html`` /
  ``strip_latex`` / ``strip_markdown``, ``notebook.ipynb_text``),
  kept out of here so the router stays a pure dispatcher;
- undecodable binary -> ``format='unknown'``, NULL text (triage row,
  never an exception — a mixed corpus ALWAYS contains junk, and the
  router's job is to label it, not die on it; per-format structural
  corruption inside a RECOGNIZED format still raises, because a
  half-parsed PDF is a bug, not junk).

Scale shape: one blob = one row, Arrow ``mapInPandas``, zero
shuffle — the router adds dispatch, not plan complexity.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._util import map_blobs, spread

#: markdown is a HEURISTIC label (there is no magic byte): an ATX
#: heading at line start, a fenced code block, or an inline link —
#: any one in the head is decisive enough for routing; plain prose
#: with none of them stays ``text``
_MD_MARKER = re.compile(
    r"(?m)^#{1,6} |^```|\]\(https?://", re.ASCII)

__all__ = ["route_document", "extract_documents", "DOC_ROUTE_SCHEMA"]


def route_document(content: bytes) -> tuple[str, str | None, int]:
    """``(format, text, n_units)`` for one blob; ``n_units`` is the
    format's natural count (pages / paragraphs / chapters / 1)."""
    if content.startswith(b"%PDF-"):
        from .pdf import pdf_text_pages
        pages = pdf_text_pages(content)
        return "pdf", "\n".join(pages), len(pages)
    if content.startswith(b"{\\rtf"):
        from .rtf import rtf_text
        text, n = rtf_text(content)
        return "rtf", text, n
    if content.startswith(b"PK\x03\x04"):
        from .tarshard import parse_zip_members
        from . import zipdoc
        names = {n for n, _ in parse_zip_members(content)}
        if "word/document.xml" in names:
            text, n = zipdoc.docx_text(content)
            return "docx", text, n
        if "META-INF/container.xml" in names:
            chapters = zipdoc.epub_chapters(content)
            return ("epub", "\n".join(t for _, t in chapters),
                    len(chapters))
        if "content.xml" in names:
            text, n = zipdoc.odt_text(content)
            return "odt", text, n
        return "unknown", None, 0
    try:
        text = content.decode("utf-8")
    except UnicodeDecodeError:
        return "unknown", None, 0
    head = text[:4096]
    low = head.lower()
    # the text formats are LABELED here, raw text returned verbatim
    # — stripping/parsing is the downstream scan-level stage
    # (strip_latex / strip_markdown / notebook.ipynb_text), same law
    # as the html branch below
    if head.lstrip().startswith("\\documentclass") \
            or "\\begin{document}" in head:
        return "latex", text, 1
    if head.lstrip().startswith("{") and '"nbformat"' in head \
            and '"cells"' in head:
        return "ipynb", text, 1
    if "<html" in low or "<!doctype html" in low or "<body" in low:
        return "html", text, 1
    if _MD_MARKER.search(head):
        return "markdown", text, 1
    return "text", text, 1


DOC_ROUTE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_units", T.IntegerType()),
])


def extract_documents(df: DataFrame, content_col: str = "content",
                      id_col: str = "doc_id") -> DataFrame:
    """One row per blob: ``(doc_id, format, text, n_units)`` —
    Arrow ``mapInPandas`` over :func:`route_document`, zero
    shuffle."""
    return map_blobs(spread(df), DOC_ROUTE_SCHEMA,
                     lambda b: [route_document(b)], id_col, content_col)
