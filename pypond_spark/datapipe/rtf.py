"""RTF text extraction — the last legacy document format tier.

RTF (Microsoft Rich Text Format, public spec v1.9.1) is the
plain-brace cousin of the zip documents in ``zipdoc.py``: legal and
government corpus dumps still carry it, and the format is pure
7-bit-safe token text — no container, no compression — so the
extractor is a single linear scan.

Implements the subset real extractors honor:

- group nesting ``{`` / ``}`` with per-group state (the ``\\ucN``
  skip count is group-scoped per spec §"Unicode RTF");
- control words ``\\word[N]`` with the optional trailing space
  eaten, control symbols ``\\{`` ``\\}`` ``\\\\`` as literals;
- ``\\'hh`` byte escapes decoded through the declared code page
  (``\\ansicpgN``, default cp1252-compatible latin fallback);
- ``\\uN`` Unicode escapes with the ``\\ucN`` fallback-skip rule
  (default 1), negative-N 16-bit wraparound per spec;
- destination groups that carry NO document text are skipped whole:
  ``fonttbl``/``colortbl``/``stylesheet``/``info``/``pict``/
  ``field-instructions`` and every ignorable destination
  ``{\\*\\...}``;
- ``\\par`` / ``\\line`` -> newline, ``\\tab`` -> TAB, ``\\~`` ->
  NBSP-as-space, ``\\emdash``/``\\endash``/quote words -> their
  characters.

Structural corruption — unbalanced braces, truncated escapes, a
missing ``{\\rtf`` header — raises ``ValueError``; nothing is
silently skipped.

:func:`encode_rtf` is the deterministic synthesis twin (ASCII bodies
with ``\\'hh`` / ``\\uN`` escapes for everything else);
:func:`extract_rtf_text` is the Spark tier — Arrow ``mapInPandas``,
zero shuffle, the standard datapipe extractor plan shape.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._util import map_blobs, spread

__all__ = ["rtf_text", "extract_rtf_text", "encode_rtf",
           "RTF_TEXT_SCHEMA"]

#: destination control words whose whole group carries no body text
_SKIP_DESTS = frozenset((
    "fonttbl", "colortbl", "stylesheet", "info", "pict", "object",
    "header", "footer", "headerl", "headerr", "footerl", "footerr",
    "ftnsep", "ftnsepc", "xe", "tc", "fldinst", "themedata",
    "colorschememapping", "datastore", "latentstyles", "generator",
))

#: control words that emit a fixed character
_CHAR_WORDS = {
    "par": "\n", "line": "\n", "tab": "\t",
    "emdash": "—", "endash": "–",
    "lquote": "‘", "rquote": "’",
    "ldblquote": "“", "rdblquote": "”",
    "bullet": "•", "emspace": " ", "enspace": " ",
    "qmspace": " ",
}

_CTRL_RE = _re.compile(rb"([a-z]+)(-?[0-9]+)? ?")


def rtf_text(content: bytes) -> tuple[str, int]:
    """``(text, n_paragraphs)`` from RTF bytes: body text with
    ``\\par``/``\\line`` as newlines, paragraph count =
    newline-separated non-empty segments + 1 law of the other
    extractors (the trailing ``\\par`` the writer emits does not
    open an empty paragraph)."""
    if not content.startswith(b"{\\rtf"):
        raise ValueError("missing {\\rtf header")
    codepage = "cp1252"
    out: list[str] = []
    # group state stack: (uc_skip, skipping_destination)
    stack: list[tuple[int, bool]] = []
    uc_skip, skipping = 1, False
    pos, n = 0, len(content)
    pending_skip = 0                         # \uN fallback bytes left
    group_start = True                       # just after '{'
    while pos < n:
        c = content[pos]
        if c == 0x7B:                        # {
            stack.append((uc_skip, skipping))
            pos += 1
            group_start = True
            continue
        if c == 0x7D:                        # }
            if not stack:
                raise ValueError("unbalanced '}' in RTF")
            uc_skip, skipping = stack.pop()
            pos += 1
            group_start = False
            continue
        if c == 0x5C:                        # backslash
            if pos + 1 >= n:
                raise ValueError("truncated RTF control")
            nxt = content[pos + 1]
            if nxt in (0x5C, 0x7B, 0x7D):    # \\ \{ \}
                if not skipping and not pending_skip:
                    out.append(chr(nxt))
                elif pending_skip:
                    pending_skip -= 1
                pos += 2
                group_start = False
                continue
            if nxt == 0x27:                  # \'hh
                hx = content[pos + 2:pos + 4]
                if len(hx) < 2:
                    raise ValueError("truncated \\'hh escape")
                try:
                    b = bytes([int(hx, 16)])
                except ValueError as exc:
                    raise ValueError(
                        f"bad \\'hh escape {hx!r}") from exc
                if pending_skip:
                    pending_skip -= 1
                elif not skipping:
                    out.append(b.decode(codepage, "replace"))
                pos += 4
                group_start = False
                continue
            if nxt == 0x2A:                  # \* ignorable destination
                if group_start:
                    skipping = True
                pos += 2
                continue
            if nxt == 0x7E:                  # \~ non-breaking space
                if not skipping and not pending_skip:
                    out.append(" ")
                elif pending_skip:
                    pending_skip -= 1
                pos += 2
                group_start = False
                continue
            m = _CTRL_RE.match(content, pos + 1)
            if not m:
                # unknown control symbol: consume the two bytes
                pos += 2
                group_start = False
                continue
            word = m.group(1).decode("ascii")
            num = int(m.group(2)) if m.group(2) else None
            pos = m.end()
            if word == "u" and num is not None:
                if not skipping:
                    cp = num + 65536 if num < 0 else num
                    out.append(chr(cp))
                    pending_skip = uc_skip
                group_start = False
                continue
            if word == "uc" and num is not None:
                uc_skip = num
                group_start = False
                continue
            if word == "ansicpg" and num is not None:
                try:
                    b"\x20".decode(f"cp{num}")
                    codepage = f"cp{num}"
                except LookupError:
                    pass                     # unknown page: keep prior
                group_start = False
                continue
            if word in _SKIP_DESTS and group_start:
                skipping = True
                continue
            if word in _CHAR_WORDS and not skipping:
                if pending_skip:
                    pending_skip -= 1
                else:
                    out.append(_CHAR_WORDS[word])
            group_start = False
            continue
        # plain text byte
        if c in (0x0D, 0x0A):                # raw CR/LF are ignored
            pos += 1
            continue
        if pending_skip:
            pending_skip -= 1
        elif not skipping:
            out.append(chr(c))
        pos += 1
        group_start = False
    if stack:
        raise ValueError("unbalanced '{' in RTF")
    text = "".join(out)
    # adjacent \uN surrogate escapes combine into their astral char
    # (spec "Unicode RTF": pairs are written as two \u words)
    text = text.encode("utf-16", "surrogatepass").decode(
        "utf-16", "replace")
    # the conventional trailing \par does not open a new paragraph
    body = text[:-1] if text.endswith("\n") else text
    n_par = body.count("\n") + 1 if body else 0
    return body, n_par


RTF_TEXT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("n_paragraphs", T.IntegerType()),
])


def extract_rtf_text(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """One row per document: ``(doc_id, text, n_paragraphs)`` — the
    RTF leg of the document-extraction tier (same schema and
    zero-shuffle Arrow plan as the DOCX/ODT extractors)."""
    return map_blobs(spread(df), RTF_TEXT_SCHEMA,
                     lambda b: [rtf_text(b)], id_col, content_col)


def _rtf_escape(text: str) -> str:
    out = []
    for ch in text:
        o = ord(ch)
        if ch in "\\{}":
            out.append("\\" + ch)
        elif ch == "\t":
            out.append("\\tab ")
        elif ch == "\n":
            out.append("\\line ")
        elif 0x20 <= o < 0x80:
            out.append(ch)
        elif o < 0x100:
            out.append(f"\\'{o:02x}")
        elif o < 0x10000:
            n = o - 65536 if o > 32767 else o
            out.append(f"\\u{n}?")
        else:                                # astral: surrogate pair
            o -= 0x10000
            hi, lo = 0xD800 + (o >> 10), 0xDC00 + (o & 0x3FF)
            out.append(f"\\u{hi - 65536}?\\u{lo - 65536}?")
    return "".join(out)


def encode_rtf(paragraphs: list[str],
               with_chrome: bool = True) -> bytes:
    """Deterministic RTF bytes: cp1252 ``\\'hh`` escapes for latin-1,
    ``\\uN?`` (uc1 fallback ``?``) beyond, TAB/newline mapped to
    ``\\tab``/``\\line``.  ``with_chrome`` adds the font/color/info
    destination groups a real writer emits — all of which must strip
    to nothing."""
    body = "\\par ".join(_rtf_escape(p) for p in paragraphs)
    chrome = (
        "{\\fonttbl{\\f0\\fswiss Helvetica;}}"
        "{\\colortbl;\\red0\\green0\\blue0;}"
        "{\\info{\\title synthesized}}"
        "{\\*\\generator pypond_spark;}"
    ) if with_chrome else ""
    doc = ("{\\rtf1\\ansi\\ansicpg1252\\uc1 " + chrome
           + body + "\\par }")
    return doc.encode("ascii")
