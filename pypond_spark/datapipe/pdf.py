"""PDF text extraction — pure-Python ISO 32000 / PDF 1.x parsing,
no external libraries.

PDF is the single largest text-corpus format a real crawl pipeline
hits that :mod:`pypond_spark.datapipe` did not cover (the extraction
tier previously stopped at HTML/WARC).  Everything needed is public
and library-free: the object grammar is a tokenizer, FlateDecode is
stdlib :mod:`zlib`, and page text is a linear walk of the content
stream's ``Tj``/``TJ``/``'``/``"`` show operators.

Three layers:

- **object layer** — :func:`parse_pdf` scans the byte stream for
  ``N G obj`` headers (robust to broken/absent xref tables, the most
  common real-corpus damage), parses each object with a full PDF
  tokenizer (dicts, arrays, names with ``#xx`` escapes, literal
  strings with octal/line-continuation escapes, hex strings, refs),
  expands ``/ObjStm`` object streams (the PDF 1.5+ compressed-object
  layout), and applies stream filters: ``FlateDecode`` (+ PNG
  predictors), ``LZWDecode`` (TIFF variant, EarlyChange),
  ``ASCIIHexDecode``, ``ASCII85Decode``, ``RunLengthDecode``.
- **document layer** — catalog -> ``/Pages`` tree walk (depth-first
  ``/Kids`` order, inherited ``/Resources``), per-page ``/Contents``
  assembly (single stream or array, concatenated with a separator
  per the spec's "treated as one stream" rule).
- **text layer** — :func:`pdf_text_pages` interprets the content
  stream: ``BT``/``ET`` text blocks, ``Tf`` font selection (honoring
  ``/ToUnicode`` CMaps — ``bfchar``/``bfrange``, 1- and 2-byte
  codespaces — else Latin-1, a superset of PDFDocEncoding's printable
  range), ``Tj``/``'``/``"`` shows, ``TJ`` arrays (kerning gaps
  ≤ -180 text-space units emit a word space — the common extractor
  heuristic, deterministic here), and newline on ``Td``/``TD`` with a
  vertical component, ``T*``, ``Tm`` y-movement, and ``'``/``"``.
  Inline images (``BI .. ID .. EI``) are skipped byte-exactly.

:func:`encode_pdf` is the synthesis half (the established codec-row
recipe): deterministic, externally-valid PDF 1.4 bytes — classic
xref table with correct offsets, Flate or raw content streams,
literal / hex / split-``TJ`` show forms — so driver rows can build a
corpus in-plan and the DuckDB oracle replays the expected text from
the same deterministic inputs.

Errors: structural corruption raises ``ValueError``; encrypted
documents and unsupported stream filters raise
``NotImplementedError`` (never silently wrong).

Scale shape: like every codec here, extraction runs per document
inside Arrow ``mapInPandas`` batches — zero shuffle, partition-local,
scan-parallel at 100 TB.
"""

from __future__ import annotations

import binascii
import re
import struct
import zlib
from operator import itemgetter
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._util import map_blobs, spread

__all__ = ["parse_pdf", "pdf_text_pages", "pdf_info",
           "extract_pdf_text", "extract_pdf_info", "encode_pdf",
           "PDF_PAGE_SCHEMA", "PDF_INFO_SCHEMA"]


class _Ref(NamedTuple):
    num: int
    gen: int


def _make_resolver(objmap: dict):
    """Indirect-reference resolver over an object map (cycle-capped);
    the single definition parse_pdf/pdf_text_pages/pdf_info share."""
    def resolve(x, _depth=0):
        while isinstance(x, _Ref):
            if _depth > 32:
                raise ValueError("PDF reference cycle")
            x = objmap.get(x.num)
            _depth += 1
        return x
    return resolve


class _Stream:
    """A stream object: its dictionary plus the raw (still-filtered)
    bytes; :meth:`data` applies the filter chain."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw

    def data(self, resolve) -> bytes:
        return _decode_stream(self.dict, self.raw, resolve)


_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"
_REGULAR_END = _WHITESPACE + _DELIM


class _Lexer:
    """Tokenizer/recursive parser for the PDF object grammar."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            c = d[self.pos]
            if c in _WHITESPACE:
                self.pos += 1
            elif c == 0x25:                       # % comment to EOL
                e = self.pos
                while e < n and d[e] not in (0x0A, 0x0D):
                    e += 1
                self.pos = e
            else:
                return

    def _keyword(self) -> str:
        d, n = self.data, len(self.data)
        s = self.pos
        while self.pos < n and d[self.pos] not in _REGULAR_END:
            self.pos += 1
        return d[s:self.pos].decode("latin-1")

    def _name(self) -> str:
        self.pos += 1                              # the '/'
        d, n = self.data, len(self.data)
        out = bytearray()
        while self.pos < n:
            c = d[self.pos]
            if c in _REGULAR_END:
                break
            if c == 0x23 and self.pos + 2 < n:     # '#xx'
                try:
                    out.append(int(d[self.pos + 1:self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    # malformed '#xx' name escape: tolerate the
                    # literal '#' (malformed-input scanner contract)
                    pass
            out.append(c)
            self.pos += 1
        return out.decode("latin-1")

    def _literal_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1                              # the '('
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = d[self.pos]
            if c == 0x5C:                          # backslash escape
                self.pos += 1
                if self.pos >= n:
                    break
                e = d[self.pos]
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9,
                                0x62: 8, 0x66: 12}[e])
                    self.pos += 1
                elif 0x30 <= e <= 0x37:            # \ooo (1-3 digits)
                    v = 0
                    k = 0
                    while k < 3 and self.pos < n \
                            and 0x30 <= d[self.pos] <= 0x37:
                        v = v * 8 + (d[self.pos] - 0x30)
                        self.pos += 1
                        k += 1
                    out.append(v & 0xFF)
                elif e in (0x0A, 0x0D):            # line continuation
                    self.pos += 1
                    if e == 0x0D and self.pos < n \
                            and d[self.pos] == 0x0A:
                        self.pos += 1
                else:                              # \( \) \\ and any other
                    out.append(e)
                    self.pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                self.pos += 1
            elif c == 0x29:
                depth -= 1
                self.pos += 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
                self.pos += 1
        raise ValueError("PDF literal string never closes")

    def _hex_string(self) -> bytes:
        d, n = self.data, len(self.data)
        self.pos += 1                              # the '<'
        hx = bytearray()
        while self.pos < n:
            c = d[self.pos]
            self.pos += 1
            if c == 0x3E:                          # '>'
                if len(hx) % 2:
                    hx.append(0x30)
                return binascii.unhexlify(bytes(hx))
            if c in _WHITESPACE:
                continue
            hx.append(c)
        raise ValueError("PDF hex string never closes")

    def parse(self):
        """Parse one object at the cursor."""
        self.skip_ws()
        d, n = self.data, len(self.data)
        if self.pos >= n:
            raise ValueError("unexpected end of PDF data")
        c = d[self.pos]
        if c == 0x2F:                              # /Name
            return self._name()
        if c == 0x28:                              # (string)
            return self._literal_string()
        if c == 0x3C:
            if d[self.pos:self.pos + 2] == b"<<":
                return self._dict()
            return self._hex_string()
        if c == 0x5B:                              # [array]
            self.pos += 1
            arr = []
            while True:
                self.skip_ws()
                if self.pos >= n:
                    raise ValueError("PDF array never closes")
                if d[self.pos] == 0x5D:
                    self.pos += 1
                    return arr
                arr.append(self.parse())
        if c in b"+-." or 0x30 <= c <= 0x39:
            return self._number_or_ref()
        kw = self._keyword()
        if kw == "true":
            return True
        if kw == "false":
            return False
        if kw == "null":
            return None
        raise ValueError(f"unexpected PDF token {kw!r} at "
                         f"byte {self.pos}")

    def _dict(self) -> dict:
        d, n = self.data, len(self.data)
        self.pos += 2                              # '<<'
        out = {}
        while True:
            self.skip_ws()
            if self.pos >= n:
                raise ValueError("PDF dictionary never closes")
            if d[self.pos:self.pos + 2] == b">>":
                self.pos += 2
                return out
            if d[self.pos] != 0x2F:
                raise ValueError(
                    f"PDF dictionary key is not a name at byte "
                    f"{self.pos}")
            key = self._name()
            out[key] = self.parse()

    def _number_or_ref(self):
        d = self.data
        s = self.pos
        self.pos += 1
        n = len(d)
        while self.pos < n and (0x30 <= d[self.pos] <= 0x39
                                or d[self.pos] in b"+-.eE"):
            self.pos += 1
        tok = d[s:self.pos]
        try:
            if b"." in tok or b"e" in tok or b"E" in tok:
                num = float(tok)
            else:
                num = int(tok)
        except ValueError as exc:
            raise ValueError(f"bad PDF number {tok!r}") from exc
        if isinstance(num, int) and num >= 0:
            # lookahead for `gen R` (indirect reference)
            save = self.pos
            self.skip_ws()
            s2 = self.pos
            while self.pos < n and 0x30 <= d[self.pos] <= 0x39:
                self.pos += 1
            gen_tok = d[s2:self.pos]
            if gen_tok:
                self.skip_ws()
                if self.pos < n and d[self.pos] == 0x52 and (
                        self.pos + 1 >= n
                        or d[self.pos + 1] in _REGULAR_END):
                    self.pos += 1
                    return _Ref(num, int(gen_tok))
            self.pos = save
        return num


# ------------------------------------------------------ stream filters

def _png_unpredict(data: bytes, columns: int, colors: int,
                   bpc: int) -> bytes:
    """Reverse PNG row predictors (Predictor >= 10) on filter
    output — each row is a tag byte + ``columns*colors*bpc/8``
    bytes (the xref-stream / ObjStm default layout)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    row_len = (columns * colors * bpc + 7) // 8
    stride = row_len + 1
    if len(data) % stride:
        raise ValueError("PDF predictor data is not whole rows")
    out = bytearray()
    prev = bytearray(row_len)
    for r in range(0, len(data), stride):
        tag = data[r]
        row = bytearray(data[r + 1:r + stride])
        if tag == 0:
            pass                             # PNG None filter: as-is
        elif tag == 1:
            for i in range(bpp, row_len):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif tag == 2:
            for i in range(row_len):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif tag == 3:
            for i in range(row_len):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif tag == 4:
            for i in range(row_len):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else \
                    b if pb <= pc else c
                row[i] = (row[i] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG predictor tag {tag}")
        out += row
        prev = row
    return bytes(out)


def _lzw_decode(data: bytes, early_change: int = 1) -> bytes:
    """TIFF-variant LZW (the PDF ``LZWDecode`` filter): 8-bit
    symbols, clear code 256, EOD 257, code width grows 9->12 bits
    (one code early when ``EarlyChange`` = 1, the default)."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        table.clear()
        table.extend(bytes([i]) for i in range(256))
        table.append(b"")                          # 256 clear
        table.append(b"")                          # 257 EOD
        return 9

    width = reset()
    acc = nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                width = reset()
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise ValueError("LZW stream starts mid-table")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} beyond table")
            out += entry
            prev = entry
            if len(table) + early_change >= (1 << width) \
                    and width < 12:
                width += 1
    return bytes(out)


def lzw_encode(data: bytes, early_change: int = 1) -> bytes:
    """TIFF-variant LZW encoder (r13) — the synthesis half of
    :func:`_lzw_decode`, shared by the PDF ``LZWDecode`` filter tests
    and ``tiff.encode_tiff(compression='lzw')``: MSB-first codes,
    clear 256 / EOD 257, width 9->12 growing one code early when
    ``EarlyChange`` = 1 (the default both specs share), and a CLEAR
    emitted before the table could outgrow 12 bits — byte-exact
    roundtrip for ANY input."""
    out = bytearray()
    acc = nbits = 0
    width = 9
    table: dict[bytes, int] = {}
    next_code = 258

    def put(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8
            acc &= (1 << nbits) - 1

    def reset() -> None:
        nonlocal table, next_code, width
        table = {bytes([i]): i for i in range(256)}
        next_code = 258
        width = 9

    put(256)
    reset()
    w = b""
    for b in data:
        c = bytes([b])
        wc = w + c
        if wc in table:
            w = wc
            continue
        put(table[w])
        # mirror the decoder exactly: its table runs ONE ENTRY BEHIND
        # (it inserts upon the NEXT code), so its post-code size is
        # next_code - 1 — grow width on that, not on next_code, or the
        # two sides read the 2^width boundary one code apart
        table[wc] = next_code
        next_code += 1
        if next_code - 1 + early_change >= (1 << width) and width < 12:
            width += 1
        if next_code >= 4093:
            put(256)
            reset()
        w = c
    if w:
        put(table[w])
        # the decoder still inserts+checks when processing this final
        # code; track it so the EOD below is written at its width
        next_code += 1
        if next_code - 1 + early_change >= (1 << width) and width < 12:
            width += 1
    put(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    """``RunLengthDecode``: length byte L < 128 -> copy L+1 bytes;
    L in 129..255 -> repeat next byte 257-L times; 128 -> EOD."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        ln = data[i]
        i += 1
        if ln == 128:
            break
        if ln < 128:
            if i + ln + 1 > n:
                raise ValueError("truncated RunLength literal run")
            out += data[i:i + ln + 1]
            i += ln + 1
        else:
            if i >= n:
                raise ValueError("truncated RunLength repeat run")
            out += bytes([data[i]]) * (257 - ln)
            i += 1
    return bytes(out)


def _decode_stream(sdict: dict, raw: bytes, resolve) -> bytes:
    filters = resolve(sdict.get("Filter"))
    if filters is None:
        return raw
    if isinstance(filters, str):
        filters = [filters]
    parms = resolve(sdict.get("DecodeParms",
                              sdict.get("DP")))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    elif len(parms) < len(filters):
        # a short DecodeParms array must not truncate the filter
        # CHAIN (zip would) — pad, never silently skip a filter
        parms = parms + [None] * (len(filters) - len(parms))
    data = raw
    for f, pm in zip(filters, parms):
        f = resolve(f)
        pm = resolve(pm) or {}
        if f == "FlateDecode" or f == "Fl":
            try:
                data = zlib.decompress(data)
            except zlib.error as exc:
                raise ValueError(
                    f"corrupt FlateDecode stream: {exc}") from exc
        elif f == "LZWDecode" or f == "LZW":
            # PDF null for /EarlyChange resolves to None; treat it
            # like an absent key (corrupt input stays ValueError)
            ec = resolve(pm.get("EarlyChange", 1))
            data = _lzw_decode(data, int(1 if ec is None else ec))
        elif f == "ASCIIHexDecode" or f == "AHx":
            hx = bytes(c for c in data
                       if c not in _WHITESPACE).rstrip(b">")
            if len(hx) % 2:
                hx += b"0"
            data = binascii.unhexlify(hx)
        elif f == "ASCII85Decode" or f == "A85":
            import base64
            body = bytes(c for c in data if c not in _WHITESPACE)
            if body.endswith(b"~>"):
                body = body[:-2]
            if body.startswith(b"<~"):
                body = body[2:]
            data = base64.a85decode(body, adobe=False)
        elif f == "RunLengthDecode" or f == "RL":
            data = _rle_decode(data)
        else:
            raise NotImplementedError(
                f"PDF stream filter {f!r} (Flate/LZW/ASCIIHex/"
                "ASCII85/RunLength decode without libraries; "
                "DCT/JBIG2/JPX are image codecs, not text streams)")
        if f in ("FlateDecode", "Fl", "LZWDecode", "LZW"):
            pred = int(resolve(pm.get("Predictor", 1)) or 1)
            if pred >= 10:
                data = _png_unpredict(
                    data, int(resolve(pm.get("Columns", 1)) or 1),
                    int(resolve(pm.get("Colors", 1)) or 1),
                    int(resolve(pm.get("BitsPerComponent", 8)) or 8))
            elif pred != 1:
                raise NotImplementedError(
                    f"PDF TIFF predictor {pred}")
    return data


# ----------------------------------------------------- document layer

_OBJ_RE = re.compile(rb"(\d+)[\x00\t\n\x0c\r ]+(\d+)"
                     rb"[\x00\t\n\x0c\r ]+obj\b")
_TRAILER_RE = re.compile(rb"trailer\b")


def parse_pdf(content: bytes,
              allow_encrypted: bool = False) -> tuple[dict, dict]:
    """Scan a PDF byte stream into ``({obj_num: value}, trailer)``.

    Brute forward scan over ``N G obj`` headers (matches inside
    stream payloads are skipped by tracking each object's extent),
    so damaged or absent xref tables — the most common real-corpus
    corruption — still parse; ``/ObjStm`` object streams are
    expanded so PDF 1.5+ compressed-object files work without an
    xref stream walk.  Later definitions of the same object number
    win (incremental updates).  Raises ``ValueError`` for structural
    corruption and ``NotImplementedError`` for encryption —
    unless ``allow_encrypted`` (the r14 triage path: the document
    STRUCTURE of an encrypted PDF is plaintext, only strings and
    streams are enciphered, so page counting still works).
    """
    if not content.startswith(b"%PDF-"):
        i = content.find(b"%PDF-")
        if i < 0 or i > 1024:
            raise ValueError("not a PDF: no %PDF- header")

    def ends_ok(cand: int) -> bool:
        return content[cand:cand + 32].lstrip(
            b"\r\n\x00\t\x0c ").startswith(b"endstream")

    def scan(forced: dict[int, int]):
        """One forward pass; ``forced`` pins the true end for stream
        payloads whose /Length was indirect and whose first-pass
        terminator guess was wrong."""
        objmap: dict[int, object] = {}
        pending: list[tuple[int, dict, int, int]] = []
        skip_until = 0
        for m in _OBJ_RE.finditer(content):
            if m.start() < skip_until:
                continue
            num = int(m.group(1))
            lex = _Lexer(content, m.end())
            try:
                val = lex.parse()
            except ValueError:
                continue                           # junk match
            lex.skip_ws()
            if isinstance(val, dict) \
                    and content.startswith(b"stream", lex.pos):
                p = lex.pos + 6
                if content.startswith(b"\r\n", p):
                    p += 2
                elif content.startswith(b"\n", p) \
                        or content.startswith(b"\r", p):
                    p += 1
                length = val.get("Length")
                end = None
                if p in forced:
                    end = forced[p]
                elif isinstance(length, int) and ends_ok(p + length):
                    end = p + length
                if end is None:
                    # indirect or wrong /Length: guess the terminator
                    e = content.find(b"endstream", p)
                    if e < 0:
                        raise ValueError(
                            f"PDF object {num}: stream never ends")
                    end = e
                    while end > p and content[end - 1] in (0x0A,
                                                           0x0D):
                        end -= 1
                    if isinstance(length, _Ref):
                        pending.append((num, val, p, end))
                objmap[num] = _Stream(val, content[p:end])
                skip_until = content.find(b"endstream", end) + 9
            else:
                objmap[num] = val
                skip_until = lex.pos
        return objmap, pending

    objmap, pending = scan({})
    resolve = _make_resolver(objmap)

    # streams with an indirect /Length whose terminator guess was
    # wrong: re-scan with the TRUE extents, because junk `N G obj`
    # matches inside the mis-sliced payload may have overwritten real
    # objects in the first pass (not just the stream's own bytes)
    forced: dict[int, int] = {}
    for num, sdict, p, end_guess in pending:
        length = resolve(sdict.get("Length"))
        if isinstance(length, int) and p + length != end_guess \
                and ends_ok(p + length):
            forced[p] = p + length
    if forced:
        objmap, _ = scan(forced)
        resolve = _make_resolver(objmap)

    # expand object streams
    for num in list(objmap):
        obj = objmap[num]
        if not (isinstance(obj, _Stream)
                and resolve(obj.dict.get("Type")) == "ObjStm"):
            continue
        data = obj.data(resolve)
        n_objs = int(resolve(obj.dict.get("N", 0)) or 0)
        first = int(resolve(obj.dict.get("First", 0)) or 0)
        head = _Lexer(data, 0)
        pairs = []
        for _ in range(n_objs):
            onum = head.parse()
            ooff = head.parse()
            if not isinstance(onum, int) or not isinstance(ooff, int):
                raise ValueError(
                    f"PDF object stream {num}: bad header pair")
            pairs.append((onum, ooff))
        for onum, ooff in pairs:
            if onum in objmap:                     # file-level wins
                continue
            objmap[onum] = _Lexer(data, first + ooff).parse()

    trailer: dict = {}
    for tm in _TRAILER_RE.finditer(content):
        try:
            t = _Lexer(content, tm.end()).parse()
        except ValueError:
            continue
        if isinstance(t, dict):
            trailer.update(t)
    if not trailer:
        # PDF 1.5+ xref stream carries the trailer keys
        for obj in objmap.values():
            if isinstance(obj, _Stream) \
                    and resolve(obj.dict.get("Type")) == "XRef":
                trailer.update(obj.dict)
    if not allow_encrypted and trailer.get("Encrypt") is not None:
        raise NotImplementedError(
            "encrypted PDF (RC4/AES document security)")
    return objmap, trailer


def _walk_pages(objmap: dict, trailer: dict, resolve) -> list[tuple]:
    """Depth-first ``/Kids`` walk -> ``[(page_dict, resources)]``
    with ``/Resources`` inheritance."""
    root = resolve(trailer.get("Root"))
    if not isinstance(root, dict):
        root = next((o for o in objmap.values()
                     if isinstance(o, dict)
                     and resolve(o.get("Type")) == "Catalog"), None)
    if not isinstance(root, dict):
        raise ValueError("PDF has no document catalog")
    top = resolve(root.get("Pages"))
    if not isinstance(top, dict):
        raise ValueError("PDF catalog has no /Pages tree")
    pages: list[tuple] = []
    seen: set[int] = set()

    def walk(node, inherited_res, depth):
        if depth > 64:
            raise ValueError("PDF pages tree too deep (cycle?)")
        node = resolve(node)
        if not isinstance(node, dict):
            return
        if id(node) in seen:
            raise ValueError("PDF pages tree cycle")
        seen.add(id(node))
        res = resolve(node.get("Resources")) or inherited_res
        t = resolve(node.get("Type"))
        if t == "Page" or ("Kids" not in node and t != "Pages"
                           and "Contents" in node):
            pages.append((node, res))
            return
        for kid in resolve(node.get("Kids")) or []:
            walk(kid, res, depth + 1)

    walk(top, None, 0)
    return pages


# --------------------------------------------------------- text layer

def _cmap_decoder(cmap_bytes: bytes):
    """``/ToUnicode`` CMap -> function mapping show-string bytes to
    text: ``begincodespacerange`` fixes the code unit widths,
    ``beginbfchar``/``beginbfrange`` give UTF-16BE targets."""
    lex = _Lexer(cmap_bytes, 0)
    widths: set[int] = set()
    single: dict[bytes, str] = {}
    ranges: list[tuple[bytes, bytes, object]] = []

    def u16(b: bytes) -> str:
        return b.decode("utf-16-be", "replace")

    toks: list = []
    n = len(cmap_bytes)
    while True:
        lex.skip_ws()
        if lex.pos >= n:
            break
        c = cmap_bytes[lex.pos]
        if (c in b"/([<" or c in b"+-." or 0x30 <= c <= 0x39):
            try:
                toks.append(lex.parse())
            except ValueError:
                lex.pos += 1
        else:
            kw = lex._keyword()
            if kw:
                toks.append(kw)
            else:
                lex.pos += 1
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "begincodespacerange":
            j = i + 1
            while j + 1 < len(toks) \
                    and isinstance(toks[j], bytes) \
                    and isinstance(toks[j + 1], bytes):
                widths.add(len(toks[j]))
                j += 2
            i = j
        elif t == "beginbfchar":
            j = i + 1
            while j + 1 < len(toks) \
                    and isinstance(toks[j], bytes) \
                    and isinstance(toks[j + 1], bytes):
                single[toks[j]] = u16(toks[j + 1])
                widths.add(len(toks[j]))
                j += 2
            i = j
        elif t == "beginbfrange":
            j = i + 1
            while j + 2 < len(toks) \
                    and isinstance(toks[j], bytes) \
                    and isinstance(toks[j + 1], bytes):
                lo, hi, dst = toks[j], toks[j + 1], toks[j + 2]
                ranges.append((lo, hi, dst))
                widths.add(len(lo))
                j += 3
            i = j
        else:
            i += 1
    unit_widths = sorted(widths or {1})

    def decode(s: bytes) -> str:
        out = []
        p = 0
        ln = len(s)
        while p < ln:
            got = None
            for w in unit_widths:
                code = s[p:p + w]
                if len(code) < w:
                    continue
                if code in single:
                    got = (single[code], w)
                    break
                for lo, hi, dst in ranges:
                    if len(lo) == w and lo <= code <= hi:
                        off = int.from_bytes(code, "big") \
                            - int.from_bytes(lo, "big")
                        if isinstance(dst, list):
                            got = (u16(dst[off]) if off < len(dst)
                                   else "�", w)
                        else:
                            base = int.from_bytes(dst, "big") + off
                            nb = max(2, len(dst))
                            got = (u16(base.to_bytes(nb, "big")), w)
                        break
                if got:
                    break
            if got is None:
                w = unit_widths[0]
                code = s[p:p + w]
                got = (code.decode("latin-1"), max(1, len(code)))
            out.append(got[0])
            p += got[1]
        return "".join(out)

    return decode


def _latin1(s: bytes) -> str:
    return s.decode("latin-1")


# TJ kerning gap (negative, text-space units) at or past which a word
# space is emitted — the common extractor heuristic, deterministic
_TJ_WORD_GAP = 180.0


def _resources_ctx(res, resolve, base_fonts=None, base_xo=None):
    """(fonts, xobjects) maps from a /Resources dict, layered over an
    inherited context (own entries win — the PDF resource-lookup
    rule a Form XObject uses when it carries its own /Resources)."""
    fonts = dict(base_fonts or {})
    xobjects = dict(base_xo or {})
    res = resolve(res) or {}
    fdict = resolve(res.get("Font")) or {}
    if isinstance(fdict, dict):
        for fname, fobj in fdict.items():
            fobj = resolve(fobj)
            if not isinstance(fobj, dict):
                continue
            tu = resolve(fobj.get("ToUnicode"))
            if isinstance(tu, _Stream):
                fonts[fname] = _cmap_decoder(tu.data(resolve))
    xdict = resolve(res.get("XObject")) or {}
    if isinstance(xdict, dict):
        for xname, xobj in xdict.items():
            xobj = resolve(xobj)
            if isinstance(xobj, _Stream):
                xobjects[xname] = xobj
    return fonts, xobjects


def _content_text(content: bytes, fonts: dict, xobjects: dict = {},
                  resolve=None, depth: int = 0) -> str:
    """Interpret one page's (concatenated) content stream into text.
    ``Do`` on a Form XObject recurses into the form's own content
    stream (with its /Resources layered over the caller's — real
    PDFs routinely put body text inside forms), emitted inline as a
    block; image XObjects are skipped.  Recursion is depth-capped."""
    lex = _Lexer(content, 0)
    n = len(content)
    lines: list[str] = []
    cur: list[str] = []
    stack: list = []
    decoder = _latin1
    last_ty = None

    def newline():
        if cur:
            lines.append("".join(cur))
            cur.clear()

    def emit(s: bytes):
        cur.append(decoder(s))

    while True:
        lex.skip_ws()
        if lex.pos >= n:
            break
        c = content[lex.pos]
        if (c in b"+-." or 0x30 <= c <= 0x39 or c == 0x2F
                or c in b"([<" and not content.startswith(b"<<",
                                                          lex.pos)) \
                or content.startswith(b"<<", lex.pos):
            try:
                stack.append(lex.parse())
            except ValueError:
                lex.pos += 1
                stack.clear()
            continue
        op = lex._keyword()
        if not op:
            lex.pos += 1
            continue
        if op == "BI":
            # inline image: skip dict then binary to EI
            e = content.find(b"ID", lex.pos)
            if e < 0:
                break
            p = e + 2
            if p < n and content[p] in _WHITESPACE:
                p += 1
            while True:
                e2 = content.find(b"EI", p)
                if e2 < 0:
                    lex.pos = n
                    break
                before_ok = content[e2 - 1] in _WHITESPACE
                after = content[e2 + 2:e2 + 3]
                if before_ok and (not after
                                  or after[0] in _REGULAR_END):
                    lex.pos = e2 + 2
                    break
                p = e2 + 2
            stack.clear()
            continue
        if op == "Tf" and len(stack) >= 2:
            decoder = fonts.get(stack[-2], _latin1)
        elif op in ("Td", "TD") and len(stack) >= 2:
            ty = stack[-1]
            if isinstance(ty, (int, float)) and ty != 0:
                newline()
        elif op == "T*":
            newline()
        elif op == "Tm" and len(stack) >= 6:
            ty = stack[-1]
            if isinstance(ty, (int, float)) \
                    and last_ty is not None and ty != last_ty:
                newline()
            last_ty = ty if isinstance(ty, (int, float)) else last_ty
        elif op == "Tj" and stack \
                and isinstance(stack[-1], bytes):
            emit(stack[-1])
        elif op == "'" and stack and isinstance(stack[-1], bytes):
            newline()
            emit(stack[-1])
        elif op == '"' and stack and isinstance(stack[-1], bytes):
            newline()
            emit(stack[-1])
        elif op == "TJ" and stack and isinstance(stack[-1], list):
            for el in stack[-1]:
                if isinstance(el, bytes):
                    emit(el)
                elif isinstance(el, (int, float)) \
                        and el <= -_TJ_WORD_GAP:
                    cur.append(" ")
        elif op == "ET":
            newline()
        elif op == "Do" and stack and isinstance(stack[-1], str) \
                and resolve is not None and depth < 16:
            xo = xobjects.get(stack[-1])
            if isinstance(xo, _Stream) \
                    and resolve(xo.dict.get("Subtype")) == "Form":
                f2, x2 = _resources_ctx(xo.dict.get("Resources"),
                                        resolve, fonts, xobjects)
                sub = _content_text(xo.data(resolve), f2, x2,
                                    resolve, depth + 1)
                if sub:
                    for i, seg in enumerate(sub.split("\n")):
                        if i:
                            newline()
                        cur.append(seg)
        stack.clear()
    newline()
    while lines and lines[-1] == "":
        lines.pop()
    return "\n".join(lines)


def pdf_text_pages(content: bytes) -> list[str]:
    """Extract per-page text from PDF bytes (one string per page,
    document order).  See the module docstring for the deterministic
    assembly rules."""
    objmap, trailer = parse_pdf(content)
    resolve = _make_resolver(objmap)

    pages = _walk_pages(objmap, trailer, resolve)
    out = []
    for node, res in pages:
        contents = resolve(node.get("Contents"))
        parts: list[bytes] = []
        if isinstance(contents, _Stream):
            parts.append(contents.data(resolve))
        elif isinstance(contents, list):
            for c in contents:
                c = resolve(c)
                if isinstance(c, _Stream):
                    parts.append(c.data(resolve))
        data = b"\n".join(parts)
        fonts, xobjects = _resources_ctx(res, resolve)
        out.append(_content_text(data, fonts, xobjects, resolve))
    return out


def pdf_info(content: bytes) -> dict:
    """Document metadata: the trailer ``/Info`` dictionary's common
    text fields (Title/Author/Subject/Producer/CreationDate — UTF-16BE
    when BOM-prefixed per the spec, else PDFDocEncoding≈Latin-1) plus
    the real page count from the pages-tree walk.  Missing fields are
    None; a PDF with no /Info still reports ``n_pages``.

    Encrypted documents triage instead of raising (r14): the
    ``encrypted`` flag flips True, string fields report None (their
    bytes are RC4/AES ciphertext — never surface ciphertext as
    text), and ``n_pages`` still counts from the pages tree, which
    the spec keeps plaintext.  (An encrypted PDF whose page objects
    hide inside /ObjStm still raises — the object stream payload
    itself is enciphered; classic-xref encrypted files, the common
    case, triage fine.)  Full decryption stays the documented
    ``extract_pdf_text`` NotImplementedError."""
    objmap, trailer = parse_pdf(content, allow_encrypted=True)
    resolve = _make_resolver(objmap)
    encrypted = trailer.get("Encrypt") is not None

    info = resolve(trailer.get("Info"))
    info = info if isinstance(info, dict) else {}

    def text(key):
        if encrypted:
            return None
        v = resolve(info.get(key))
        if isinstance(v, bytes):
            if v[:2] == b"\xfe\xff":
                return v[2:].decode("utf-16-be", "replace")
            return v.decode("latin-1")
        return None

    return {"title": text("Title"), "author": text("Author"),
            "subject": text("Subject"), "producer": text("Producer"),
            "created": text("CreationDate"),
            "encrypted": encrypted,
            "n_pages": len(_walk_pages(objmap, trailer, resolve))}


# --------------------------------------------------------- Spark tier

PDF_PAGE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("page_no", T.IntegerType()),
    T.StructField("text", T.StringType()),
])


def extract_pdf_text(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """One row per PDF page: ``(doc_id, page_no, text)`` — Arrow
    ``mapInPandas`` over :func:`pdf_text_pages`, zero shuffle,
    the same plan shape as every other codec here."""
    return map_blobs(spread(df), PDF_PAGE_SCHEMA,
                     lambda b: enumerate(pdf_text_pages(b)),
                     id_col, content_col)


PDF_INFO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("title", T.StringType()),
    T.StructField("author", T.StringType()),
    T.StructField("subject", T.StringType()),
    T.StructField("producer", T.StringType()),
    T.StructField("created", T.StringType()),
    T.StructField("encrypted", T.BooleanType()),
    T.StructField("n_pages", T.IntegerType()),
])


def extract_pdf_info(df: DataFrame, content_col: str = "content",
                     id_col: str = "doc_id") -> DataFrame:
    """One row per PDF: /Info metadata + page count — the header-only
    triage twin of :func:`extract_pdf_text` (no content streams are
    decoded beyond the pages walk)."""
    info = itemgetter(*PDF_INFO_SCHEMA.fieldNames()[1:])
    return map_blobs(spread(df), PDF_INFO_SCHEMA,
                     lambda b: [info(pdf_info(b))], id_col, content_col)


# ----------------------------------------------------- synthesis half

def _escape_literal(s: bytes) -> bytes:
    out = bytearray()
    for b in s:
        if b in (0x28, 0x29, 0x5C):
            out += bytes([0x5C, b])
        elif b in (0x0A, 0x0D, 0x09, 0x08, 0x0C) or b < 0x20:
            out += b"\\%03o" % b
        else:
            out.append(b)
    return bytes(out)


def encode_pdf(pages: list[str], compress=True,
               string_form: str = "literal",
               title: str | None = None,
               author: str | None = None,
               via_form: bool = False,
               encrypt: bool = False) -> bytes:
    """Deterministic, externally-valid PDF 1.4 bytes: one Helvetica
    text column per page, each line a show operator with ``0 -14 Td``
    line advances, classic xref table with correct offsets.

    ``compress``: True -> FlateDecode, ``"lzw"`` -> LZWDecode
    (r13, via :func:`lzw_encode`), False -> raw streams.

    ``string_form``: ``literal`` -> escaped ``(..) Tj``; ``hex`` ->
    ``<..> Tj``; ``tj`` -> the line split at its midpoint into a
    ``[(a) -50 (b)] TJ`` array (the -50 kern is below the word-gap
    threshold, so extraction is identical across all three forms).
    Text must be Latin-1-encodable (the writer targets simple-font
    WinAnsi; multilingual synthesis belongs to the ToUnicode decode
    tests, not this writer) — anything else raises ``ValueError``.

    ``via_form`` (r13): each page's text lives in a Form XObject and
    the page content stream is just ``/Fm0 Do`` — the layout
    generators that render through templates emit, exercising the
    extractor's ``Do`` recursion with form-local /Resources.

    ``encrypt`` (r14): writes a standard-security-handler /Encrypt
    dictionary and references it from the trailer — the TRIAGE
    fixture for :func:`pdf_info`'s encrypted path.  Streams and
    strings stay plaintext (this writer implements no RC4/AES); the
    flag exists to exercise detection, page counting under
    /Encrypt, and the text-extractor's honest raise.
    """
    if string_form not in ("literal", "hex", "tj"):
        raise ValueError(f"bad string_form {string_form!r}")
    objs: list[bytes] = []

    def content_for(page: str) -> bytes:
        ops = [b"BT /F1 12 Tf 72 720 Td"]
        for i, line in enumerate(page.split("\n")):
            try:
                raw = line.encode("latin-1")
            except UnicodeEncodeError as exc:
                raise ValueError(
                    "encode_pdf text must be Latin-1-encodable: "
                    f"{exc}") from exc
            if i:
                ops.append(b"0 -14 Td")
            if string_form == "literal":
                ops.append(b"(" + _escape_literal(raw) + b") Tj")
            elif string_form == "hex":
                ops.append(b"<" + binascii.hexlify(raw) + b"> Tj")
            else:
                mid = len(raw) // 2
                ops.append(b"[(" + _escape_literal(raw[:mid])
                           + b") -50 (" + _escape_literal(raw[mid:])
                           + b")] TJ")
        ops.append(b"ET")
        return b"\n".join(ops)

    n_pages = len(pages)
    # object numbers: 1 catalog, 2 pages, 3 font, then per page i:
    # 4+2i page dict, 5+2i content stream
    kids = b" ".join(b"%d 0 R" % (4 + 2 * i) for i in range(n_pages))
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append(b"<< /Type /Pages /Kids [" + kids
                + b"] /Count %d >>" % n_pages)
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont "
                b"/Helvetica /Encoding /WinAnsiEncoding >>")
    def stream_obj(data: bytes, extra: bytes = b"") -> bytes:
        if compress == "lzw":
            comp = lzw_encode(data)
            return (b"<< /Length %d /Filter /LZWDecode%s >>"
                    b"\nstream\n" % (len(comp), extra) + comp
                    + b"\nendstream")
        if compress:
            comp = zlib.compress(data, 9)
            return (b"<< /Length %d /Filter /FlateDecode%s >>"
                    b"\nstream\n" % (len(comp), extra) + comp
                    + b"\nendstream")
        return (b"<< /Length %d%s >>\nstream\n" % (len(data), extra)
                + data + b"\nendstream")

    for i, page in enumerate(pages):
        if via_form:
            # page content = one Do; the text lives in the form
            # object at 4 + 2*n_pages + i (form-local /Resources)
            fnum = 4 + 2 * n_pages + i
            objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox "
                        b"[0 0 612 792] /Resources << /XObject "
                        b"<< /Fm0 %d 0 R >> >> /Contents %d 0 R >>"
                        % (fnum, 5 + 2 * i))
            objs.append(stream_obj(b"/Fm0 Do"))
        else:
            objs.append(b"<< /Type /Page /Parent 2 0 R /MediaBox "
                        b"[0 0 612 792] /Resources << /Font << /F1 "
                        b"3 0 R >> >> /Contents %d 0 R >>"
                        % (5 + 2 * i))
            objs.append(stream_obj(content_for(page)))
    if via_form:
        for page in pages:
            objs.append(stream_obj(
                content_for(page),
                b" /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
                b" /Resources << /Font << /F1 3 0 R >> >>"))
    info_num = None
    if title is not None or author is not None:
        fields = b""
        for key, val in ((b"/Title", title), (b"/Author", author)):
            if val is None:
                continue
            try:
                raw = val.encode("latin-1")
            except UnicodeEncodeError as exc:
                raise ValueError(
                    "encode_pdf /Info text must be Latin-1-encodable: "
                    f"{exc}") from exc
            fields += key + b" (" + _escape_literal(raw) + b") "
        objs.append(b"<< " + fields + b">>")
        info_num = len(objs)
    enc_num = None
    if encrypt:
        # standard security handler, RC4 40-bit shape (V 1 / R 2):
        # fixed 32-byte /O and /U entries keep the writer deterministic
        objs.append(b"<< /Filter /Standard /V 1 /R 2 /P -44 /O <"
                    + b"aa" * 32 + b"> /U <" + b"bb" * 32 + b"> >>")
        enc_num = len(objs)

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    info = b" /Info %d 0 R" % info_num if info_num else b""
    enc = b" /Encrypt %d 0 R" % enc_num if enc_num else b""
    out += (b"trailer\n<< /Size %d /Root 1 0 R%s%s >>\n"
            b"startxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, info, enc, xref_at))
    return bytes(out)
