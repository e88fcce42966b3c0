"""WARC (Web ARChive, ISO 28500) record parsing — the container format
crawl corpora actually arrive in (Common Crawl ships WARC/WET/WAT).

Two layers, both pure expressions or Arrow batches:

- :func:`parse_warc` — split a WARC byte/string column into one row
  per record with the standard headers (``WARC-Type``,
  ``WARC-Target-URI``, ``WARC-Date``, ``Content-Type``,
  ``Content-Length``) and the raw record block, honoring
  Content-Length framing (bodies may contain blank lines — splitting
  on blank lines alone is wrong, which is why this is a real parser);
- :func:`http_payload_expr` — strip the HTTP/1.x response envelope
  from a ``response`` record's block, leaving the entity body that
  feeds :func:`~pypond_spark.datapipe.textstats.strip_html` /
  ``extract_content``.

Scale shape: records parse per input value (a file's bytes or a
pre-chunked segment) in an Arrow ``mapInPandas`` batch — no shuffle;
downstream operators see ordinary columns.  Gzip members (the
``.warc.gz`` member-per-record layout) should be decompressed at the
source read (``spark.read`` codec handling or a binaryFile +
``zlib``/``gzip`` stage); this module takes the uncompressed text,
which keeps the parser engine-portable and the oracle replay exact.
"""

from __future__ import annotations

from collections.abc import Iterator
from operator import itemgetter

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._util import map_blobs, spread, spread_io

WARC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("record_no", T.IntegerType()),
    T.StructField("warc_type", T.StringType()),
    T.StructField("target_uri", T.StringType()),
    T.StructField("warc_date", T.StringType()),
    T.StructField("content_type", T.StringType()),
    T.StructField("content_length", T.LongType()),
    T.StructField("block", T.StringType()),
])


def parse_warc_text(data: str) -> list[dict]:
    """Parse one WARC document (uncompressed text) into record dicts.

    Framing per the public spec: each record is ``WARC/1.x`` + header
    lines + CRLF CRLF + exactly ``Content-Length`` bytes of block +
    CRLF CRLF.  Header names are case-insensitive; unknown headers are
    ignored.  Malformed framing raises ``ValueError`` (a truncated
    record mid-stream corrupts every later offset — better loud).
    """
    out: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding newlines
        while pos < n and data[pos] in "\r\n":
            pos += 1
        if pos >= n:
            break
        if not data.startswith("WARC/", pos):
            raise ValueError(
                f"not a WARC record at offset {pos} "
                f"(got {data[pos:pos + 12]!r})")
        hdr_end = data.find("\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError("truncated WARC: unterminated header")
        headers: dict[str, str] = {}
        for line in data[pos:hdr_end].split("\r\n")[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError) as exc:
            raise ValueError(
                "WARC record without a valid Content-Length") from exc
        body_start = hdr_end + 4
        if body_start + clen > n:
            raise ValueError(
                f"truncated WARC: record needs {clen} block bytes, "
                f"{n - body_start} remain")
        out.append({
            "record_no": len(out),
            "warc_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "content_type": headers.get("content-type"),
            "content_length": clen,
            "block": data[body_start:body_start + clen],
        })
        pos = body_start + clen
    return out


_RECORD = itemgetter(*WARC_SCHEMA.fieldNames()[1:])


def _record_rows(data) -> list[tuple]:
    """The :data:`WARC_SCHEMA` tuple, less ``doc_id``, of every record
    in ``data`` (text, or bytes decoded as UTF-8 with replacement)."""
    if not isinstance(data, str):
        data = data.decode("utf-8", "replace")
    return [_RECORD(rec) for rec in parse_warc_text(data)]


def parse_warc(df: DataFrame, warc_col: str = "warc",
               id_col: str = "doc_id") -> DataFrame:
    """One row per WARC record per input row — Arrow-batched
    ``mapInPandas`` over :func:`parse_warc_text`, the same plan shape
    as the media decoders (zero shuffle, scan-parallel per file
    split)."""
    return map_blobs(spread(df), WARC_SCHEMA, _record_rows,
                     id_col, warc_col)


def split_gzip_members(data: bytes) -> list[bytes]:
    """Decompress a MULTI-MEMBER gzip stream into its member payloads
    (r13).  ``.warc.gz`` crawls (Common Crawl's shipped layout) gzip
    each record as its OWN member so readers can seek to a record
    boundary and decompress one record; a whole-stream gunzip loses
    those boundaries.  Each member is decompressed with a fresh
    ``zlib`` window (wbits=31 — gzip framing) and the next member
    starts at ``unused_data``.  Truncated or corrupt members raise
    ``ValueError``."""
    import zlib
    out: list[bytes] = []
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            chunk = d.decompress(data[pos:])
        except zlib.error as exc:
            raise ValueError(
                f"corrupt gzip member at byte {pos}: {exc}") from exc
        if not d.eof:
            raise ValueError(f"truncated gzip member at byte {pos}")
        out.append(chunk)
        pos = n - len(d.unused_data)
    return out


def parse_warc_gz(df: DataFrame, gz_col: str = "warc_gz",
                  id_col: str = "doc_id") -> DataFrame:
    """:func:`parse_warc` over member-per-record ``.warc.gz`` bytes
    (r13): each input value is a multi-member gzip stream; members
    decompress independently and their concatenation parses with the
    same Content-Length framing, so ``record_no`` matches the
    uncompressed layout.  Same Arrow batch shape — zero shuffle."""
    return map_blobs(spread(df), WARC_SCHEMA,
                     lambda b: _record_rows(b"".join(split_gzip_members(b))),
                     id_col, gz_col)


def http_payload_expr(block_col: str = "block") -> Column:
    """Entity body of an HTTP/1.x response block: everything after the
    first CRLF CRLF when the block starts with ``HTTP/``, the block
    unchanged otherwise (WET conversion records carry bare text).
    Pure JVM expression — the oracle replays it with the same
    string-position arithmetic."""
    c = F.col(block_col)
    sep = F.instr(c, "\r\n\r\n")
    return F.when(c.startswith("HTTP/") & (sep > 0),
                  F.substring(c, sep + 4, F.length(c))).otherwise(c)


def warc_responses(df: DataFrame, warc_col: str = "warc",
                   id_col: str = "doc_id") -> DataFrame:
    """The standard ingest slice: ``response`` records only, with the
    HTTP envelope stripped into ``payload`` — ready for
    ``extract_content`` / quality scoring / dedup."""
    recs = parse_warc(df, warc_col, id_col)
    return (recs.where(F.col("warc_type") == "response")
            .withColumn("payload", http_payload_expr("block"))
            .drop("block"))


def http_charset_expr(block_col: str = "block") -> Column:
    """Declared character set of an HTTP response block — the triage
    key for transcoding a crawl to UTF-8.

    Precedence mirrors browsers: the ``charset=`` parameter of the
    Content-Type HEADER (searched only in the header zone, before the
    first blank line) wins; an HTML ``<meta charset=..>`` or
    ``http-equiv`` declaration in the body is the fallback; NULL when
    neither declares one.  Lowercased.  Pure JVM regexp expressions —
    engine-portable, zero Python."""
    c = F.col(block_col)
    sep = F.instr(c, "\r\n\r\n")
    hdr = F.when(c.startswith("HTTP/") & (sep > 0),
                 F.substring(c, 1, sep - 1)).otherwise(F.lit(""))
    body = F.when(c.startswith("HTTP/") & (sep > 0),
                  F.substring(c, sep + 4, F.length(c))).otherwise(c)
    from_hdr = F.lower(F.regexp_extract(
        hdr, r"(?i)content-type:[^\r\n]*?charset=\"?([A-Za-z0-9_.:\-]+)",
        1))
    from_meta = F.lower(F.regexp_extract(
        body, r"(?i)<meta[^>]*charset\s*=\s*[\"']?([A-Za-z0-9_.:\-]+)",
        1))
    return F.coalesce(F.nullif(from_hdr, F.lit("")),
                      F.nullif(from_meta, F.lit("")))


def with_charset(df: DataFrame, block_col: str = "block",
                 out_col: str = "charset") -> DataFrame:
    """Frame form of :func:`http_charset_expr`."""
    return df.withColumn(out_col, http_charset_expr(block_col))


TRANSCODE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), True),
    T.StructField("used_charset", T.StringType(), True),
    T.StructField("had_errors", T.BooleanType(), True),
])

#: declared-charset aliases -> Python codec names (the high-frequency
#: crawl subset; unknown labels fall back to the UTF-8 ladder)
CHARSET_ALIASES = {
    "utf8": "utf-8", "utf-8": "utf-8",
    "latin-1": "latin-1", "latin1": "latin-1",
    "iso-8859-1": "latin-1", "iso8859-1": "latin-1",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "us-ascii": "ascii", "ascii": "ascii",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis",
    "euc-jp": "euc_jp", "euc-kr": "euc_kr",
    "gb2312": "gb2312", "gbk": "gbk", "big5": "big5",
    "iso-8859-2": "iso8859-2", "iso-8859-15": "iso8859-15",
    "koi8-r": "koi8-r", "windows-1251": "cp1251",
    "utf-16": "utf-16", "utf-16le": "utf-16-le",
    "utf-16be": "utf-16-be",
}


def transcode_payload(df: DataFrame, content_col: str = "content",
                      charset_col: str = "charset",
                      id_col: str = "doc_id") -> DataFrame:
    """Decode raw payload BYTES to UTF-8 text using each row's declared
    charset — the step between :func:`http_charset_expr` triage and
    every text operator downstream (quality, dedup, LM scoring all
    assume one encoding).

    Decode ladder per row: the declared charset (through
    :data:`CHARSET_ALIASES`), else strict UTF-8, else latin-1 (which
    cannot fail — the byte-preserving fallback every crawl pipeline
    ends on).  ``used_charset`` reports which rung decoded the row and
    ``had_errors`` whether the declared codec raised and the ladder
    fell through — the audit columns a re-crawl queue filters on.

    Arrow ``mapInPandas``, zero shuffle, scan-parallel — bytes never
    leave the columnar batch (same plan shape as the media decoders);
    Python codecs do the decoding because the JVM's charset table and
    Python's disagree on edge bytes, and ONE implementation must own
    the result (the normalize_unicode argument).

    It keeps its own loop rather than
    :func:`~pypond_spark.datapipe._util.map_blobs`: it is 1:1, so a
    NULL payload comes out as a row of NULLs instead of no row, and its
    ladder cannot raise.  A NULL id follows the codec tier's NULL law:
    a JVM filter in front of the loop drops the row.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, content, cs in zip(pdf[id_col], pdf[content_col],
                                        pdf[charset_col]):
                if content is None:
                    rows.append((int(did), None, None, None))
                    continue
                raw = bytes(content)
                codec = CHARSET_ALIASES.get((cs or "").lower())
                text = used = None
                had_errors = False
                for rung in ([codec] if codec else []) + \
                        ["utf-8", "latin-1"]:
                    try:
                        text = raw.decode(rung)
                        used = rung
                        break
                    except (UnicodeDecodeError, LookupError):
                        had_errors = True
                rows.append((int(did), text, used, had_errors))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              TRANSCODE_SCHEMA.fields])

    return (spread_io(df.where(F.col(id_col).isNotNull()))
            .mapInPandas(run, schema=TRANSCODE_SCHEMA))
