"""ID3v2 tag parsing — header-only audio metadata triage.

The metadata layer of the MP3 corpus: full MP3 audio decode stays the
documented ``multimodal.decode_audio`` NotImplementedError (float
IMDCT, not hash-exactable), but the ID3v2 tag that PREFIXES nearly
every real-world MP3 is plain integer/byte parsing — the same
header-only triage tier as ``pdf_info`` and ``sniff_audio_meta``:
cheap enough to run over 100 TB as a pre-filter, exact enough for a
hash-checked oracle.

Implements the public specs id3v2.2.0 / id3v2.3.0 / id3v2.4.0
(id3.org):

- 10-byte header ``ID3 <ver> <flags> <syncsafe size>``;
- v2.2 frames: 3-byte id + 3-byte big-endian size;
- v2.3 frames: 4-byte id + 4-byte plain size + 2 flag bytes;
- v2.4 frames: 4-byte id + 4-byte SYNCSAFE size + 2 flag bytes;
- text frames (``T``-prefix): encoding byte 0 latin-1 / 1 utf-16
  (BOM) / 2 utf-16-be (v2.4) / 3 utf-8 (v2.4), trailing NULs
  stripped;
- extended headers are skipped; padding ends the frame walk.

Honest boundaries (NotImplementedError): the unsynchronisation flag,
compressed / encrypted frame flags.  Structural corruption (short
header, frame overrunning the tag) raises ValueError.

:func:`encode_id3v2` is the deterministic synthesis twin;
:func:`audio_id3_tags` is the Spark tier — Arrow ``mapInPandas``,
zero shuffle, the standard datapipe decoder plan shape.
"""

from __future__ import annotations

from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._util import map_blobs, spread

__all__ = ["parse_id3v2", "encode_id3v2", "audio_id3_tags",
           "ID3_SCHEMA"]

#: common text-frame ids per version, normalized key -> frame id
_FRAME_IDS = {
    2: {"title": "TT2", "artist": "TP1", "album": "TAL",
        "track": "TRK", "year": "TYE", "length_ms": "TLE"},
    3: {"title": "TIT2", "artist": "TPE1", "album": "TALB",
        "track": "TRCK", "year": "TYER", "length_ms": "TLEN"},
    4: {"title": "TIT2", "artist": "TPE1", "album": "TALB",
        "track": "TRCK", "year": "TDRC", "length_ms": "TLEN"},
}


def _syncsafe(data: bytes) -> int:
    v = 0
    for b in data:
        if b & 0x80:
            raise ValueError("ID3v2 syncsafe byte with bit 7 set")
        v = (v << 7) | b
    return v


def _to_syncsafe(v: int, n: int = 4) -> bytes:
    out = bytearray()
    for i in range(n):
        out.append((v >> (7 * (n - 1 - i))) & 0x7F)
    return bytes(out)


def _decode_text(payload: bytes, version: int) -> str:
    if not payload:
        return ""
    enc, body = payload[0], payload[1:]
    if enc == 0:
        s = body.decode("latin-1")
    elif enc == 1:
        s = body.decode("utf-16")            # BOM-led
    elif enc == 2 and version == 4:
        s = body.decode("utf-16-be")
    elif enc == 3 and version == 4:
        s = body.decode("utf-8")
    else:
        raise ValueError(
            f"ID3v2.{version} text encoding {enc} out of spec")
    return s.rstrip("\x00")


def parse_id3v2(content: bytes) -> dict:
    """Parse a leading ID3v2 tag: ``{"version": "2.3", "tag_bytes":
    int (header+body; where the audio starts), "frames": {id: text}
    for text frames, "title"/"artist"/"album"/"track"/"year":
    str|None, "length_ms": int|None}``.  Bytes without a leading tag
    raise ValueError (callers sniff ``content[:3] == b"ID3"``)."""
    if content[:3] != b"ID3":
        raise ValueError("no ID3v2 tag (missing 'ID3' magic)")
    if len(content) < 10:
        raise ValueError("truncated ID3v2 header")
    version, rev, flags = content[3], content[4], content[5]
    if version not in (2, 3, 4):
        raise ValueError(f"unknown ID3v2.{version} version")
    if flags & 0x80:
        raise NotImplementedError("ID3v2 unsynchronisation")
    size = _syncsafe(content[6:10])
    if len(content) < 10 + size:
        raise ValueError("ID3v2 tag overruns the file")
    body = content[10:10 + size]
    pos = 0
    if version in (3, 4) and flags & 0x40:   # extended header
        if version == 3:
            ext = int.from_bytes(body[0:4], "big") + 4
        else:
            ext = _syncsafe(body[0:4])
        pos = ext
    id_len = 3 if version == 2 else 4
    frames: dict[str, str] = {}
    while pos + id_len <= len(body):
        fid = body[pos:pos + id_len]
        if fid.rstrip(b"\x00") == b"":       # padding
            break
        try:
            fid_s = fid.decode("ascii")
        except UnicodeDecodeError as exc:
            raise ValueError(
                f"ID3v2 frame id {fid!r} not ASCII") from exc
        if version == 2:
            fsize = int.from_bytes(body[pos + 3:pos + 6], "big")
            hdr = 6
            fflags = 0
        else:
            raw = body[pos + 4:pos + 8]
            fsize = (_syncsafe(raw) if version == 4
                     else int.from_bytes(raw, "big"))
            fflags = int.from_bytes(body[pos + 8:pos + 10], "big")
            hdr = 10
        if pos + hdr + fsize > len(body):
            raise ValueError(
                f"ID3v2 frame {fid_s} overruns the tag")
        if fflags & 0x00C0:
            raise NotImplementedError(
                f"ID3v2 compressed/encrypted frame {fid_s}")
        payload = body[pos + hdr:pos + hdr + fsize]
        if fid_s.startswith("T"):
            frames[fid_s] = _decode_text(payload, version)
        pos += hdr + fsize

    ids = _FRAME_IDS[version]
    out: dict = {"version": f"2.{version}",
                 "tag_bytes": 10 + size, "frames": frames}
    for key in ("title", "artist", "album", "track", "year"):
        out[key] = frames.get(ids[key])
    tlen = frames.get(ids["length_ms"])
    out["length_ms"] = (int(tlen) if tlen and tlen.isdigit()
                        else None)
    return out


def encode_id3v2(fields: dict[str, str], version: int = 3,
                 encoding: str = "latin1",
                 padding: int = 0) -> bytes:
    """Deterministic ID3v2 tag bytes from ``{normalized_key: text}``
    (keys of :data:`_FRAME_IDS`; unknown keys raise).  Frames are
    emitted in sorted frame-id order; ``encoding`` is ``latin1`` /
    ``utf16`` (BOM-led LE) / ``utf8`` (v2.4 only)."""
    if version not in (2, 3, 4):
        raise ValueError(f"unsupported ID3v2 version {version}")
    ids = _FRAME_IDS[version]
    enc_byte, codec = {
        "latin1": (0, "latin-1"),
        "utf16": (1, "utf-16-le"),
        "utf8": (3, "utf-8"),
    }.get(encoding, (None, None))
    if enc_byte is None:
        raise ValueError(f"unsupported encoding {encoding!r}")
    if encoding == "utf8" and version != 4:
        raise ValueError("utf8 text frames are ID3v2.4-only")
    frames = bytearray()
    items = []
    for key, text in fields.items():
        if key not in ids:
            raise ValueError(f"unknown ID3 field {key!r}")
        items.append((ids[key], str(text)))
    for fid, text in sorted(items):
        if encoding == "utf16":
            payload = bytes([1]) + b"\xff\xfe" \
                + text.encode("utf-16-le")
        else:
            payload = bytes([enc_byte]) + text.encode(codec)
        if version == 2:
            frames += fid.encode("ascii") \
                + len(payload).to_bytes(3, "big") + payload
        elif version == 3:
            frames += fid.encode("ascii") \
                + len(payload).to_bytes(4, "big") + b"\x00\x00" \
                + payload
        else:
            frames += fid.encode("ascii") \
                + _to_syncsafe(len(payload)) + b"\x00\x00" + payload
    frames += bytes(padding)
    return (b"ID3" + bytes([version, 0, 0])
            + _to_syncsafe(len(frames)) + bytes(frames))


ID3_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("version", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("artist", T.StringType()),
    T.StructField("album", T.StringType()),
    T.StructField("length_ms", T.LongType()),
])


def audio_id3_tags(df: DataFrame, content_col: str = "content",
                   id_col: str = "doc_id") -> DataFrame:
    """One row per tagged audio blob: ``(doc_id, version, title,
    artist, album, length_ms)`` — Arrow ``mapInPandas`` over
    :func:`parse_id3v2`, zero shuffle; the header-only MP3 triage
    beside ``multimodal.sniff_audio_meta``."""
    tags = itemgetter(*ID3_SCHEMA.fieldNames()[1:])
    return map_blobs(spread(df), ID3_SCHEMA,
                     lambda b: [tags(parse_id3v2(b))], id_col, content_col)
