"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns plus a typed metadata struct. The Spark
side — schema, partition-friendly layout, Arrow-batched UDF signatures — is
real and tested. Codecs:

- REAL pure-Python decoders for the formats that need no external library:
  binary PPM (P6), PNG images (``decode_image`` —
  PNG via stdlib ``zlib``, all five scanline filters, gray/RGB/alpha
  variants at depth 8 and 16, palette (PLTE) at depth 1/2/4/8, plus
  minimal ``encode_png`` / ``encode_png_indexed`` / ``encode_png16``
  encoders, sequential AND Adam7-interlaced), baseline-sequential +
  progressive + multi-scan JPEG
  (:mod:`pypond_spark.datapipe.jpeg` — Huffman + dequant + numpy IDCT +
  chroma upsampling + YCbCr->RGB, with matching encoders;
  arithmetic/12-bit raise ``NotImplementedError``),
  1/4/8-bpp-palette / 16/24/32-bpp / RLE8-RLE4 / bitfields BMP
  (:mod:`pypond_spark.datapipe.bmp`, incl. the OS/2 core header) and 8/16/24/32-bit PCM WAV audio
  (``decode_audio`` via the stdlib ``wave`` module), with per-media stats
  operators (``image_stats`` / ``audio_stats``);
- everything else (MP3/MP4/...) raises ``NotImplementedError`` — this
  container has no imaging/audio libraries; ``extract_features(fake=True)``
  keeps the deterministic hash-feature path for plumbing tests.

At scale: media bytes stay columnar in parquet; ``mapInPandas`` streams Arrow
batches so a 100 MB image batch never materializes as Python row objects;
feature extraction parallelizes per file-split with no shuffle.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._util import map_blobs, spread, spread_io

from pypond_spark.datapipe.bmp import decode_bmp
from pypond_spark.datapipe.gif import decode_gif
from pypond_spark.datapipe.jpeg import decode_jpeg

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),      # image|audio|video
    T.StructField("content", T.BinaryType(), True),    # opaque bytes
    T.StructField("meta", T.StructType([
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("digest", T.StringType(), True),
    T.StructField("features", T.ArrayType(T.FloatType()), True),
])


def _fake_features(content: bytes, n: int = 8) -> list[float]:
    """Deterministic stand-in for a real decoder: bytes -> tiny float vector."""
    digest = hashlib.md5(content).digest()
    return [digest[i] / 255.0 for i in range(n)]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left
    to the linear estimate a + b - c, ties breaking left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_chunks(content: bytes):
    """Yield (type, data) for each chunk, CRC-verified."""
    pos = len(_PNG_SIG)
    while pos + 12 <= len(content):
        (length,) = struct.unpack(">I", content[pos:pos + 4])
        ctype = content[pos + 4:pos + 8]
        data = content[pos + 8:pos + 8 + length]
        if len(data) != length:
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        (crc,) = struct.unpack(
            ">I", content[pos + 8 + length:pos + 12 + length])
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, data
        if ctype == b"IEND":
            return
        pos += 12 + length


def _unfilter_scanline(ftype: int, line: bytearray, prev: bytes,
                       bpp: int) -> bytearray:
    """Invert one scanline filter in place (RFC 2083 §6: None, Sub, Up,
    Average, Paeth). ``prev`` is the RECONSTRUCTED previous scanline."""
    n = len(line)
    if ftype == 0:
        return line
    if ftype == 1:      # Sub
        for i in range(bpp, n):
            line[i] = (line[i] + line[i - bpp]) & 0xFF
    elif ftype == 2:    # Up
        for i in range(n):
            line[i] = (line[i] + prev[i]) & 0xFF
    elif ftype == 3:    # Average
        for i in range(n):
            left = line[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
    elif ftype == 4:    # Paeth
        for i in range(n):
            left = line[i - bpp] if i >= bpp else 0
            ul = prev[i - bpp] if i >= bpp else 0
            line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return line


def _unpack_indices(line: bytes, width: int, depth: int) -> list[int]:
    """Unpack sub-byte palette indices (depth 1/2/4; PNG packs MSB
    first within each byte, scanlines padded to a byte boundary)."""
    if depth == 8:
        return list(line[:width])
    per = 8 // depth
    mask = (1 << depth) - 1
    out = []
    for b in line:
        for k in range(per - 1, -1, -1):
            out.append((b >> (k * depth)) & mask)
            if len(out) == width:
                return out
    return out


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step), PNG spec
#: order — pass k holds every (y_start + i*y_step, x_start + j*x_step)
#: pixel not claimed by an earlier pass
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _expand_png_line(line: bytes, w: int, color: int, depth: int,
                     plte, n_pal: int) -> bytes:
    """One unfiltered scanline -> 3w bytes of interleaved 8-bit RGB
    (gray replicated, alpha dropped, 16-bit high byte, palette
    looked up) — shared by the sequential and Adam7 pass loops."""
    rgb = bytearray(w * 3)
    if color == 3:                         # palette lookup -> RGB
        for x, ix in enumerate(_unpack_indices(line, w, depth)):
            if ix >= n_pal:
                raise ValueError(
                    f"palette index {ix} >= PLTE size {n_pal}")
            rgb[3 * x:3 * x + 3] = plte[3 * ix:3 * ix + 3]
    elif color == 2:                       # RGB passthrough
        rgb[:] = line if depth == 8 else line[0::2]
    elif color == 6:                       # RGBA -> drop alpha
        step = 4 * (depth // 8)
        for x in range(w):
            px = line[step * x:step * x + 3 * (depth // 8)]
            rgb[3 * x:3 * x + 3] = px if depth == 8 else px[0::2]
    elif color == 0:                       # gray -> replicate
        samp = line if depth == 8 else line[0::2]
        for x in range(w):
            rgb[3 * x] = rgb[3 * x + 1] = rgb[3 * x + 2] = samp[x]
    else:                                  # gray+alpha -> replicate gray
        step = 2 * (depth // 8)
        for x in range(w):
            g = line[step * x]
            rgb[3 * x] = rgb[3 * x + 1] = rgb[3 * x + 2] = g
    return bytes(rgb)


def _decode_png(content: bytes) -> dict:
    """Pure-Python PNG decode (stdlib ``zlib`` only): critical chunks,
    gray / RGB / gray+alpha / RGBA at depth 8 or 16, palette (color
    type 3, PLTE) at depth 1/2/4/8, all five scanline filters, BOTH
    interlace methods (sequential and Adam7 — r12: the seven passes
    are decoded as independent sub-images, each with its own filter
    chain, and scattered onto the pixel grid). Pixels are normalized
    to interleaved 8-bit RGB (gray replicated across channels, alpha
    dropped, 16-bit samples take the HIGH byte — the standard 16->8
    downsample, exact for the common ``v*257`` widening) so every
    downstream image operator — stats, aHash/dHash, near-dups — is
    format-blind. Corrupt structure (bad CRC, truncation, palette
    without PLTE, out-of-range index) raises ``ValueError``."""
    ihdr = None
    idat = []
    plte = None
    for ctype, data in _png_chunks(content):
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"PLTE":
            plte = data
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    width, height, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr)
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    if comp or filt:
        raise ValueError(f"bad PNG compression/filter method "
                         f"({comp}/{filt})")
    if color == 3:
        if depth not in (1, 2, 4, 8):
            raise ValueError(f"palette PNG with bit depth {depth}")
        if plte is None or len(plte) % 3 or not plte:
            raise ValueError("palette PNG missing/odd PLTE chunk")
        bpp = 1
    elif color in _PNG_CHANNELS:
        if depth not in (8, 16):
            raise NotImplementedError(
                f"PNG color type {color} at depth {depth}")
        bpp = _PNG_CHANNELS[color] * (depth // 8)
    else:
        raise ValueError(f"unknown PNG color type {color}")

    def p_stride(w: int) -> int:
        return (w * depth + 7) // 8 if color == 3 else w * bpp

    passes = [(0, 0, 1, 1)] if interlace == 0 else list(_ADAM7)
    geom = []                    # (x0, y0, dx, dy, pass_w, pass_h)
    for x0, y0, dx, dy in passes:
        pw = max(0, (width - x0 + dx - 1) // dx)
        ph = max(0, (height - y0 + dy - 1) // dy)
        if pw and ph:
            geom.append((x0, y0, dx, dy, pw, ph))
    raw = zlib.decompress(b"".join(idat))
    need = sum(ph * (1 + p_stride(pw))
               for _, _, _, _, pw, ph in geom)
    if len(raw) != need:
        raise ValueError(
            f"PNG pixel data: expected {need} bytes, got {len(raw)}")
    out = bytearray(width * height * 3)
    n_pal = len(plte) // 3 if plte is not None else 0
    pos = 0
    for x0, y0, dx, dy, pw, ph in geom:
        stride = p_stride(pw)
        prev: bytes = bytes(stride)
        for i in range(ph):
            line = _unfilter_scanline(raw[pos], bytearray(
                raw[pos + 1:pos + 1 + stride]), prev, bpp)
            pos += 1 + stride
            rgb = _expand_png_line(line, pw, color, depth, plte, n_pal)
            y = y0 + i * dy
            base = y * width * 3
            if dx == 1 and x0 == 0:
                out[base:base + pw * 3] = rgb
            else:
                for j in range(pw):
                    o = base + 3 * (x0 + j * dx)
                    out[o:o + 3] = rgb[3 * j:3 * j + 3]
            prev = bytes(line)
    return {"format": "png", "width": width, "height": height,
            "maxval": 255, "pixels": bytes(out)}


def _filter_scanline(ftype: int, line: bytes, prev: bytes,
                     bpp: int) -> bytes:
    """Apply one scanline filter (the encode direction of
    :func:`_unfilter_scanline`)."""
    n = len(line)
    if ftype == 0:
        return line
    out = bytearray(n)
    if ftype == 1:
        for i in range(n):
            left = line[i - bpp] if i >= bpp else 0
            out[i] = (line[i] - left) & 0xFF
    elif ftype == 2:
        for i in range(n):
            out[i] = (line[i] - prev[i]) & 0xFF
    elif ftype == 3:
        for i in range(n):
            left = line[i - bpp] if i >= bpp else 0
            out[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
    elif ftype == 4:
        for i in range(n):
            left = line[i - bpp] if i >= bpp else 0
            ul = prev[i - bpp] if i >= bpp else 0
            out[i] = (line[i] - _paeth(left, prev[i], ul)) & 0xFF
    else:
        raise ValueError(f"unknown PNG filter type {ftype}")
    return bytes(out)


def encode_png(width: int, height: int, pixels: bytes,
               filters: tuple[int, ...] = (0,),
               interlace: bool = False) -> bytes:
    """Minimal RGB PNG encoder (stdlib ``zlib`` only): 8-bit color type
    2, one IDAT. ``filters`` cycles per scanline (``(0,1,2,3,4)``
    exercises every decoder filter path — any choice decodes to the
    same pixels; smarter per-line selection only changes size).
    ``interlace=True`` emits Adam7 (r12): the seven sub-images in pass
    order, each filtered independently — decoding either form returns
    the same pixels, which is exactly what the roundtrip tests pin.
    The synthesis half of the oracle-replayable PNG pipeline: pixels
    in == pixels out of :func:`_decode_png`, bit-for-bit."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"need {width * height * 3} RGB bytes, "
                         f"got {len(pixels)}")
    lines = []
    passes = list(_ADAM7) if interlace else [(0, 0, 1, 1)]
    fno = 0
    for x0, y0, dx, dy in passes:
        pw = max(0, (width - x0 + dx - 1) // dx)
        ph = max(0, (height - y0 + dy - 1) // dy)
        if not pw or not ph:
            continue
        prev: bytes = bytes(pw * 3)
        for i in range(ph):
            y = y0 + i * dy
            row = pixels[y * width * 3:(y + 1) * width * 3]
            line = b"".join(row[3 * (x0 + j * dx):
                                3 * (x0 + j * dx) + 3]
                            for j in range(pw)) \
                if (dx != 1 or x0) else bytes(row[:pw * 3])
            f = filters[fno % len(filters)]
            fno += 1
            lines.append(bytes([f]) + _filter_scanline(f, line, prev, 3))
            prev = line

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0,
                       1 if interlace else 0)
    # level 9 with a fixed strategy: zlib output is deterministic for a
    # given input+level across CPython builds (same bundled zlib API
    # contract the test suite pins), and the DECODED pixels are what
    # the oracle replays anyway
    idat = zlib.compress(b"".join(lines), 9)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", idat) + _png_chunk(b"IEND", b""))


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def encode_png_indexed(width: int, height: int, indices: bytes,
                       plte: bytes, depth: int = 8,
                       filters: tuple[int, ...] = (0,)) -> bytes:
    """Palette (color type 3) PNG encoder: one index per pixel mapped
    through ``plte`` (RGB triples, <= 256 entries — duplicates legal),
    sub-byte depths packed MSB-first per the spec. The synthesis half
    of the palette decode path: :func:`_decode_png` returns exactly
    ``plte[ix]`` per pixel, so choosing PLTE = the target pixel bytes
    and indices = 0..n-1 makes the decoded image any RGB content at
    all while still exercising the palette machinery."""
    if width < 1 or height < 1:
        raise ValueError(
            f"image dimensions must be >= 1, got {width}x{height}")
    if depth not in (1, 2, 4, 8):
        raise ValueError(f"palette depth must be 1/2/4/8, got {depth}")
    if len(plte) % 3 or not 0 < len(plte) // 3 <= 256:
        raise ValueError(f"PLTE must be 1..256 RGB triples, "
                         f"got {len(plte)} bytes")
    if len(indices) != width * height:
        raise ValueError(f"need {width * height} indices, "
                         f"got {len(indices)}")
    if max(indices) >= len(plte) // 3 or max(indices) >= (1 << depth):
        raise ValueError("palette index out of range for depth/PLTE")
    per = 8 // depth
    lines = []
    prev = bytes((width * depth + 7) // 8)
    for y in range(height):
        row = indices[y * width:(y + 1) * width]
        if depth == 8:
            line = bytes(row)
        else:
            packed = bytearray((width + per - 1) // per)
            for x, ix in enumerate(row):
                packed[x // per] |= ix << ((per - 1 - x % per) * depth)
            line = bytes(packed)
        f = filters[y % len(filters)]
        lines.append(bytes([f]) + _filter_scanline(f, line, prev, 1))
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, depth, 3, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", plte)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(lines), 9))
            + _png_chunk(b"IEND", b""))


def encode_png16(width: int, height: int, pixels: bytes,
                 filters: tuple[int, ...] = (0,)) -> bytes:
    """16-bit RGB PNG encoder: each 8-bit sample ``v`` widens to
    ``v*257`` (= ``(v<<8)|v``), the exact inverse of the decoder's
    high-byte downsample — so decode(encode16(px)) == px bit-for-bit
    and the 16-bit path is oracle-replayable with the same pixel
    recipe."""
    if len(pixels) != width * height * 3:
        raise ValueError(f"need {width * height * 3} RGB bytes, "
                         f"got {len(pixels)}")
    prev = bytes(width * 6)
    lines = []
    for y in range(height):
        row = pixels[y * width * 3:(y + 1) * width * 3]
        line = bytes(b for v in row for b in (v, v))
        f = filters[y % len(filters)]
        lines.append(bytes([f]) + _filter_scanline(f, line, prev, 6))
        prev = line
    ihdr = struct.pack(">IIBBBBB", width, height, 16, 2, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(lines), 9))
            + _png_chunk(b"IEND", b""))


def decode_image(content: bytes) -> dict:
    """Real image decode, pure Python, no libraries: binary PPM (P6)
    and PNG — sequential or Adam7 — (gray/RGB/gray+alpha/RGBA at depth 8/16 and
    palette at depth 1/2/4/8 — see :func:`_decode_png`).

    Returns ``{"format", "width", "height", "maxval", "pixels"}`` where
    pixels are raw interleaved RGB bytes regardless of source format.
    Baseline-sequential AND progressive JPEG decode via
    :mod:`pypond_spark.datapipe.jpeg` (arithmetic / 12-bit raise
    ``NotImplementedError`` there); any other format raises
    ``NotImplementedError``.

    Per-call cost note (r12, measured in SCALE.md): the magic-byte
    sniff is ~0.26% of decode work, but the former call-site imports
    were ~15% on small-image corpora — the codec imports are hoisted
    to module scope (gif/bmp/jpeg are import-cycle-free), so batching
    callers by format would now buy nothing.
    """
    if content.startswith(_PNG_SIG):
        return _decode_png(content)
    if content.startswith(b"\xFF\xD8"):
        return decode_jpeg(content)
    if content.startswith(b"GIF8"):
        return decode_gif(content)
    if content.startswith(b"BM"):
        return decode_bmp(content)
    if content.startswith(b"II*\x00") or content.startswith(b"MM\x00*"):
        from pypond_spark.datapipe.tiff import decode_tiff
        return decode_tiff(content)
    if not (content.startswith(b"P6") or content.startswith(b"P5")):
        raise NotImplementedError(
            "only binary PPM/PGM (P6/P5), PNG, GIF, BMP, TIFF and "
            "baseline JPEG decode without an imaging library; use "
            "extract_features(..., fake=True) for plumbing tests")
    gray = content.startswith(b"P5")
    # header: magic <ws> width <ws> height <ws> maxval <single ws>
    # pixels; '#' comments may appear between tokens
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(content) and content[pos:pos + 1].isspace():
            pos += 1
        if content[pos:pos + 1] == b"#":
            while pos < len(content) and content[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos:pos + 1].isspace():
            pos += 1
        tokens.append(int(content[start:pos]))
    pos += 1  # exactly one whitespace byte before pixel data
    width, height, maxval = tokens
    n = width * height * (1 if gray else 3)
    pixels = content[pos:pos + n]
    if len(pixels) != n:
        raise ValueError(
            f"truncated {'PGM' if gray else 'PPM'}: expected {n} "
            f"pixel bytes, got {len(pixels)}")
    if gray:  # P5 grayscale: replicate to the RGB pixel contract
        pixels = bytes(b for v in pixels for b in (v, v, v))
    return {"format": "pgm" if gray else "ppm", "width": width,
            "height": height, "maxval": maxval, "pixels": pixels}


def decode_audio(content: bytes) -> dict:
    """Real audio decode for PCM WAV via the stdlib ``wave`` module —
    8-bit unsigned, 16/24/32-bit signed little-endian (r12: all four
    integer PCM widths, not just 16) — and, since r13, FLAC via the
    pure-Python :mod:`pypond_spark.datapipe.flac` codec (integer-
    exact lossless, so FLAC clips feed the same fingerprint/near-dup
    chain sample-for-sample).

    Returns ``{"n_channels", "sample_rate", "n_samples", "samples"}``
    with samples as signed ints at the FILE's native scale (8-bit
    recenters the unsigned 0..255 range to -128..127; interleaved if
    multi-channel).  Perceptual codecs (MP3/AAC) still raise
    ``NotImplementedError`` — float psychoacoustic transforms are
    neither hash-exactable nor decodable without codec libraries.
    """
    if content[:4] == b"FORM" and content[8:12] in (b"AIFF",
                                                    b"AIFC"):
        from pypond_spark.datapipe.aiff import decode_aiff
        d = decode_aiff(content)
        return {"n_channels": d["channels"],
                "sample_rate": d["sample_rate"],
                "n_samples": d["n_frames"], "samples": d["samples"]}
    if content[:4] == b"fLaC":
        from pypond_spark.datapipe.flac import decode_flac
        d = decode_flac(content)
        chans = d["samples"]
        samples = (list(chans[0]) if d["channels"] == 1
                   else [v for tup in zip(*chans) for v in tup])
        return {"n_channels": d["channels"],
                "sample_rate": d["sample_rate"],
                "n_samples": d["n_samples"], "samples": samples}
    try:
        with wave.open(io.BytesIO(content)) as wav:
            nch = wav.getnchannels()
            width = wav.getsampwidth()
            rate = wav.getframerate()
            nframes = wav.getnframes()
            raw = wav.readframes(nframes)
    except wave.Error as exc:
        raise NotImplementedError(f"not a decodable WAV: {exc}") from exc
    if width == 2:
        samples = list(struct.unpack(f"<{len(raw) // 2}h", raw))
    elif width == 1:
        samples = [b - 128 for b in raw]
    elif width == 4:
        samples = list(struct.unpack(f"<{len(raw) // 4}i", raw))
    elif width == 3:
        samples = [int.from_bytes(raw[i:i + 3], "little", signed=True)
                   for i in range(0, len(raw), 3)]
    else:
        raise NotImplementedError(
            f"only 8/16/24/32-bit integer PCM decodes here "
            f"(sample width {width})")
    return {"n_channels": nch, "sample_rate": rate,
            "n_samples": nframes, "samples": samples}


def attach_binary(df: DataFrame, source_col: str, media_id_col: str,
                  kind: str = "image") -> DataFrame:
    """Wrap an existing column's bytes (or utf-8 of a string) as media rows."""
    content = F.col(source_col).cast("binary")
    return df.select(
        F.col(media_id_col).cast("long").alias("media_id"),
        F.lit(kind).alias("kind"),
        content.alias("content"),
        F.struct(
            F.lit("raw").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def _image_feats(img: dict) -> tuple:
    """(width, height, mean_r, mean_g, mean_b) from a decoded image — the
    single source of the channel-mean formula for every image feature path."""
    px = img["pixels"]
    n_px = max(img["width"] * img["height"], 1)
    means = [sum(px[c::3]) / n_px for c in range(3)]
    return (img["width"], img["height"], *means)


def _audio_feats(aud: dict) -> tuple:
    """(n_channels, sample_rate, n_samples, peak, rms) from a decoded clip."""
    s = aud["samples"]
    peak = max((abs(v) for v in s), default=0)
    rms = math.sqrt(sum(v * v for v in s) / len(s)) if s else 0.0
    return (aud["n_channels"], aud["sample_rate"], aud["n_samples"],
            peak, rms)


def extract_features(df: DataFrame, fake: bool = False,
                     n_features: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over media rows via mapInPandas.

    ``fake=False`` decodes each blob with :func:`decode_image` (falling
    back to :func:`decode_audio`) and returns its :func:`image_stats` /
    :func:`audio_stats` numbers as the feature vector; a blob neither
    decoder reads raises ``NotImplementedError``.  ``fake=True``
    produces deterministic hash features, exercising the same batch
    path.
    """

    def real_features(data: bytes) -> list[float]:
        try:
            img = decode_image(data)
        except NotImplementedError:
            aud = decode_audio(data)  # raises NotImplementedError if neither
            return [float(v) for v in _audio_feats(aud)]
        return [float(v) for v in _image_feats(img)]

    def features(data: bytes):
        feats = (_fake_features(data, n_features) if fake
                 else real_features(data))
        return [(len(data), hashlib.md5(data).hexdigest(), feats)]

    return map_blobs(spread(df), FEATURE_SCHEMA, features,
                     "media_id", "content")


IMAGE_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.LongType(), True),
    T.StructField("height", T.LongType(), True),
    T.StructField("mean_r", T.DoubleType(), True),
    T.StructField("mean_g", T.DoubleType(), True),
    T.StructField("mean_b", T.DoubleType(), True),
])

AUDIO_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_channels", T.LongType(), True),
    T.StructField("sample_rate", T.LongType(), True),
    T.StructField("n_samples", T.LongType(), True),
    T.StructField("peak", T.LongType(), True),
    T.StructField("rms", T.DoubleType(), True),
])


def image_stats(df: DataFrame) -> DataFrame:
    """REAL per-image stats via the pure-Python PPM decoder: width, height,
    per-channel pixel means. Arrow-batched mapInPandas, no shuffle; the
    means are exact doubles when width*height is a power of two, so a SQL
    oracle reproduces them bit-for-bit."""

    return map_blobs(spread(df), IMAGE_STATS_SCHEMA,
                     lambda b: [_image_feats(decode_image(b))],
                     "media_id", "content")


def audio_stats(df: DataFrame) -> DataFrame:
    """REAL per-clip stats via the stdlib WAV/PCM16 decoder: channel count,
    rate, sample count, peak amplitude, RMS."""

    return map_blobs(spread(df), AUDIO_STATS_SCHEMA,
                     lambda b: [_audio_feats(decode_audio(b))],
                     "media_id", "content")


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one row per (media, frame_ts) to decode.

    Demonstrates the fan-out shape (sequence + explode, no UDF); actual frame
    decode would be a mapInPandas over this plan joined back to content.
    """
    n = F.greatest((F.col("meta.duration_ms") / every_ms).cast("long"), F.lit(1))
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n - 1)).alias("frame_idx"),
    ).withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)


# ---------------------------------------------------------------------------
# resize + header-only metadata sniffing
# ---------------------------------------------------------------------------

RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("content", T.BinaryType(), False),
])


def _resize_pixels(img: dict, out_w: int, out_h: int, method: str):
    """All-integer resize of a decoded image -> raw RGB bytes.

    ``nearest``: source pixel at the pixel-CENTER mapping
    ``sx = (2x+1)*W // (2*out_w)`` (both directions legal).
    ``box``: area-average over floor-boundary cells (the
    :func:`_phash_of` grid), each output sample the FLOOR of
    ``cell_sum / cell_area`` — integer-exact, downsample only.
    """
    import numpy as np
    W, H = img["width"], img["height"]
    px = np.frombuffer(img["pixels"], np.uint8).reshape(H, W, 3)
    if method == "nearest":
        xs = ((2 * np.arange(out_w) + 1) * W) // (2 * out_w)
        ys = ((2 * np.arange(out_h) + 1) * H) // (2 * out_h)
        out = px[ys][:, xs]
    else:  # box
        if out_w > W or out_h > H:
            raise ValueError(
                f"box resize only downsamples: {W}x{H} -> "
                f"{out_w}x{out_h}")
        xb = (np.arange(out_w + 1) * W) // out_w
        yb = (np.arange(out_h + 1) * H) // out_h
        s = px.astype(np.int64)
        s = np.add.reduceat(s, xb[:-1], axis=1)
        s = np.add.reduceat(s, yb[:-1], axis=0)
        area = ((yb[1:] - yb[:-1])[:, None]
                * (xb[1:] - xb[:-1])[None, :])
        out = (s // area[:, :, None]).astype(np.uint8)
    return np.ascontiguousarray(out).tobytes()


def resize_image(df: DataFrame, out_w: int, out_h: int,
                 method: str = "box") -> DataFrame:
    """Resize decoded images to ``out_w x out_h`` — the normalize step
    every multimodal training pipeline runs before feature extraction
    (thumbnails, fixed-grid model inputs).

    Two all-integer methods so a SQL replay over the same source bytes
    matches bit-for-bit (the :func:`_phash_of` exactness discipline):
    ``nearest`` (pixel-center source sampling, up- or downsample) and
    ``box`` (floor-boundary area average, downsample only — the
    anti-aliasing choice).

    Output ``content`` is a binary PPM (P6), so the result feeds
    straight back into :func:`decode_image` / :func:`image_phash` /
    :func:`image_stats` — resize composes with the whole tier.

    At scale: one Arrow ``mapInPandas`` stage, zero shuffle, numpy
    slicing per image (no per-pixel Python); bytes never leave the
    columnar batch. Plan shape identical to the decode rows.
    """
    if method not in ("nearest", "box"):
        raise ValueError(f"method must be nearest|box, got {method!r}")
    if out_w < 1 or out_h < 1:
        raise ValueError(f"output dimensions must be >= 1, "
                         f"got {out_w}x{out_h}")
    header = f"P6\n{out_w} {out_h}\n255\n".encode()

    def resize(b: bytes):
        raw = _resize_pixels(decode_image(b), out_w, out_h, method)
        return [(out_w, out_h, header + raw)]

    return map_blobs(spread(df), RESIZED_SCHEMA, resize,
                     "media_id", "content")


IMAGE_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("format", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])

_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def _sniff_meta(content: bytes):
    """(format, width, height) from HEADER bytes only — no pixel
    decompression, no full-file scan.  Returns (None, None, None) for
    unrecognized magic instead of raising (triage must not abort on
    junk bytes)."""
    if content.startswith(_PNG_SIG) and len(content) >= 24:
        w, h = struct.unpack(">II", content[16:24])
        return "png", w, h
    if content.startswith(b"GIF8") and len(content) >= 10:
        w, h = struct.unpack("<HH", content[6:10])
        return "gif", w, h
    if content.startswith(b"BM") and len(content) >= 26:
        w, h = struct.unpack("<ii", content[18:26])
        return "bmp", w, abs(h)
    if content.startswith(b"P6") or content.startswith(b"P5"):
        fmt = "ppm" if content.startswith(b"P6") else "pgm"
        try:
            pos, tokens = 2, []
            while len(tokens) < 2:
                while pos < len(content) \
                        and content[pos:pos + 1].isspace():
                    pos += 1
                if content[pos:pos + 1] == b"#":
                    while pos < len(content) and content[pos] != 0x0A:
                        pos += 1
                    continue
                start = pos
                while pos < len(content) \
                        and not content[pos:pos + 1].isspace():
                    pos += 1
                tokens.append(int(content[start:pos]))
            return fmt, tokens[0], tokens[1]
        except (ValueError, IndexError):
            return fmt, None, None
    if content.startswith(b"\xFF\xD8"):
        # walk marker segments to the first SOFn (T.81 B.2): each
        # non-standalone segment carries a 2-byte length, so the walk
        # touches O(#segments) bytes, never the entropy-coded data
        pos = 2
        while pos + 4 <= len(content):
            if content[pos] != 0xFF:
                break
            while pos < len(content) and content[pos] == 0xFF:
                pos += 1
            if pos >= len(content):
                break
            marker = content[pos]
            pos += 1
            if marker in _SOF_MARKERS:
                if pos + 7 <= len(content):
                    h, w = struct.unpack(">HH", content[pos + 3:pos + 7])
                    return "jpeg", w, h
                break
            if 0xD0 <= marker <= 0xD7 or marker == 0x01:
                continue  # standalone, no length
            if marker == 0xD9 or pos + 2 > len(content):
                break
            (seg_len,) = struct.unpack(">H", content[pos:pos + 2])
            pos += seg_len
        return "jpeg", None, None
    return None, None, None


def sniff_image_meta(df: DataFrame, engine: str = "arrow") -> DataFrame:
    """Header-only format/dimension probe — the 100-TB triage
    operator: filtering a crawl to "images between 64px and 8192px"
    must not decompress a single pixel.  Cost is O(header bytes) per
    file, not O(pixels); a 50 MB PNG costs the same 24 bytes as an
    icon.

    ``engine="arrow"``: one ``mapInPandas`` stage covering every
    format this tier decodes (PNG/GIF/BMP/PPM + the JPEG SOF marker
    walk).  ``engine="expr"``: pure JVM column expressions — zero
    Python — for the FIXED-OFFSET formats (PNG/GIF/BMP); JPEG rows
    come back with NULL dimensions there (SOF position varies per
    file), format still identified by magic.  Unknown magic yields
    NULL format (triage, not validation — junk must not abort a
    100-TB scan).
    """
    if engine == "arrow":
        return map_blobs(spread_io(df), IMAGE_META_SCHEMA,
                         lambda b: [_sniff_meta(b)], "media_id", "content")
    if engine != "expr":
        raise ValueError(f"engine must be arrow|expr, got {engine!r}")

    content = F.col("content")

    def be(off: int, n: int):  # 1-based offset, big-endian unsigned
        return F.conv(F.hex(F.substring(content, off, n)), 16, 10) \
            .cast("long")

    def le(off: int, n: int):  # little-endian unsigned
        return sum(be(off + i, 1) * (1 << (8 * i)) for i in range(n))

    is_png = F.substring(content, 1, 8) == F.lit(_PNG_SIG)
    is_gif = F.substring(content, 1, 4) == F.lit(b"GIF8")
    is_bmp = F.substring(content, 1, 2) == F.lit(b"BM")
    is_jpg = F.substring(content, 1, 2) == F.lit(b"\xFF\xD8")
    # BMP height is SIGNED int32 (negative = top-down)
    bmp_h_raw = le(23, 4)
    bmp_h = F.abs(F.when(bmp_h_raw >= F.lit(1 << 31),
                         bmp_h_raw - F.lit(1 << 32)).otherwise(bmp_h_raw))
    fmt = (F.when(is_png, "png").when(is_gif, "gif")
           .when(is_bmp, "bmp").when(is_jpg, "jpeg")
           .otherwise(F.lit(None).cast("string")))
    width = (F.when(is_png, be(17, 4)).when(is_gif, le(7, 2))
             .when(is_bmp, le(19, 4))
             .otherwise(F.lit(None).cast("long")))
    height = (F.when(is_png, be(21, 4)).when(is_gif, le(9, 2))
              .when(is_bmp, bmp_h)
              .otherwise(F.lit(None).cast("long")))
    # the codec NULL law of map_blobs, so both engines agree
    kept = df.where(F.col("media_id").isNotNull() & content.isNotNull())
    return kept.select(
        F.col("media_id").cast("long").alias("media_id"),
        fmt.alias("format"),
        width.cast("int").alias("width"),
        height.cast("int").alias("height"))


# ---------------------------------------------------------------------------
# perceptual image hashing + near-duplicate detection
# ---------------------------------------------------------------------------

PHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("ahash", T.LongType(), True),
    T.StructField("dhash", T.LongType(), True),
])


def _phash_of(img: dict, grid_w: int, grid_h: int) -> tuple:
    """(ahash, dhash) over a decoded image, all-integer.

    Grayscale is the raw channel SUM ``r+g+b`` (no division); the image
    is box-pooled onto a ``grid_w x grid_h`` grid with floor-boundary
    cells, and every brightness comparison is integer cross-
    multiplication against cell areas (``cs_a * area_b > cs_b *
    area_a``) — bit-exact, no floats anywhere, so a SQL replay over the
    same pixel bytes matches the hashes exactly.

    - aHash bit ``y*grid_w + x``: cell brighter than the image mean
      (``cell_sum * total_area > total_sum * cell_area``).
    - dHash bit ``y*(grid_w-1) + x``: cell brighter than its RIGHT
      neighbor — the classic gradient hash, robust to global
      brightness/contrast shifts.
    """
    W, H = img["width"], img["height"]
    px = img["pixels"]
    xb = [x * W // grid_w for x in range(grid_w + 1)]
    yb = [y * H // grid_h for y in range(grid_h + 1)]
    cs = [[0] * grid_w for _ in range(grid_h)]
    area = [[(xb[x + 1] - xb[x]) * (yb[y + 1] - yb[y])
             for x in range(grid_w)] for y in range(grid_h)]
    for yc in range(grid_h):
        for xc in range(grid_w):
            s = 0
            for y in range(yb[yc], yb[yc + 1]):
                base = 3 * (y * W + xb[xc])
                s += sum(px[base:base + 3 * (xb[xc + 1] - xb[xc])])
            cs[yc][xc] = s
    total = sum(map(sum, cs))
    total_area = W * H
    ahash = 0
    for yc in range(grid_h):
        for xc in range(grid_w):
            if cs[yc][xc] * total_area > total * area[yc][xc]:
                ahash |= 1 << (yc * grid_w + xc)
    dhash = 0
    for yc in range(grid_h):
        for xc in range(grid_w - 1):
            if cs[yc][xc] * area[yc][xc + 1] \
                    > cs[yc][xc + 1] * area[yc][xc]:
                dhash |= 1 << (yc * (grid_w - 1) + xc)
    return ahash, dhash


def image_phash(df: DataFrame, grid_w: int = 7, grid_h: int = 7,
                extra_cols: tuple = ()) -> DataFrame:
    """aHash + dHash perceptual hashes over REAL decoded pixels (the
    near-duplicate-image analogue of dedup.py::simhash64): PPM decode in
    an Arrow-batched ``mapInPandas`` (no shuffle, scan-parallel), then
    the all-integer grid hashes of :func:`_phash_of`.

    ``grid_w * grid_h`` (aHash bits) and ``grid_h * (grid_w - 1)``
    (dHash bits) must stay <= 63 so each hash packs into one
    non-negative BIGINT that any engine can XOR/popcount.  Grids must
    not exceed the image dimensions (a cell must hold >= 1 pixel).

    ``extra_cols`` names input columns copied verbatim onto the output
    rows (appended after the hash columns, input dtypes kept) — the
    video tier threads ``frame_idx`` through this instead of packing
    it into media_id, which would overflow/bleed for long videos.
    """
    if grid_w < 2 or grid_h < 1:
        raise ValueError(f"need grid_w >= 2 and grid_h >= 1, "
                         f"got {grid_w}x{grid_h}")
    if grid_w * grid_h > 63:
        raise ValueError(f"grid {grid_w}x{grid_h} = {grid_w * grid_h} "
                         "bits; one signed BIGINT holds at most 63")
    out_schema = T.StructType(list(PHASH_SCHEMA.fields)
                              + [df.schema[c] for c in extra_cols])

    def phash(b: bytes, *ex):
        img = decode_image(b)
        if grid_w > img["width"] or grid_h > img["height"]:
            raise ValueError(
                f"grid {grid_w}x{grid_h} exceeds image "
                f"{img['width']}x{img['height']}")
        ah, dh = _phash_of(img, grid_w, grid_h)
        return [(img["width"], img["height"], ah, dh, *ex)]

    return map_blobs(spread(df), out_schema, phash,
                     "media_id", "content", *extra_cols)


def image_near_dups(df: DataFrame, grid_w: int = 7, grid_h: int = 7,
                    max_hamming: int = 3, use: str = "dhash",
                    n_chunks: int = 4) -> DataFrame:
    """Near-duplicate image pairs by Hamming distance on a perceptual
    hash — :func:`image_phash` plus the pigeonhole chunk blocker of
    similarity.py::embedding_hamming_near_dups: the hash is cut into
    ``n_chunks`` bit-ranges; any pair within ``max_hamming <=
    n_chunks - 1`` shares at least one exact chunk, so candidates come
    from a chunk-equality join (Σ|bucket|² work, never all-pairs) and
    are verified with one XOR popcount.

    At production bit widths keep chunks >= 16 bits (4 chunks of a
    64-bit hash); small demo grids need proportionally more, smaller
    chunks — recall is still guaranteed, the buckets are just coarser.
    """
    if use not in ("ahash", "dhash"):
        raise ValueError(f"use must be ahash|dhash, got {use!r}")
    bits = grid_h * (grid_w - 1) if use == "dhash" else grid_w * grid_h
    if max_hamming >= n_chunks:
        raise ValueError(
            f"max_hamming={max_hamming} needs >= {max_hamming + 1} "
            f"chunks, got n_chunks={n_chunks}")
    if n_chunks > bits:
        raise ValueError(f"n_chunks={n_chunks} exceeds {bits} hash bits")
    ph = image_phash(df, grid_w, grid_h).select("media_id", use) \
        .localCheckpoint()  # decode once, not once per join side
    bounds = [c * bits // n_chunks for c in range(n_chunks + 1)]
    chunks = F.array(*[
        F.concat(F.lit(f"{c}:"),
                 F.shiftright(F.col(use), bounds[c])
                 .bitwiseAND(F.lit((1 << (bounds[c + 1] - bounds[c])) - 1))
                 .cast("string"))
        for c in range(n_chunks)
    ])
    blocked = ph.select("media_id", use, F.explode(chunks).alias("chunk"))
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col(f"a.{use}").bitwiseXOR(F.col(f"b.{use}")))
    return (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.media_id") < F.col("b.media_id")))
            .where(hamming <= max_hamming)
            .select(F.col("a.media_id").alias("id_a"),
                    F.col("b.media_id").alias("id_b"),
                    hamming.alias("hamming"))
            .distinct())


# ---------------------------------------------------------------------------
# perceptual audio fingerprinting + near-duplicate detection
# ---------------------------------------------------------------------------

AUDIO_FP_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_frames", T.IntegerType(), True),
    T.StructField("fingerprint", T.LongType(), True),
])


def audio_fingerprint(df: DataFrame, frame_size: int = 8,
                      max_frames: int = 64) -> DataFrame:
    """Perceptual audio fingerprint over REAL decoded PCM16 samples —
    the energy-delta-sign family (the robust core of
    Haitsma-Kalker-style audio hashing, minus the filterbank this
    container has no FFT library for): samples are framed, each
    frame's energy is the exact integer ``sum(v^2)``, and bit ``f-1``
    of the fingerprint is ``energy[f] > energy[f-1]``.  The
    sign-of-delta structure is invariant to uniform gain scaling (both
    comparison sides scale together) and fully integer, so a SQL
    replay over the same sample bytes matches bit-for-bit.

    Frames past ``max_frames`` are ignored (the fingerprint packs into
    one non-negative BIGINT: ``max_frames - 1 <= 63`` bits); a trailing
    partial frame is dropped.  Arrow-batched ``mapInPandas``, no
    shuffle — scan-parallel like :func:`image_phash`.
    """
    if frame_size < 1:
        raise ValueError(f"frame_size must be >= 1, got {frame_size}")
    if not 2 <= max_frames <= 64:
        raise ValueError(f"max_frames must be in [2, 64], "
                         f"got {max_frames}")

    def fingerprint(b: bytes):
        s = decode_audio(b)["samples"]
        n_fr = min(len(s) // frame_size, max_frames)
        e = [sum(v * v for v in s[f * frame_size:(f + 1) * frame_size])
             for f in range(n_fr)]
        fp = 0
        for f in range(1, n_fr):
            if e[f] > e[f - 1]:
                fp |= 1 << (f - 1)
        return [(n_fr, fp)]

    return map_blobs(spread(df), AUDIO_FP_SCHEMA, fingerprint,
                     "media_id", "content")


def audio_near_dups(df: DataFrame, frame_size: int = 8,
                    max_frames: int = 64, max_hamming: int = 2,
                    n_chunks: int = 4) -> DataFrame:
    """Near-duplicate audio pairs by Hamming distance on the
    energy-delta fingerprint — the same pigeonhole chunk blocker as
    :func:`image_near_dups` / embedding_hamming_near_dups: candidates
    from a chunk-equality join (complete for ``max_hamming <=
    n_chunks - 1``), one XOR popcount verify.  Output:
    ``(id_a, id_b, hamming)``.
    """
    bits = max_frames - 1
    if max_hamming >= n_chunks:
        raise ValueError(
            f"max_hamming={max_hamming} needs >= {max_hamming + 1} "
            f"chunks, got n_chunks={n_chunks}")
    if n_chunks > bits:
        raise ValueError(f"n_chunks={n_chunks} exceeds {bits} bits")
    fp = audio_fingerprint(df, frame_size, max_frames) \
        .select("media_id", "fingerprint").localCheckpoint()
    bounds = [c * bits // n_chunks for c in range(n_chunks + 1)]
    chunks = F.array(*[
        F.concat(F.lit(f"{c}:"),
                 F.shiftright(F.col("fingerprint"), bounds[c])
                 .bitwiseAND(F.lit((1 << (bounds[c + 1] - bounds[c])) - 1))
                 .cast("string"))
        for c in range(n_chunks)
    ])
    blocked = fp.select("media_id", "fingerprint",
                        F.explode(chunks).alias("chunk"))
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col("a.fingerprint")
                          .bitwiseXOR(F.col("b.fingerprint")))
    return (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.media_id") < F.col("b.media_id")))
            .where(hamming <= max_hamming)
            .select(F.col("a.media_id").alias("id_a"),
                    F.col("b.media_id").alias("id_b"),
                    hamming.alias("hamming"))
            .distinct())


AUDIO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("format", T.StringType(), True),
    T.StructField("n_channels", T.IntegerType(), True),
    T.StructField("sample_rate", T.IntegerType(), True),
    T.StructField("bitrate_kbps", T.IntegerType(), True),
    T.StructField("bits", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

#: MPEG Layer III bitrate tables (kbps), index 1..14; 0 = free, 15 = bad
_MP3_BITRATE_V1 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                   224, 256, 320)
_MP3_BITRATE_V2 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                   144, 160)
#: sample rates by version bits (3=MPEG1, 2=MPEG2, 0=MPEG2.5)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def _sniff_audio(content: bytes):
    """(format, n_channels, sample_rate, bitrate_kbps, bits,
    duration_ms) from HEADER bytes only — the audio twin of
    :func:`_sniff_meta`.

    WAV: RIFF chunk walk (fmt + data sizes, no sample read).  MP3: the
    honest-gap triage — the codec cannot DECODE here (no audio libs),
    but the 4-byte MPEG frame header after an optional ID3v2 tag gives
    version/layer/bitrate/rate/mode, and a CBR duration estimate
    (documented as such) falls out of the byte count.  Layer III only;
    free-format/reserved fields yield NULL details with the format
    still identified.  Unknown magic -> all NULLs.
    """
    none6 = (None, None, None, None, None, None)
    if content[:4] == b"fLaC":
        # STREAMINFO is always the first metadata block; read the
        # rate/channels/bps/total fields without touching frames
        body = content[8:8 + 34]
        if len(body) < 18:
            return ("flac", None, None, None, None, None)
        rate = int.from_bytes(body[10:13], "big") >> 4
        nch = ((body[12] >> 1) & 0x07) + 1
        bits = (((body[12] & 1) << 4) | (body[13] >> 4)) + 1
        total = ((body[13] & 0x0F) << 32) \
            | int.from_bytes(body[14:18], "big")
        dur = total * 1000 // rate if rate and total else None
        return ("flac", nch, rate, None, bits, dur)
    if content[:4] == b"FORM" and content[8:12] in (b"AIFF",
                                                    b"AIFC"):
        # COMM chunk walk — the big-endian sibling of the RIFF path
        from pypond_spark.datapipe.aiff import _read_ext80
        pos = 12
        while pos + 8 <= len(content):
            cid = content[pos:pos + 4]
            (sz,) = struct.unpack(">I", content[pos + 4:pos + 8])
            if cid == b"COMM" and pos + 26 <= len(content):
                nch, nframes, bits = struct.unpack(
                    ">HIH", content[pos + 8:pos + 16])
                try:
                    rate = _read_ext80(content[pos + 16:pos + 26])
                except ValueError:
                    rate = None
                dur = (nframes * 1000 // rate
                       if rate and nframes else None)
                return ("aiff", nch, rate, None, bits, dur)
            pos += 8 + sz + (sz & 1)
        return ("aiff", None, None, None, None, None)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        pos = 12
        nch = rate = bits = byterate = data_size = None
        while pos + 8 <= len(content):
            cid = content[pos:pos + 4]
            (sz,) = struct.unpack("<I", content[pos + 4:pos + 8])
            if cid == b"fmt " and pos + 24 <= len(content):
                _tag, nch, rate, byterate = struct.unpack(
                    "<HHII", content[pos + 8:pos + 20])
                (bits,) = struct.unpack("<H", content[pos + 22:pos + 24])
            elif cid == b"data":
                data_size = sz
            pos += 8 + sz + (sz & 1)
        dur = (data_size * 1000 // byterate
               if data_size is not None and byterate else None)
        return ("wav", nch, rate,
                byterate * 8 // 1000 if byterate else None, bits, dur)
    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        size = ((content[6] & 0x7F) << 21) | ((content[7] & 0x7F) << 14) \
            | ((content[8] & 0x7F) << 7) | (content[9] & 0x7F)
        pos = 10 + size
    h = content[pos:pos + 4]
    if len(h) == 4 and h[0] == 0xFF and (h[1] & 0xE0) == 0xE0:
        version = (h[1] >> 3) & 0x3
        layer = (h[1] >> 1) & 0x3
        br_idx, sr_idx = h[2] >> 4, (h[2] >> 2) & 0x3
        if version == 1 or layer != 1 or br_idx in (0, 15) \
                or sr_idx == 3:
            # reserved version / not Layer III / free-format: format
            # identified, details unknown
            return ("mp3", None, None, None, None, None)
        table = _MP3_BITRATE_V1 if version == 3 else _MP3_BITRATE_V2
        kbps = table[br_idx]
        nch = 1 if ((h[3] >> 6) & 0x3) == 3 else 2
        dur = (len(content) - pos) * 8 // kbps   # CBR estimate
        return ("mp3", nch, _MP3_RATES[version][sr_idx], kbps, None,
                dur)
    return none6


def sniff_audio_meta(df: DataFrame) -> DataFrame:
    """Header-only audio metadata probe (the audio twin of
    :func:`sniff_image_meta`): one Arrow ``mapInPandas`` stage reading
    O(header) bytes per file — filter a crawl's audio by
    rate/channels/duration without decoding a sample, including MP3,
    which this tier cannot decode (triage is still possible and is
    exactly what a 100-TB pre-filter needs)."""
    return map_blobs(spread_io(df), AUDIO_META_SCHEMA,
                     lambda b: [_sniff_audio(b)], "media_id", "content")


def _exif_orientation(content: bytes):
    """EXIF orientation (tag 0x0112) from a JPEG's APP1 segment —
    header-only (marker walk + TIFF IFD0 scan, no pixel decode).
    Returns 1..8 or None when absent/undecodable.  The prerequisite
    for hashing phone photos: a camera stores the sensor rows as-is
    and the REAL rotation lives in this tag, so perceptual hashes of
    an upright re-save and the original only collide after applying
    it."""
    if not content.startswith(b"\xFF\xD8"):
        return None
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            return None
        while pos < len(content) and content[pos] == 0xFF:
            pos += 1
        if pos >= len(content):
            return None
        marker = content[pos]
        pos += 1
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue
        if marker in (0xD9, 0xDA) or pos + 2 > len(content):
            return None            # EOI / scan start: no APP1 found
        (seg_len,) = struct.unpack(">H", content[pos:pos + 2])
        if marker == 0xE1 and content[pos + 2:pos + 8] == b"Exif\x00\x00":
            tiff = content[pos + 8:pos + seg_len]
            if len(tiff) < 8:
                return None
            bo = tiff[:2]
            if bo == b"II":
                end = "<"
            elif bo == b"MM":
                end = ">"
            else:
                return None
            (magic,) = struct.unpack(end + "H", tiff[2:4])
            if magic != 42:
                return None
            (ifd0,) = struct.unpack(end + "I", tiff[4:8])
            if ifd0 + 2 > len(tiff):
                return None
            (n,) = struct.unpack(end + "H", tiff[ifd0:ifd0 + 2])
            for i in range(n):
                e = ifd0 + 2 + 12 * i
                if e + 12 > len(tiff):
                    return None
                tag, typ = struct.unpack(end + "HH", tiff[e:e + 4])
                if tag == 0x0112 and typ == 3:   # SHORT
                    (val,) = struct.unpack(end + "H",
                                           tiff[e + 8:e + 10])
                    return val if 1 <= val <= 8 else None
            return None
        pos += seg_len
    return None


def _app1_tiff(content: bytes):
    """Locate the JPEG APP1 Exif payload.  Returns ``(tiff_bytes,
    endianness_char)`` with offsets valid relative to the blob start
    (the EXIF TIFF is self-contained), or ``(None, None)``."""
    if not content.startswith(b"\xFF\xD8"):
        return None, None
    pos = 2
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            return None, None
        while pos < len(content) and content[pos] == 0xFF:
            pos += 1
        if pos >= len(content):
            return None, None
        marker = content[pos]
        pos += 1
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue
        if marker in (0xD9, 0xDA) or pos + 2 > len(content):
            return None, None
        (seg_len,) = struct.unpack(">H", content[pos:pos + 2])
        if marker == 0xE1 \
                and content[pos + 2:pos + 8] == b"Exif\x00\x00":
            tiff = content[pos + 8:pos + seg_len]
            if len(tiff) >= 8 and tiff[:2] in (b"II", b"MM"):
                end = "<" if tiff[:2] == b"II" else ">"
                (magic,) = struct.unpack(end + "H", tiff[2:4])
                if magic == 42:
                    return tiff, end
            return None, None
        pos += seg_len
    return None, None


#: the high-frequency IFD0 tags a corpus triage wants (strings keep
#: their raw bytes up to the NUL; orientation stays 1..8)
EXIF_IFD0_TAGS = {0x010F: "make", 0x0110: "model",
                  0x0112: "orientation", 0x0131: "software",
                  0x0132: "datetime"}

#: the Exif-subIFD (pointer tag 0x8769) exposure tags
EXIF_SUB_TAGS = {0x829A: "exposure_time", 0x829D: "f_number",
                 0x8827: "iso", 0x9003: "datetime_original",
                 0x920A: "focal_length"}


def exif_tags(content: bytes) -> dict | None:
    """Full EXIF triage from a JPEG's APP1 — header-only, reusing
    the TIFF IFD reader (:func:`tiff._read_ifd`; the EXIF payload IS
    a TIFF, byte order and all).  Returns the recognized
    :data:`EXIF_IFD0_TAGS` + :data:`EXIF_SUB_TAGS` that are present
    (ASCII tags NUL-trimmed, rationals as floats), or ``None`` when
    there is no decodable APP1.  Malformed IFDs degrade to None —
    triage never raises."""
    from pypond_spark.datapipe.tiff import _read_ifd

    tiff, end = _app1_tiff(content)
    if tiff is None:
        return None
    try:
        (ifd0,) = struct.unpack(end + "I", tiff[4:8])
        tags = _read_ifd(tiff, end, ifd0)
        sub_ptr = tags.get(0x8769)
        if sub_ptr:
            tags.update(_read_ifd(tiff, end, int(sub_ptr[0])))
    except (ValueError, struct.error):
        return None

    def clean(vals):
        if isinstance(vals[0], bytes):       # ASCII: NUL-trimmed
            return vals[0].split(b"\x00")[0].decode(
                "ascii", "replace")
        return vals[0]

    out = {}
    for num, name in {**EXIF_IFD0_TAGS, **EXIF_SUB_TAGS}.items():
        if num in tags and tags[num]:
            out[name] = clean(tags[num])
    return out or None


def encode_app1_exif(make: str, model: str, orientation: int,
                     datetime_str: str,
                     exposure: tuple[int, int] = (1, 50),
                     iso: int = 100,
                     focal: tuple[int, int] = (50, 1)) -> bytes:
    """Deterministic writer twin of :func:`exif_tags`: one APP1
    segment (marker + length + ``Exif\\0\\0`` + little-endian TIFF)
    carrying IFD0 make/model/orientation/datetime plus an Exif
    subIFD with exposure/ISO/focal — splice it right after a JPEG's
    SOI to synthesize tagged photos."""
    def entry(tag, typ, count, value_bytes, heap, heap_base):
        if len(value_bytes) <= 4:
            return struct.pack("<HHI", tag, typ, count) \
                + value_bytes.ljust(4, b"\x00")
        off = heap_base + len(heap[0])
        heap[0] += value_bytes
        return struct.pack("<HHII", tag, typ, count, off)

    def ascii_v(s):
        return s.encode("ascii") + b"\x00"

    mk, md, dt = ascii_v(make), ascii_v(model), ascii_v(datetime_str)
    # IFD0: 5 entries + next-IFD pointer; subIFD follows its heap
    n0 = 5
    ifd0_off = 8
    ifd0_size = 2 + 12 * n0 + 4
    heap0_base = ifd0_off + ifd0_size
    heap0 = [b""]
    e0 = b""
    e0 += entry(0x010F, 2, len(mk), mk, heap0, heap0_base)
    e0 += entry(0x0110, 2, len(md), md, heap0, heap0_base)
    e0 += entry(0x0112, 3, 1, struct.pack("<H", orientation),
                heap0, heap0_base)
    e0 += entry(0x0132, 2, len(dt), dt, heap0, heap0_base)
    # subIFD sits right after whatever actually spilled to the heap
    # (short strings inline into the entry and never reach it)
    sub_off = heap0_base + len(heap0[0])
    e0 += entry(0x8769, 4, 1, struct.pack("<I", sub_off),
                heap0, heap0_base)
    n1 = 3
    sub_size = 2 + 12 * n1 + 4
    heap1_base = sub_off + sub_size
    heap1 = [b""]
    e1 = b""
    e1 += entry(0x829A, 5, 1, struct.pack("<II", *exposure),
                heap1, heap1_base)
    e1 += entry(0x8827, 3, 1, struct.pack("<H", iso),
                heap1, heap1_base)
    e1 += entry(0x920A, 5, 1, struct.pack("<II", *focal),
                heap1, heap1_base)
    tiff = (b"II" + struct.pack("<H", 42)
            + struct.pack("<I", ifd0_off)
            + struct.pack("<H", n0) + e0 + struct.pack("<I", 0)
            + heap0[0]
            + struct.pack("<H", n1) + e1 + struct.pack("<I", 0)
            + heap1[0])
    payload = b"Exif\x00\x00" + tiff
    return b"\xFF\xE1" + struct.pack(">H", len(payload) + 2) \
        + payload


def image_exif(df: DataFrame) -> DataFrame:
    """Per-image EXIF triage frame: ``(media_id, make, model,
    orientation, datetime, exposure_time, iso, focal_length)`` via
    :func:`exif_tags` — one Arrow stage, O(header) bytes per file,
    NULLs when absent."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("make", T.StringType(), True),
        T.StructField("model", T.StringType(), True),
        T.StructField("orientation", T.IntegerType(), True),
        T.StructField("datetime", T.StringType(), True),
        T.StructField("exposure_time", T.DoubleType(), True),
        T.StructField("iso", T.IntegerType(), True),
        T.StructField("focal_length", T.DoubleType(), True),
    ])

    tags = schema.fieldNames()[1:]

    def exif(b: bytes):
        t = exif_tags(b) or {}
        return [tuple(t.get(k) for k in tags)]

    return map_blobs(spread_io(df), schema, exif, "media_id", "content")


def image_orientation(df: DataFrame) -> DataFrame:
    """(media_id, orientation) via :func:`_exif_orientation` — one
    Arrow stage, O(header) bytes per file, NULL when the tag is
    absent (non-JPEG, no APP1, no 0x0112)."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("orientation", T.IntegerType(), True),
    ])

    return map_blobs(spread_io(df), schema,
                     lambda b: [(_exif_orientation(b),)],
                     "media_id", "content")


def exif_app1(orientation: int, byte_order: str = "II") -> bytes:
    """Minimal APP1/EXIF segment carrying ONE IFD0 entry (the
    orientation tag) — the synthesis half of
    :func:`_exif_orientation`, both byte orders."""
    if not 1 <= orientation <= 8:
        raise ValueError(f"orientation must be 1..8, got {orientation}")
    if byte_order not in ("II", "MM"):
        raise ValueError(f"byte_order must be II|MM, got {byte_order}")
    end = "<" if byte_order == "II" else ">"
    tiff = (byte_order.encode()
            + struct.pack(end + "HI", 42, 8)
            + struct.pack(end + "H", 1)
            + struct.pack(end + "HHI", 0x0112, 3, 1)
            + struct.pack(end + "H", orientation) + b"\x00\x00"
            + struct.pack(end + "I", 0))
    body = b"Exif\x00\x00" + tiff
    return b"\xFF\xE1" + struct.pack(">H", len(body) + 2) + body


def orient_image(df: DataFrame,
                 orientation_col: str = "orientation") -> DataFrame:
    """Apply an EXIF orientation (1..8) to decoded pixels — the
    upright-normalization between :func:`image_orientation` triage and
    any perceptual hash (a rotated re-save only collides with its
    original AFTER this).  Pure index permutation (numpy views, no
    arithmetic), so it is trivially lossless and SQL-replayable; NULL
    or 1 passes through.  Output is binary PPM (dims swap for the
    transpose family 5..8), composing with the rest of the tier."""
    ops = {
        1: lambda a: a,
        2: lambda a: a[:, ::-1],
        3: lambda a: a[::-1, ::-1],
        4: lambda a: a[::-1],
        5: lambda a: a.transpose(1, 0, 2),
        6: lambda a: a.transpose(1, 0, 2)[:, ::-1],
        7: lambda a: a.transpose(1, 0, 2)[::-1, ::-1],
        8: lambda a: a.transpose(1, 0, 2)[::-1],
    }

    def orient(b: bytes, o):
        import numpy as np
        img = decode_image(b)
        W, H = img["width"], img["height"]
        a = np.frombuffer(img["pixels"], np.uint8).reshape(H, W, 3)
        o = 1 if o is None or (isinstance(o, float)
                               and np.isnan(o)) else int(o)
        if o not in ops:
            raise ValueError(f"orientation must be 1..8, got {o}")
        out = ops[o](a)
        oh, ow = out.shape[0], out.shape[1]
        header = f"P6\n{ow} {oh}\n255\n".encode()
        return [(ow, oh, header + np.ascontiguousarray(out).tobytes())]

    return map_blobs(spread(df), RESIZED_SCHEMA, orient,
                     "media_id", "content", orientation_col)
