"""MJPEG-in-AVI container codec — RIFF chunk walk + the pure-Python
JPEG codec per frame, no external libraries.

Motion-JPEG is the one COMPRESSED video format this environment can
actually decode end-to-end: the AVI container is a plain RIFF chunk
tree (public Microsoft 'AVI RIFF File Reference' layout) and each
``..dc``/``..db`` movi chunk is a self-contained JPEG frame that
:mod:`pypond_spark.datapipe.jpeg` already handles — including, since
r12, progressive scans.  That closes the "video == uncompressed
Y4M only" boundary: real webcam/surveillance/legacy-capture crawls
carry exactly this format.  H.264/VP9 inside MP4/WebM still need codec
libraries this container lacks and keep raising in
:func:`~pypond_spark.datapipe.y4m.decode_video`'s dispatch.

Decode returns the same dict shape as :func:`decode_y4m` (``frames``
of raw luma planes + neutral-chroma ``None``), so every downstream
consumer — ``sample_video_frames``, per-frame phash, video near-dups —
is container-blind.  Luma from color frames is BT.601 integer-rounded;
GRAYSCALE MJPEG frames (R=G=B=Y) recover the JPEG luma EXACTLY, which
carries the DC-only oracle-exactness regime from the image tier into
compressed video.

Scale: the chunk walk is a flat byte scan (no recursion deeper than
the fixed RIFF/LIST nesting), frames decode inside Arrow
``mapInPandas`` batches exactly like Y4M — zero shuffle, partition-
local.
"""

from __future__ import annotations

import struct

import numpy as np

from pypond_spark.datapipe.jpeg import decode_jpeg, encode_jpeg


def _chunks(data: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) over a RIFF chunk
    run; chunks are word-aligned (odd sizes carry one pad byte)."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        size = struct.unpack("<I", data[pos + 4:pos + 8])[0]
        if pos + 8 + size > end:
            raise ValueError(
                f"truncated AVI: chunk {fourcc!r} at byte {pos} claims "
                f"{size} bytes past the container end")
        yield fourcc, pos + 8, size
        pos += 8 + size + (size & 1)


def decode_avi_mjpeg(content: bytes) -> dict:
    """Decode an MJPEG AVI to the :func:`decode_y4m` dict shape.

    Walks ``hdrl`` for the first ``vids`` stream (its index selects
    the ``NNdc``/``NNdb`` movi chunk ids), reads fps from the stream
    header's rate/scale (falling back to ``avih``'s
    dwMicroSecPerFrame), and decodes every frame chunk: MJPG/mjpg
    streams through :func:`~pypond_spark.datapipe.jpeg.decode_jpeg`,
    uncompressed BI_RGB/'DIB ' streams (r12) as 4-byte-padded 24-bpp
    BGR rows — bottom-up for positive biHeight, top-down for negative
    (r13).  Other fourccs (H264/XVID/...) raise
    ``NotImplementedError``; structural corruption raises
    ``ValueError``.
    """
    if content[:4] != b"RIFF" or content[8:12] != b"AVI ":
        raise ValueError("not an AVI: missing RIFF....AVI  header")
    riff_size = struct.unpack("<I", content[4:8])[0]
    end = min(len(content), 8 + riff_size)

    fps_num, fps_den = 25, 1
    width = height = None
    vids_index = None
    compression = None
    bit_count = None
    top_down = False
    movi = None
    stream_no = 0
    for fourcc, p, size in _chunks(content, 12, end):
        if fourcc != b"LIST":
            continue
        ltype = content[p:p + 4]
        if ltype == b"movi":
            movi = (p + 4, p + size)
        elif ltype == b"hdrl":
            for f2, p2, s2 in _chunks(content, p + 4, p + size):
                if f2 == b"avih" and s2 >= 4 and vids_index is None:
                    usec = struct.unpack("<I", content[p2:p2 + 4])[0]
                    if usec:
                        fps_num, fps_den = 1_000_000, usec
                if f2 != b"LIST" or content[p2:p2 + 4] != b"strl":
                    continue
                is_vids = False
                for f3, p3, s3 in _chunks(content, p2 + 4, p2 + s2):
                    if f3 == b"strh" and s3 >= 28:
                        if content[p3:p3 + 4] == b"vids" \
                                and vids_index is None:
                            is_vids = True
                            vids_index = stream_no
                            scale, rate = struct.unpack(
                                "<II", content[p3 + 20:p3 + 28])
                            if scale and rate:
                                fps_num, fps_den = rate, scale
                    elif f3 == b"strf" and is_vids and s3 >= 20:
                        width, height, _, bit_count, comp = \
                            struct.unpack("<iiHH4s",
                                          content[p3 + 4:p3 + 20])
                        # negative biHeight = top-down DIB rows
                        top_down = height < 0
                        height = abs(height)
                        compression = comp
                stream_no += 1
    if vids_index is None:
        raise ValueError("AVI has no video ('vids') stream")
    mjpeg = compression in (b"MJPG", b"mjpg")
    # BI_RGB (fourcc zero) or 'DIB ' = uncompressed bottom-up BGR
    # frames — the legacy capture layout (r12); needs no codec at all
    raw_dib = compression in (b"\x00\x00\x00\x00", b"DIB ", b"RGB ")
    if not (mjpeg or raw_dib):
        raise NotImplementedError(
            f"AVI video compression {compression!r} — only MJPG and "
            "uncompressed DIB decode without a codec library")
    if raw_dib and (width is None or height is None):
        raise ValueError("uncompressed AVI without strf dimensions")
    if raw_dib and bit_count != 24:
        raise NotImplementedError(
            f"uncompressed AVI at {bit_count}-bpp (only 24-bpp BGR)")
    if movi is None:
        raise ValueError("AVI has no movi LIST (no frame data)")

    want = {b"%02ddc" % vids_index, b"%02ddb" % vids_index}
    frames = []
    for fourcc, p, size in _chunks(content, movi[0], movi[1]):
        if fourcc not in want or size == 0:
            continue
        if raw_dib:
            row_bytes = (width * 3 + 3) & ~3
            if size < row_bytes * height:
                raise ValueError(
                    f"AVI DIB frame {len(frames)}: need "
                    f"{row_bytes * height} bytes, have {size}")
            rows = np.frombuffer(content[p:p + row_bytes * height],
                                 dtype=np.uint8) \
                .reshape(height, row_bytes)
            if not top_down:
                rows = rows[::-1]        # bottom-up (biHeight > 0)
            rgb = rows[:, :width * 3].reshape(height, width, 3) \
                [:, :, ::-1]                          # BGR -> RGB
            y = np.clip(np.floor(0.299 * rgb[..., 0]
                                 + 0.587 * rgb[..., 1]
                                 + 0.114 * rgb[..., 2] + 0.5),
                        0, 255).astype(np.uint8) \
                if not ((rgb[..., 0] == rgb[..., 1]).all()
                        and (rgb[..., 1] == rgb[..., 2]).all()) \
                else rgb[..., 0].copy()
            frames.append({"y": y.tobytes(), "u": None, "v": None})
            continue
        img = decode_jpeg(content[p:p + size])
        if width is None:
            width, height = img["width"], img["height"]
        elif (img["width"], img["height"]) != (width, height):
            raise ValueError(
                f"AVI frame {len(frames)} is {img['width']}x"
                f"{img['height']}, header says {width}x{height}")
        rgb = np.frombuffer(img["pixels"], dtype=np.uint8) \
            .reshape(height, width, 3)
        if (rgb[..., 0] == rgb[..., 1]).all() \
                and (rgb[..., 1] == rgb[..., 2]).all():
            y = rgb[..., 0]          # grayscale JPEG: luma verbatim
        else:
            y = np.clip(np.floor(0.299 * rgb[..., 0]
                                 + 0.587 * rgb[..., 1]
                                 + 0.114 * rgb[..., 2] + 0.5),
                        0, 255).astype(np.uint8)
        frames.append({"y": y.tobytes(), "u": None, "v": None})
    if not frames:
        raise ValueError("AVI movi LIST holds no video frame chunks")
    return {"format": "avi-mjpeg", "width": width, "height": height,
            "fps_num": fps_num, "fps_den": fps_den, "chroma": "mono",
            "n_frames": len(frames), "frames": frames}


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) & 1 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def encode_avi_mjpeg(width: int, height: int, frames_y: list[bytes],
                     fps: tuple[int, int] = (25, 1),
                     encoder=None, **jpeg_kwargs) -> bytes:
    """Minimal MJPEG AVI encoder (the synthesis half of
    :func:`decode_avi_mjpeg`): grayscale luma planes in, one baseline
    JPEG per ``00dc`` chunk out (``jpeg_kwargs`` — ``quality``,
    ``qtable``, ``restart_interval`` — pass through to
    :func:`~pypond_spark.datapipe.jpeg.encode_jpeg`; pass
    ``encoder=encode_jpeg_progressive`` to emit progressive frames).
    Grayscale + an all-ones qtable keeps the DC-only exactness regime:
    the decoded luma equals the input planes byte-for-byte for
    block-constant content."""
    if width < 1 or height < 1:
        raise ValueError(f"dimensions must be >= 1, got {width}x{height}")
    enc = encoder or encode_jpeg
    jpegs = []
    for i, y in enumerate(frames_y):
        if len(y) != width * height:
            raise ValueError(f"frame {i}: need {width * height} luma "
                             f"bytes, got {len(y)}")
        jpegs.append(enc(width, height, bytes(y), gray=True,
                         **jpeg_kwargs))
    num, den = fps
    usec = (1_000_000 * den) // num
    avih = struct.pack("<14I", usec, 0, 0, 0, len(jpegs), 0, 1,
                       max(len(j) for j in jpegs), width, height,
                       0, 0, 0, 0)
    # AVISTREAMHEADER: flags, priority, language, initial frames,
    # scale, rate (fps = rate/scale), start, length, bufsize,
    # quality (-1 = default), sample size, rcFrame
    strh = (b"vids" + b"MJPG"
            + struct.pack("<IHHIIIIIIiI4H", 0, 0, 0, 0, den, num, 0,
                          len(jpegs), max(len(j) for j in jpegs),
                          -1, 0, 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"MJPG", width * height * 3, 0, 0, 0, 0)
    strl = b"strl" + _chunk(b"strh", strh) + _chunk(b"strf", strf)
    hdrl = b"hdrl" + _chunk(b"avih", avih) + _chunk(b"LIST", strl)
    movi = b"movi" + b"".join(_chunk(b"00dc", j) for j in jpegs)
    body = b"AVI " + _chunk(b"LIST", hdrl) + _chunk(b"LIST", movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body
