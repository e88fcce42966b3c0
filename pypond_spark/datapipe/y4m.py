"""Pure-Python Y4M (YUV4MPEG2) video codec — no external libraries.

Y4M is the uncompressed interchange format every video toolchain
(ffmpeg, mplayer, x264) reads and writes: a one-line stream header
(``YUV4MPEG2 W<w> H<h> F<num>:<den> [I..] [A..] [C<chroma>]``) followed
by ``FRAME\\n`` + raw planar YUV per frame.  Decoding it needs only
arithmetic, which makes the VIDEO modality real in this tier the same
way PPM/PNG/BMP made images real: lossless, byte-exact, fully
oracle-replayable.

Supported chroma taggings: the C420 family (420jpeg/420mpeg2/420paldv
— same plane sizes, different siting, which does not matter for plane
extraction), C422, C411, C444 and Cmono.  Interlaced content is accepted
(the ``I`` param only labels field order).  Anything else raises
``NotImplementedError`` — the honest-gap contract of the other codecs.

Scale: frames decode inside Arrow ``mapInPandas`` batches (zero
shuffle, scan-parallel); planes are sliced with numpy, never per-pixel
Python.  Real crawls carry H.264/VP9 inside MP4/WebM — those need
codec libraries this container lacks and raise in ``decode_video``'s
dispatch; the Y4M path exercises the full Spark-side plumbing (frame
fan-out, per-frame hashing, video near-dup) against a format the
toolchain can actually materialize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._util import map_blobs, spread

_MAGIC = b"YUV4MPEG2"

#: chroma tag -> (u/v plane width divisor, height divisor); None = no
#: chroma planes
_CHROMA = {
    "420jpeg": (2, 2), "420mpeg2": (2, 2), "420paldv": (2, 2),
    "420": (2, 2), "422": (2, 1), "411": (4, 1), "444": (1, 1),
    "mono": None,
}


def decode_y4m(content: bytes) -> dict:
    """Decode a YUV4MPEG2 stream.

    Returns ``{"format": "y4m", "width", "height", "fps_num",
    "fps_den", "chroma", "n_frames", "frames"}`` where each frame is
    ``{"y": bytes, "u": bytes|None, "v": bytes|None}`` (raw planes,
    top-down row-major).
    """
    if not content.startswith(_MAGIC):
        raise ValueError("not a Y4M stream (missing YUV4MPEG2 magic)")
    eol = content.find(b"\n")
    if eol < 0:
        raise ValueError("truncated Y4M: no stream-header newline")
    width = height = None
    fps_num, fps_den, chroma = 25, 1, "420jpeg"
    for tok in content[len(_MAGIC):eol].split():
        tag, val = chr(tok[0]), tok[1:].decode("ascii", "replace")
        if tag == "W":
            width = int(val)
        elif tag == "H":
            height = int(val)
        elif tag == "F":
            num, den = val.split(":")
            fps_num, fps_den = int(num), int(den)
        elif tag == "C":
            chroma = val
    if not width or not height:
        raise ValueError("Y4M header missing W/H")
    if chroma not in _CHROMA:
        raise NotImplementedError(
            f"unsupported Y4M chroma tagging C{chroma}")
    sub = _CHROMA[chroma]
    if sub is not None and (width % sub[0] or height % sub[1]):
        raise ValueError(
            f"{width}x{height} not divisible for C{chroma} chroma")
    y_size = width * height
    c_size = 0 if sub is None else (width // sub[0]) * (height // sub[1])

    frames = []
    pos = eol + 1
    while pos < len(content):
        feol = content.find(b"\n", pos)
        if feol < 0 or not content[pos:feol].startswith(b"FRAME"):
            raise ValueError(
                f"bad Y4M frame header at byte {pos}")
        pos = feol + 1
        need = y_size + 2 * c_size
        if pos + need > len(content):
            raise ValueError(
                f"truncated Y4M frame {len(frames)}: need {need} "
                f"bytes, have {len(content) - pos}")
        y = content[pos:pos + y_size]
        u = content[pos + y_size:pos + y_size + c_size] or None
        v = content[pos + y_size + c_size:pos + need] or None
        frames.append({"y": y, "u": u, "v": v})
        pos += need
    return {"format": "y4m", "width": width, "height": height,
            "fps_num": fps_num, "fps_den": fps_den, "chroma": chroma,
            "n_frames": len(frames), "frames": frames}


def encode_y4m(width: int, height: int, frames_y: list[bytes],
               fps: tuple[int, int] = (25, 1),
               chroma: str = "420jpeg") -> bytes:
    """Minimal Y4M encoder (the synthesis half of :func:`decode_y4m`):
    luma planes in, neutral (128) chroma out for the C420/C422/C444
    taggings, none for mono.  Lossless on the Y plane by
    construction."""
    if chroma not in _CHROMA:
        raise NotImplementedError(f"unsupported chroma C{chroma}")
    sub = _CHROMA[chroma]
    if width < 1 or height < 1:
        raise ValueError(
            f"dimensions must be >= 1, got {width}x{height}")
    if sub is not None and (width % sub[0] or height % sub[1]):
        raise ValueError(
            f"{width}x{height} not divisible for C{chroma} chroma")
    c_size = 0 if sub is None else (width // sub[0]) * (height // sub[1])
    out = [b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C%s\n"
           % (width, height, fps[0], fps[1], chroma.encode())]
    for i, y in enumerate(frames_y):
        if len(y) != width * height:
            raise ValueError(f"frame {i}: need {width * height} luma "
                             f"bytes, got {len(y)}")
        out.append(b"FRAME\n" + bytes(y) + bytes([128]) * (2 * c_size))
    return b"".join(out)


def decode_video(content: bytes) -> dict:
    """Video decode dispatch: Y4M, AVI (MJPEG + uncompressed DIB
    streams) and animated GIF decode for real; container formats whose
    codecs need external libraries (MP4/ISO-BMFF, WebM/Matroska) raise
    ``NotImplementedError`` — same honest-gap contract as MP3 in the
    audio tier."""
    if content.startswith(_MAGIC):
        return decode_y4m(content)
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        from pypond_spark.datapipe.avi import decode_avi_mjpeg
        return decode_avi_mjpeg(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        # animated GIF: the third real web "video" format (r12) —
        # frames composite per the GIF89a disposal/transparency rules
        from pypond_spark.datapipe.gif import decode_gif_frames
        return decode_gif_frames(content)
    if len(content) >= 12 and content[4:8] == b"ftyp":
        raise NotImplementedError(
            "MP4/ISO-BMFF needs an H.264/H.265 codec library; "
            "transcode to Y4M upstream or extend the dispatch")
    if content.startswith(b"\x1a\x45\xdf\xa3"):
        raise NotImplementedError(
            "WebM/Matroska needs a VP8/VP9/AV1 codec library")
    raise NotImplementedError(
        "only Y4M (YUV4MPEG2), AVI (MJPEG/DIB) and animated GIF "
        "decode without a codec library")


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("frame_ts_ms", T.LongType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("content", T.BinaryType(), False),
])


def sample_video_frames(df: DataFrame, every_n: int = 1) -> DataFrame:
    """REAL frame sampling (the execution half of
    ``multimodal.frame_sample_plan``): decode each video, keep every
    ``every_n``-th frame, and emit it as a grayscale binary PPM (the
    luma plane replicated to RGB) so every frame row feeds directly
    into ``image_phash`` / ``image_stats`` / ``resize_image`` — the
    video tier composes with the image tier.

    ``frame_ts_ms`` = frame_idx * 1000 * fps_den / fps_num (integer
    floor).  One Arrow ``mapInPandas`` stage, zero shuffle; the
    fan-out (rows out >> rows in) happens inside the scan partition.
    """
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def frames(b: bytes):
        import numpy as np
        vid = decode_video(b)
        w, h = vid["width"], vid["height"]
        header = f"P6\n{w} {h}\n255\n".encode()
        for idx in range(0, vid["n_frames"], every_n):
            y = np.frombuffer(vid["frames"][idx]["y"], np.uint8)
            ts = (idx * 1000 * vid["fps_den"]) // vid["fps_num"]
            yield idx, ts, w, h, header + np.repeat(y, 3).tobytes()

    return map_blobs(spread(df), FRAME_SCHEMA, frames,
                     "media_id", "content")


def video_near_dups(df: DataFrame, every_n: int = 1,
                    grid_w: int = 4, grid_h: int = 4,
                    min_shared: float = 0.5) -> DataFrame:
    """Near-duplicate videos by shared per-frame perceptual hashes:
    sample frames, dHash each (``multimodal.image_phash`` over the
    luma PPMs), then pair videos on EXACT frame-hash equality and
    keep pairs sharing >= ``min_shared`` of the smaller video's
    sampled frames — re-encodes and global brightness shifts keep
    their dHashes, so trims/re-uploads of the same footage collide.

    Scale shape: the candidate join keys on the 64-bit frame hash
    (sum of bucket sizes squared, never all-pairs of videos, exactly
    the LSH-band discipline); per-video frame counts come from one
    groupBy.
    """
    from pypond_spark.datapipe.multimodal import image_phash

    frames = sample_video_frames(df, every_n=every_n)
    # only (video, hash) identity matters downstream (the DISTINCT
    # collapses repeated frames anyway), so frame_idx is dropped
    # here; media_id stays the untouched video key — packing
    # media_id*K+frame_idx would bleed frames across videos past K
    # frames and overflow int64 for huge media_ids
    keyed = frames.select("media_id", "content")
    # distinct hashes per video: repeated still frames must not
    # inflate the shared count quadratically through the join
    ph = (image_phash(keyed, grid_w=grid_w, grid_h=grid_h,
                      extra_cols=())
          .select(F.col("media_id").alias("vid"), F.col("dhash"))
          .distinct()
          # the decode+hash pipeline feeds three consumers (both join
          # sides + the counts); persist so frames decode ONCE
          .persist())
    counts = ph.groupBy("vid").agg(F.count("*").alias("n_frames"))
    a = ph.alias("a")
    b = ph.alias("b")
    shared = (a.join(b, (F.col("a.dhash") == F.col("b.dhash"))
                     & (F.col("a.vid") < F.col("b.vid")))
              .groupBy(F.col("a.vid").alias("id_a"),
                       F.col("b.vid").alias("id_b"))
              .agg(F.count("*").alias("n_shared")))
    ca = counts.select(F.col("vid").alias("id_a"),
                       F.col("n_frames").alias("n_a"))
    cb = counts.select(F.col("vid").alias("id_b"),
                       F.col("n_frames").alias("n_b"))
    return (shared.join(ca, "id_a").join(cb, "id_b")
            .withColumn("shared_frac",
                        F.col("n_shared")
                        / F.least("n_a", "n_b"))
            .where(F.col("shared_frac") >= min_shared)
            .select("id_a", "id_b", "n_shared", "shared_frac"))
