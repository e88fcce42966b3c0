"""WebDataset-style tar-shard ingest — paired multimodal samples from
POSIX tar archives, stdlib only.

The de facto layout for large multimodal training sets stores each
sample as CONSECUTIVE tar members sharing a basename key:
``000123.jpg`` + ``000123.txt`` + ``000123.json`` is one sample
(key ``000123``, parts ``jpg``/``txt``/``json``); a shard is one tar
holding thousands of samples, and a corpus is many shards.  This
module is the ingest half that :func:`~pypond_spark.datapipe.io.
write_training_shards` (parquet shards) does not cover:

- :func:`read_tar_members` — one row per member: ``(shard key,
  member_name, sample_key, ext, n_bytes, data)``;
- :func:`read_tar_samples` — one row per SAMPLE, parts grouped into
  a ``map<string, binary>`` keyed by extension.  Grouping happens
  INSIDE the Arrow batch over the member run (samples are adjacent
  members by construction), so pairing costs zero shuffle — the
  pitfall here is a groupBy on sample key, which would shuffle the
  full binary payload for pairs that were already adjacent on disk;
- :func:`encode_tar_shard` — the deterministic synthesis half
  (fixed mtime/uid/gid, ustar format) so driver rows and tests can
  build byte-stable shards in-plan.

Key/extension split follows the public WebDataset convention: the
sample key is the member path up to the FIRST dot of the basename,
the extension is everything after it (so ``a/b.seg.png`` -> key
``a/b``, ext ``seg.png``).  Non-adjacent members with the same key
are DIFFERENT samples, exactly like a streaming webdataset reader.

Compression: stdlib ``tarfile`` in ``r:*`` mode auto-detects gzip /
bz2 / xz members, so ``.tar.gz`` shards ingest unchanged.

Scale shape: one tar = one input row; shards parse partition-local
inside Arrow ``mapInPandas`` (zero shuffle, scan-parallel), the same
plan shape as the WARC and media decoders.
"""

from __future__ import annotations

import io as _io
import tarfile
from itertools import groupby
from operator import itemgetter

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ._util import map_blobs, spread

__all__ = ["parse_tar_members", "read_tar_members",
           "read_tar_samples", "encode_tar_shard",
           "parse_zip_members", "read_zip_members",
           "read_zip_samples",
           "encode_zip_shard", "zip_bytes",
           "TAR_MEMBER_SCHEMA", "TAR_SAMPLE_SCHEMA"]


def parse_tar_members(content: bytes) -> list[tuple[str, bytes]]:
    """``[(member_name, data)]`` for regular-file members, archive
    order, gzip/bz2/xz auto-detected.  Corrupt archives raise
    ``ValueError``."""
    try:
        with tarfile.open(fileobj=_io.BytesIO(content),
                          mode="r:*") as tf:
            out = []
            for m in tf:
                if not m.isfile():
                    continue
                f = tf.extractfile(m)
                out.append((m.name, f.read() if f else b""))
            return out
    except tarfile.TarError as exc:
        raise ValueError(f"corrupt tar shard: {exc}") from exc


def _split_key(name: str) -> tuple[str, str]:
    """WebDataset key/ext split: first dot of the basename."""
    slash = name.rfind("/")
    dot = name.find(".", slash + 1)
    if dot < 0:
        return name, ""
    return name[:dot], name[dot + 1:]


TAR_MEMBER_SCHEMA = T.StructType([
    T.StructField("shard_id", T.LongType()),
    T.StructField("member_name", T.StringType()),
    T.StructField("sample_key", T.StringType()),
    T.StructField("ext", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("data", T.BinaryType()),
])

TAR_SAMPLE_SCHEMA = T.StructType([
    T.StructField("shard_id", T.LongType()),
    T.StructField("sample_key", T.StringType()),
    T.StructField("n_parts", T.IntegerType()),
    T.StructField("parts", T.MapType(T.StringType(), T.BinaryType())),
])


def _member_rows(members):
    """``(member_name, sample_key, ext, n_bytes, data)`` per member."""
    for name, data in members:
        yield (name, *_split_key(name), len(data), data)


def _sample_rows(members):
    """``(sample_key, n_parts, parts)`` per run of ADJACENT members
    sharing a key; a repeated ext keeps the LAST member."""
    split = ((*_split_key(name), data) for name, data in members)
    for key, run in groupby(split, key=itemgetter(0)):
        parts = {ext: data for _, ext, data in run}
        yield key, len(parts), parts


def read_tar_members(df: DataFrame, content_col: str = "content",
                     id_col: str = "shard_id") -> DataFrame:
    """One row per regular-file tar member, archive order preserved
    through (shard_id, member_name)."""
    return map_blobs(spread(df), TAR_MEMBER_SCHEMA,
                     lambda b: _member_rows(parse_tar_members(b)),
                     id_col, content_col)


def read_tar_samples(df: DataFrame, content_col: str = "content",
                     id_col: str = "shard_id") -> DataFrame:
    """One row per sample: ADJACENT members sharing a key pair into
    ``parts[ext] -> data``.  Pairing is per shard (the key run starts
    afresh for each input row; no shuffle); a repeated ext within one
    sample keeps the LAST member (webdataset semantics for duplicate
    fields)."""
    return map_blobs(spread(df), TAR_SAMPLE_SCHEMA,
                     lambda b: _sample_rows(parse_tar_members(b)),
                     id_col, content_col)


def encode_tar_shard(samples: list[tuple[str, dict[str, bytes]]],
                     gzip_level: int | None = None) -> bytes:
    """Deterministic ustar bytes from ``[(key, {ext: data})]``:
    members emitted as ``key.ext`` in given sample order with exts
    sorted, mtime 0, uid/gid 0, mode 0644 — the same input always
    produces the same shard bytes (``gzip_level`` wraps them in a
    reproducible gzip member with zeroed mtime)."""
    buf = _io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for key, parts in samples:
            for ext in sorted(parts):
                data = parts[ext]
                info = tarfile.TarInfo(name=f"{key}.{ext}" if ext
                                       else key)
                info.size = len(data)
                info.mtime = 0
                info.uid = info.gid = 0
                info.uname = info.gname = ""
                info.mode = 0o644
                tf.addfile(info, _io.BytesIO(data))
    raw = buf.getvalue()
    if gzip_level is None:
        return raw
    import gzip as _gzip
    out = _io.BytesIO()
    with _gzip.GzipFile(fileobj=out, mode="wb",
                        compresslevel=gzip_level, mtime=0) as gz:
        gz.write(raw)
    return out.getvalue()


# ------------------------------------------------------- zip shards
#
# The same member/key/ext contract over ZIP containers (r14): zip is
# the other container format shard stores actually ship (scrape dumps,
# Kaggle-style exports) and the one OPC document formats (DOCX, EPUB,
# ODT) are built on — datapipe/zipdoc.py layers those extractors over
# these primitives.  Plan shape is identical to the tar half: one zip
# = one input row, members parse partition-local inside Arrow
# mapInPandas, zero shuffle.

def parse_zip_members(content: bytes) -> list[tuple[str, bytes]]:
    """``[(member_name, data)]`` for regular-file zip members in
    central-directory order; directories skipped; corrupt archives
    raise ``ValueError``."""
    import zipfile
    try:
        with zipfile.ZipFile(_io.BytesIO(content)) as zf:
            out = []
            for info in zf.infolist():
                if info.is_dir():
                    continue
                out.append((info.filename, zf.read(info)))
            return out
    except (zipfile.BadZipFile, NotImplementedError,
            EOFError, OSError) as exc:
        raise ValueError(f"corrupt zip shard: {exc}") from exc
    except zipfile.LargeZipFile as exc:      # pragma: no cover
        raise ValueError(f"zip64 limit: {exc}") from exc


def read_zip_members(df: DataFrame, content_col: str = "content",
                     id_col: str = "shard_id") -> DataFrame:
    """One row per zip member with the WebDataset key/ext split —
    the zip twin of :func:`read_tar_members` (same schema, same
    zero-shuffle Arrow plan)."""
    return map_blobs(spread(df), TAR_MEMBER_SCHEMA,
                     lambda b: _member_rows(parse_zip_members(b)),
                     id_col, content_col)


def encode_zip_shard(samples: list[tuple[str, dict[str, bytes]]],
                     compress: bool = True) -> bytes:
    """Deterministic zip bytes from the same ``[(key, {ext: data})]``
    shape :func:`encode_tar_shard` takes: members emitted as
    ``key.ext`` in sample order with exts sorted, DOS timestamp
    pinned to the 1980 epoch, fixed permissions — byte-stable for
    identical input (zlib deflate is deterministic per level)."""
    members = []
    for key, parts in samples:
        for ext in sorted(parts):
            members.append((f"{key}.{ext}" if ext else key,
                            parts[ext]))
    return zip_bytes(members, compress=compress)


def zip_bytes(members: list[tuple[str, bytes]],
              compress: bool = True) -> bytes:
    """Low-level deterministic zip writer: ``[(name, data)]`` in
    given order.  ``compress=False`` stores every member; a per-
    member override rides a 3-tuple ``(name, data, False)`` (OPC
    formats require e.g. the EPUB ``mimetype`` member STORED
    first)."""
    import zipfile
    buf = _io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        for m in members:
            name, data = m[0], m[1]
            comp = (m[2] if len(m) > 2 else compress)
            info = zipfile.ZipInfo(name,
                                   date_time=(1980, 1, 1, 0, 0, 0))
            info.external_attr = 0o644 << 16
            info.compress_type = (zipfile.ZIP_DEFLATED if comp
                                  else zipfile.ZIP_STORED)
            zf.writestr(info, data)
    return buf.getvalue()


def read_zip_samples(df: DataFrame, content_col: str = "content",
                     id_col: str = "shard_id") -> DataFrame:
    """Adjacent-member sample pairing over ZIP shards — the zip twin
    of :func:`read_tar_samples` (same schema, same per-shard
    zero-shuffle pairing, last-ext-wins within a sample)."""
    return map_blobs(spread(df), TAR_SAMPLE_SCHEMA,
                     lambda b: _sample_rows(parse_zip_members(b)),
                     id_col, content_col)
