"""The codec tier's NULL law, pinned once per entry point.

Every blob-decoding entry point runs through ``_util.map_blobs``: a row
whose id or blob is NULL gives no output, and a decoder's exception
still fails the job.  Each case below runs one good fixture row alone,
then the same row beside a NULL-blob row and a NULL-id row, and asserts
the two outputs are equal.  A garbage blob must fail the job, except on
the triage entry points, whose documented answer for junk is a row of
NULLs (or, for ``extract_features(fake=True)``, a hash row).
"""

import gzip

import pytest
from pyspark.errors import PythonException

from pypond_spark.datapipe import (aiff, document, id3, jpeg, multimodal,
                                   pdf, rtf, tarshard, warc, y4m, zipdoc)

RAISES = "raises"
GOOD_ID, NULL_BLOB_ID = 7, 8
GARBAGE = b"garbage"


def _ppm():
    return b"P6\n4 4\n255\n" + bytes(range(0, 192, 4))


def _aiff():
    return aiff.encode_aiff(8000, 1, 16,
                            [(i * 977) % 20000 - 10000 for i in range(64)])


def _exif_jpeg():
    j = jpeg.encode_jpeg(8, 8, bytes(range(192)))
    app1 = multimodal.encode_app1_exif("CamCo", "ZX-9", 6,
                                       "2024:01:02 03:04:05")
    return j[:2] + app1 + j[2:]


def _samples():
    return [("a/000", {"jpg": b"\xff\xd8x", "txt": b"one"}),
            ("a/001", {"txt": b"two"})]


_WARC_RECORDS = [
    "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 5\r\n\r\n"
    "note!\r\n\r\n",
    "WARC/1.0\r\nWARC-Type: response\r\n"
    "WARC-Target-URI: http://e.com/1\r\nContent-Length: 14\r\n\r\n"
    "hello\r\n\r\nworld\r\n\r\n",
]


def _warc_text():
    return "".join(_WARC_RECORDS)


def _warc_gz():
    """One gzip member per record, the ``.warc.gz`` layout."""
    return b"".join(gzip.compress(r.encode(), mtime=0)
                    for r in _WARC_RECORDS)


MEDIA = "media_id long, content binary"
DOC = "doc_id long, content binary"
SHARD = "shard_id long, content binary"

# (name, entry point, input DDL, good-blob writer, extra values,
#  garbage blob, garbage expectation: RAISES, the output rows without
#  the id, or None for "one row, content unchecked")
CASES = [
    ("extract_features",
     lambda df: multimodal.extract_features(df, fake=True), MEDIA, _ppm,
     (), GARBAGE, None),
    ("image_stats", multimodal.image_stats, MEDIA, _ppm, (),
     GARBAGE, RAISES),
    ("audio_stats", multimodal.audio_stats, MEDIA, _aiff, (),
     GARBAGE, RAISES),
    ("resize_image", lambda df: multimodal.resize_image(df, 2, 2),
     MEDIA, _ppm, (), GARBAGE, RAISES),
    ("sniff_image_meta", multimodal.sniff_image_meta, MEDIA, _ppm, (),
     GARBAGE, [(None, None, None)]),
    ("image_phash",
     lambda df: multimodal.image_phash(df, 3, 3, extra_cols=("frame",)),
     MEDIA + ", frame int", _ppm, (5,), GARBAGE, RAISES),
    ("audio_fingerprint", multimodal.audio_fingerprint, MEDIA, _aiff, (),
     GARBAGE, RAISES),
    ("sniff_audio_meta", multimodal.sniff_audio_meta, MEDIA, _aiff, (),
     GARBAGE, [(None,) * 6]),
    ("image_exif", multimodal.image_exif, MEDIA, _exif_jpeg, (),
     GARBAGE, [(None,) * 7]),
    ("image_orientation", multimodal.image_orientation, MEDIA,
     _exif_jpeg, (), GARBAGE, [(None,)]),
    ("orient_image", multimodal.orient_image, MEDIA + ", orientation int",
     _ppm, (6,), GARBAGE, RAISES),
    ("read_tar_members", tarshard.read_tar_members, SHARD,
     lambda: tarshard.encode_tar_shard(_samples()), (), GARBAGE, RAISES),
    ("read_tar_samples", tarshard.read_tar_samples, SHARD,
     lambda: tarshard.encode_tar_shard(_samples()), (), GARBAGE, RAISES),
    ("read_zip_members", tarshard.read_zip_members, SHARD,
     lambda: tarshard.encode_zip_shard(_samples()), (), GARBAGE, RAISES),
    ("read_zip_samples", tarshard.read_zip_samples, SHARD,
     lambda: tarshard.encode_zip_shard(_samples()), (), GARBAGE, RAISES),
    ("extract_docx_text", zipdoc.extract_docx_text, DOC,
     lambda: zipdoc.encode_docx(["one", "two"]), (), GARBAGE, RAISES),
    ("extract_epub_text", zipdoc.extract_epub_text, DOC,
     lambda: zipdoc.encode_epub([("A", ["one"]), ("B", ["two"])]), (),
     GARBAGE, RAISES),
    ("extract_odt_text", zipdoc.extract_odt_text, DOC,
     lambda: zipdoc.encode_odt(["one", "two"]), (), GARBAGE, RAISES),
    ("extract_pdf_text", pdf.extract_pdf_text, DOC,
     lambda: pdf.encode_pdf(["page one", "page two"]), (),
     GARBAGE, RAISES),
    ("extract_pdf_info", pdf.extract_pdf_info, DOC,
     lambda: pdf.encode_pdf(["page one"], title="T"), (),
     GARBAGE, RAISES),
    ("parse_warc", warc.parse_warc, "doc_id long, warc string",
     _warc_text, (), GARBAGE.decode(), RAISES),
    ("parse_warc_gz", warc.parse_warc_gz, "doc_id long, warc_gz binary",
     _warc_gz, (), GARBAGE, RAISES),
    ("sample_video_frames", y4m.sample_video_frames, MEDIA,
     lambda: y4m.encode_y4m(4, 4, [bytes(16), bytes(range(16))],
                            chroma="mono"), (), GARBAGE, RAISES),
    ("extract_rtf_text", rtf.extract_rtf_text, DOC,
     lambda: rtf.encode_rtf(["one", "two"]), (), GARBAGE, RAISES),
    ("audio_id3_tags", id3.audio_id3_tags, DOC,
     lambda: id3.encode_id3v2({"title": "T", "artist": "A"}) + b"\xff",
     (), GARBAGE, RAISES),
    # unrecognized bytes are a triage label; a corrupt RECOGNIZED
    # format stays loud, so the garbage here carries the PDF magic
    ("extract_documents", document.extract_documents, DOC,
     lambda: rtf.encode_rtf(["one"]), (), b"%PDF-" + GARBAGE, RAISES),
]


def _blob(ddl, value):
    return value if " string" in ddl else bytearray(value)


@pytest.mark.parametrize("name,run,ddl,good,extra,garbage,expect", CASES,
                         ids=[c[0] for c in CASES])
def test_codec_null_law(spark, name, run, ddl, good, extra, garbage,
                        expect):
    blob = _blob(ddl, good())
    clean = run(spark.createDataFrame([(GOOD_ID, blob, *extra)], ddl))
    want = clean.collect()
    assert want and all(r[0] == GOOD_ID for r in want)
    mixed = spark.createDataFrame(
        [(GOOD_ID, blob, *extra), (NULL_BLOB_ID, None, *extra),
         (None, blob, *extra)], ddl)
    assert run(mixed).collect() == want

    bad = spark.createDataFrame([(GOOD_ID, _blob(ddl, garbage), *extra)],
                                ddl)
    if expect == RAISES:
        with pytest.raises(PythonException):
            run(bad).collect()
    elif expect is not None:
        assert [tuple(r)[1:] for r in run(bad).collect()] == expect
    else:
        assert [r[0] for r in run(bad).collect()] == [GOOD_ID]
