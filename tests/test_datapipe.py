"""Datapipe operators over the driver's synthetic tables (sf0.001)."""

import os

import pytest
from pyspark.sql import functions as F

from pypond_spark.datapipe import (decontam, dedup, multimodal, similarity,
                                   textstats)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_duplicates(spark, docs):
    dups = dedup.exact_duplicates(docs)
    total = docs.count()
    assert dups.agg(F.sum("n_docs")).collect()[0][0] == total
    # every digest row keeps the min doc_id
    row = dups.orderBy("digest").first()
    assert row["keep_id"] is not None and row["n_docs"] >= 1
    # synthetic duplicate check
    doubled = docs.limit(5).union(docs.limit(5))
    d2 = dedup.exact_duplicates(doubled)
    assert d2.count() == 5
    assert d2.agg(F.max("n_docs")).collect()[0][0] == 2


def test_minhash_and_lsh(spark, docs):
    sig = dedup.minhash_signature(docs.limit(50), num_hashes=4)
    rows = sig.collect()
    assert len(rows) == 50
    # md5-derived 32-bit hash values (h1 + k*h2 mod 2^32)
    for k in range(4):
        assert all(0 <= r[f"m{k}"] < 2 ** 32 for r in rows)
    # seed columns are genuinely different hash families
    assert any(r["m0"] != r["m1"] for r in rows)

    # identical docs must collide in every band -> candidate pair
    base = docs.limit(3).select("doc_id", "text")
    clone = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    pairs = dedup.lsh_candidate_pairs(base.union(clone), num_hashes=8,
                                      band_size=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    for r in base.collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in got


def test_lsh_max_bucket_mega_cluster(spark):
    """A planted mega-cluster (120 identical docs: worst-case skew —
    every band bucket holds all 120) under max_bucket=8: pair count
    collapses from |bucket|² to max_bucket² + |bucket| per band, every
    member keeps at least one edge (the star links), and connected-
    component labeling still reaches the WHOLE cluster through the
    representatives."""
    n = 120
    mega = spark.createDataFrame(
        [(i, "the same boilerplate text shared by every page")
         for i in range(n)], "doc_id long, text string")
    capped = dedup.lsh_candidate_pairs(mega, num_hashes=8, band_size=4,
                                       max_bucket=8)
    pairs = capped.collect()
    # bounded: 2 bands x (C(8,2) clique + (120-8) star) = 280 max,
    # far below the uncapped C(120,2) = 7140
    assert len(pairs) <= 2 * (28 + (n - 8))
    touched = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert touched == set(range(n))
    stats = {}
    comp = dedup.dup_clusters(
        capped.select(F.col("id_a"), F.col("id_b")), stats=stats)
    labels = {r["cluster_id"] for r in comp.collect()}
    assert labels == {0} and comp.count() == n
    with pytest.raises(ValueError, match="max_bucket"):
        dedup.lsh_candidate_pairs(mega, max_bucket=1)
    # the end-to-end entrypoint forwards the lever: the whole planted
    # cluster still collapses to one keeper under the cap
    out = dedup.dedup_documents(mega, max_bucket=8)
    assert out.where(F.col("is_keeper")).count() == 1
    assert out.select("cluster_id").distinct().count() == 1


def test_ngram_jaccard(spark, docs):
    base = docs.limit(2).select("doc_id", "text")
    clone = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = base.union(clone)
    pairs = spark.createDataFrame(
        [(r["doc_id"], r["doc_id"] + 1_000_000) for r in base.collect()],
        "id_a long, id_b long")
    jac = dedup.ngram_jaccard(both, pairs)
    for r in jac.collect():
        assert r["jaccard"] == 1.0


def test_simhash(spark, docs):
    sh = dedup.simhash64(docs.limit(20))
    rows = sh.collect()
    assert len(rows) == 20
    # deterministic: same input -> same hash
    again = {r["doc_id"]: r["simhash"] for r in
             dedup.simhash64(docs.limit(20)).collect()}
    for r in rows:
        assert again[r["doc_id"]] == r["simhash"]

    # identical docs -> hamming 0 pairs found by the blocked join
    base = docs.limit(3).select("doc_id", "text")
    clone = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    near = dedup.simhash_near_dups(base.union(clone), max_hamming=0)
    got = {(r["id_a"], r["id_b"]) for r in near.collect()}
    for r in base.collect():
        assert (r["doc_id"], r["doc_id"] + 1_000_000) in got


def test_simhash_md5_variant(spark, docs):
    """md5 token hashes: deterministic and oracle-reproducible."""
    md5_1 = {r["doc_id"]: r["simhash"]
             for r in dedup.simhash64(docs.limit(20)).collect()}
    md5_2 = {r["doc_id"]: r["simhash"]
             for r in dedup.simhash64(docs.limit(20)).collect()}
    assert md5_1 == md5_2 and len(md5_1) == 20


def test_text_stats(spark, docs):
    stats = textstats.quality_stats(docs.limit(10))
    for r in stats.collect():
        assert r["n_words"] > 0
        assert r["n_tokens"] >= r["n_words"]
        assert 0 <= r["stopword_ratio"] <= 1
        assert 0 <= r["punct_ratio"] <= 1


def test_language_id(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat of a house"),
         (2, "der hund und die katze das haus"),
         (3, "le chien et la maison les arbres"),
         (4, "el perro y los gatos que corren"),
         (5, "xyzzy plugh qwerty")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"]
           for r in textstats.language_id(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_strip_html_extraction(spark):
    """HTML -> text: script/style subtrees and comments vanish, block
    closers become newlines (words never glue across blocks), tags
    strip, the named entities decode in ONE pass (&amp;lt; ends as
    &lt;, never double-decodes to <), whitespace collapses."""
    from pypond_spark.datapipe.textstats import strip_html
    df = spark.createDataFrame(
        [(1, '<html><head><SCRIPT src="x">var a=1;</script>'
             '<style>.c{color:red}</style></head><body><h1>Title</h1>'
             '<p>Hello &amp; <b>world</b>!</p><!-- hidden -->'
             '<ul><li>one</li><li>two&nbsp;&lt;3</li></ul>'
             '<br>tail</body></html>'),
         (2, 'plain text already'),
         (3, '&amp;lt; stays encoded once'),
         (4, 'a<div>b</div>c')],
        "doc_id long, text string")
    got = {r["doc_id"]: r["text"] for r in strip_html(df).collect()}
    assert got[1] == "Title\nHello & world !\none\ntwo <3\ntail"
    assert got[2] == "plain text already"
    assert got[3] == "&lt; stays encoded once"
    assert got[4] == "a b\nc"         # div closer breaks the block
    more = spark.createDataFrame(
        [(5, "<p>hi</p>"),                       # edges fully trimmed
         (6, '<br class="x">a<br clear=all>b')],  # attr-carrying <br>
        "doc_id long, text string")
    got2 = {r["doc_id"]: r["text"] for r in strip_html(more).collect()}
    assert got2[5] == "hi"            # no trailing newline (r10 review)
    assert got2[6] == "a\nb"


def test_html_blocks_boilerplate_classification(spark):
    """The jusText-class block scorer on a golden page: nav and footer
    (link-dense or too short), a cookie banner (link-dense) drop;
    article prose and its heading survive via the stopword rule; a
    long stopword-free block survives via the near-good length rule.
    All classification comparisons are exact integer cross-mults."""
    from pypond_spark.datapipe.textstats import (extract_content,
                                                 html_blocks)
    page = (
        '<html><head><title>T</title><script>var x;</script>'
        '<style>.c{}</style></head><body>'
        '<nav><ul><li><a href="/">Home</a></li>'
        '<li><a href="/about">About us</a></li></ul></nav>'
        '<div class="cookie">We use cookies. <a href="#">Accept</a> '
        '<a href="#">Decline</a></div>'
        '<article><h1>The quick brown fox</h1>'
        '<p>The quick brown fox jumps over the lazy dog and it is a '
        'fine day in the meadow where the animals like to play all '
        'of the time.</p></article>'
        '<footer><a href="/privacy">Privacy</a> | '
        '<a href="/terms">Terms</a> | (c) 2026</footer>'
        '</body></html>')
    df = spark.createDataFrame([(1, page)], "doc_id long, text string")
    rows = {r["block_text"]: r for r in html_blocks(df).collect()
            if r["block_text"]}
    assert rows["Home"]["label"] == "short"
    assert rows["We use cookies. Accept Decline"]["label"] == "link"
    assert rows["We use cookies. Accept Decline"]["link_chars"] == 13
    assert rows["The quick brown fox"]["label"] == "content"
    assert rows["Privacy | Terms | (c) 2026"]["label"] == "link"
    long_p = [k for k in rows if k.startswith("The quick brown fox j")]
    assert rows[long_p[0]]["label"] == "content"
    assert rows[long_p[0]]["stop_hits"] >= 10

    out = {r["doc_id"]: r for r in extract_content(df).collect()}
    assert out[1]["n_content"] == 2
    assert out[1]["text"].startswith("The quick brown fox\nThe quick")
    assert "cookies" not in out[1]["text"]
    assert "Privacy" not in out[1]["text"]

    # near-good rule: long block, zero stopwords (no 'the/a/and/...')
    nostop = "xylophones glimmer brightly under moonlit skies " * 3
    df2 = spark.createDataFrame(
        [(2, f"<p>{nostop.strip()}</p>"),
         (3, "<p>short link row</p>"),       # 3 words, no stopwords
         (4, "plain untagged text with the usual flow of words in it"),
         (5, "")],
        "doc_id long, text string")
    got = {(r["doc_id"]): r["label"] for r in html_blocks(df2).collect()
           if r["block_text"]}
    assert got[2] == "content"      # length rule (stop_hits == 0)
    assert got[3] == "low"          # >= min_words but no evidence
    assert got[4] == "content"      # tag-free doc is one prose block
    out2 = {r["doc_id"]: r for r in extract_content(df2).collect()}
    assert out2[5]["text"] == "" and out2[5]["n_content"] == 0
    assert out2[4]["text"].startswith("plain untagged")

    import pytest as _pt
    with _pt.raises(ValueError, match="min_words"):
        html_blocks(df, min_words=0)


def test_normalize_unicode_collapses_divergent_clones(spark):
    """NFC/NFD-divergent text, zero-width stuffing, fullwidth
    compatibility forms and (opt-in) Cyrillic homoglyphs must collapse
    to ONE digest through normalize_unicode — the clones exact dedup
    silently misses today (r10). Expected values are hand-derived from
    the Unicode tables, not recomputed by the op."""
    from pypond_spark.datapipe.dedup import exact_duplicates
    from pypond_spark.datapipe.textstats import normalize_unicode
    df = spark.createDataFrame(
        [(1, "caf\u00e9 menu"),            # NFC e-acute
         (2, "cafe\u0301 menu"),           # NFD e + combining acute
         (3, "caf\u00e9 me\u200bnu"),      # zero-width space inside
         (4, "CAF\u00c9 MENU"),            # case variant
         (5, "caf\u00e9 \uff4d\uff45\uff4e\uff55"),  # fullwidth menu
         (6, "totally different text")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"] for r in
           normalize_unicode(df).collect()}
    assert (out[1] == out[2] == out[3] == out[4] == out[5]
            == "caf\u00e9 menu")
    assert out[6] == "totally different text"
    # the collapsed clones now dedup to a single digest group
    groups = {r["keep_id"]: r["n_docs"] for r in
              exact_duplicates(normalize_unicode(df)).collect()}
    assert groups == {1: 5, 6: 1}
    # homoglyph fold is opt-in and destructive by design
    spoof = spark.createDataFrame(
        [(1, "p\u0430ypal account"),       # Cyrillic a
         (2, "paypal account")],
        "doc_id long, text string")
    plain = {r["doc_id"]: r["text"] for r in
             normalize_unicode(spoof).collect()}
    assert plain[1] != plain[2]
    folded = {r["doc_id"]: r["text"] for r in
              normalize_unicode(spoof, fold_confusables=True).collect()}
    assert folded[1] == folded[2] == "paypal account"
    import pytest as _pt
    with _pt.raises(ValueError, match="form"):
        normalize_unicode(df, form="NFX")


def test_normalize_unicode_feeds_decontam(spark):
    """A benchmark gram hidden by NFD + zero-width stuffing in the
    corpus is MISSED by decontamination on raw text and CAUGHT once
    both sides pass through normalize_unicode — the production wiring
    of the normalize= paths."""
    from pypond_spark.datapipe import decontam
    from pypond_spark.datapipe.textstats import normalize_unicode
    bench = spark.createDataFrame(
        [(100, "the secret caf\u00e9 answer phrase nobody should "
               "train on ever at all")],
        "doc_id long, text string")
    dirty = spark.createDataFrame(
        [(1, "prefix words the secret cafe\u0301 answer ph\u200brase "
             "nobody should train on ever at all suffix"),
         (2, "clean document with no benchmark overlap whatsoever "
             "in any of its words")],
        "doc_id long, text string")
    grams_raw = decontam.benchmark_grams(bench, n=8)
    hits_raw = decontam.decontaminate(dirty, grams_raw, n=8)
    assert {r["doc_id"]: r["contaminated"] for r in hits_raw.collect()} \
        == {1: False, 2: False}            # NFD + zwsp defeat raw match
    grams_n = decontam.benchmark_grams(normalize_unicode(bench), n=8)
    hits_n = decontam.decontaminate(normalize_unicode(dirty), grams_n,
                                    n=8)
    assert {r["doc_id"]: r["contaminated"] for r in hits_n.collect()} \
        == {1: True, 2: False}


def test_langid_ngram_beats_markers_where_markers_go_blind(spark):
    """The trained char-3-gram NB (r10) identifies SHORT docs with NO
    marker words — exactly where the marker heuristic returns 'und' —
    because character n-grams (accents, digraphs, word endings) carry
    the signal. Per-language recall on the brittle held-out set is
    strictly higher than marker-word recall; ties break to the
    lexicographically smallest label deterministically."""
    from pypond_spark.datapipe.textstats import langid_ngram, language_id
    train = spark.createDataFrame(
        [(0, "bonjour je voudrais acheter quelques croissants "
             "aujourd'hui s'il vous plait merci beaucoup monsieur", "fr"),
         (2, "nous allons souvent au marche pour acheter des legumes "
             "frais chaque semaine pendant toute l'annee", "fr"),
         (4, "good morning i would like to buy some fresh bread "
             "today please thank you very much sir", "en"),
         (6, "we often go to teh market to buy fresh vegetables "
             "every week throughout entire year", "en"),
         (8, "guten morgen ich moechte heute frisches brot kaufen "
             "bitte vielen dank mein herr", "de"),
         (10, "wir gehen oft zum markt um frisches gemuese zu kaufen "
              "jede woche waehrend des ganzen jahres", "de")],
        "doc_id long, text string, lang string")
    # short held-out snippets with NO marker words
    test = spark.createDataFrame(
        [(1, "acheter aujourd'hui beaucoup", "fr"),
         (3, "fresh bread morning", "en"),
         (5, "moechte frisches gemuese", "de")],
        "doc_id long, text string, lang string")
    trained = {r["doc_id"]: r["lang_pred"] for r in
               langid_ngram(train, test).collect()}
    marker = {r["doc_id"]: r["lang_pred"] for r in
              language_id(test).collect()}
    want = {1: "fr", 3: "en", 5: "de"}
    assert trained == want
    # markers are blind here: no doc hits a single marker word
    n_marker_right = sum(marker[k] == v for k, v in want.items())
    assert n_marker_right < 3
    assert sum(trained[k] == v for k, v in want.items()) > n_marker_right
    # validation
    import pytest as _pt
    with _pt.raises(ValueError, match="smoothing"):
        langid_ngram(train, test, smoothing=0)
    with _pt.raises(ValueError, match="n must"):
        langid_ngram(train, test, n=0)


def test_fingerprint_deterministic(spark, docs):
    fp1 = {r["doc_id"]: r["fingerprint"]
           for r in textstats.fingerprint(docs.limit(10)).collect()}
    fp2 = {r["doc_id"]: r["fingerprint"]
           for r in textstats.fingerprint(docs.limit(10)).collect()}
    assert fp1 == fp2 and len(fp1) == 10


def test_cosine_topk(spark, embs):
    qvec = embs.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = similarity.cosine_topk(embs, list(qvec), k=5).collect()
    assert len(top) == 5
    assert top[0]["vec_id"] == 0  # self-similarity 1.0 first
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)


def test_knn_join(spark, embs):
    queries = (embs.limit(2)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    knn = similarity.knn_join(embs, queries, k=3)
    rows = knn.collect()
    assert len(rows) == 6
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, group in by_q.items():
        best = min(group, key=lambda r: r["rank"])
        assert best["vec_id"] == q_id  # self is nearest


def test_lsh_topk_contains_self(spark, embs):
    qvec = embs.where(F.col("vec_id") == 7).collect()[0]["embedding"]
    top = similarity.lsh_topk(embs, list(qvec), k=5, nbits=4).collect()
    assert top and top[0]["vec_id"] == 7


def test_ivf_topk(spark, embs):
    sub = embs.where(F.col("vec_id") < 200)
    cents = similarity.ivf_build(sub, n_cells=4, n_iters=2)
    assert len(cents) == 4 and all(len(c) == len(cents[0]) for c in cents)
    # build is deterministic
    assert cents == similarity.ivf_build(sub, n_cells=4, n_iters=2)
    qvec = [float(x) for x in
            sub.where(F.col("vec_id") == 7).collect()[0]["embedding"]]
    top = similarity.ivf_topk(sub, qvec, cents, k=5, nprobe=1).collect()
    assert top and top[0]["vec_id"] == 7  # self lands in the probed cell
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    # probing every cell degenerates to the exact search
    full = similarity.ivf_topk(sub, qvec, cents, k=5, nprobe=4).collect()
    exact = similarity.cosine_topk(sub, qvec, k=5).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]


def test_multimodal_plumbing(spark, docs):
    media = multimodal.attach_binary(docs.limit(8), "text", "doc_id")
    assert [f.name for f in media.schema.fields] == \
        ["media_id", "kind", "content", "meta"]
    feats = multimodal.extract_features(media, fake=True).collect()
    assert len(feats) == 8
    for r in feats:
        assert r["n_bytes"] > 0
        assert len(r["features"]) == 8
        assert len(r["digest"]) == 32

    # text is no media format, so the real decoders raise
    with pytest.raises(Exception):
        multimodal.extract_features(media, fake=False).collect()


def test_decode_ppm():
    content = b"P6\n# a comment\n2 2\n255\n" + bytes(range(12))
    img = multimodal.decode_image(content)
    assert (img["width"], img["height"], img["maxval"]) == (2, 2, 255)
    assert img["pixels"] == bytes(range(12))
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"\x89PNG\r\n")
    with pytest.raises(ValueError):
        multimodal.decode_image(b"P6\n4 4\n255\nshort")


def test_png_roundtrip_all_filters():
    """encode_png -> decode_image reproduces the RGB bytes exactly for
    every scanline filter type (None/Sub/Up/Average/Paeth), alone and
    cycled, on power-of-two and odd sizes."""
    import hashlib
    for w, h in [(8, 8), (5, 3), (1, 1), (2, 7)]:
        n = w * h * 3
        px = (b"".join(hashlib.md5(f"png{w}x{h}~{k}".encode()).digest()
                       for k in range(n // 16 + 1)))[:n]
        for filters in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
            content = multimodal.encode_png(w, h, px, filters=filters)
            img = multimodal.decode_image(content)
            assert (img["format"], img["width"], img["height"],
                    img["maxval"]) == ("png", w, h, 255)
            assert img["pixels"] == px, (w, h, filters)
    with pytest.raises(ValueError, match="RGB bytes"):
        multimodal.encode_png(2, 2, b"short")


def test_png_decode_color_types_and_errors():
    """Gray and alpha color types normalize to RGB (gray replicated,
    alpha dropped); unsupported variants raise NotImplementedError and
    corrupt chunks raise ValueError."""
    import struct as _s
    import zlib as _z

    def chunk(ctype, data):
        return (_s.pack(">I", len(data)) + ctype + data
                + _s.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF))

    def png(width, height, depth, color, interlace, scanlines):
        ihdr = _s.pack(">IIBBBBB", width, height, depth, color, 0, 0,
                       interlace)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", _z.compress(scanlines))
                + chunk(b"IEND", b""))

    # gray 2x2: values 10,20 / 30,40 -> each replicated to RGB
    g = png(2, 2, 8, 0, 0, bytes([0, 10, 20, 0, 30, 40]))
    img = multimodal.decode_image(g)
    assert img["pixels"] == bytes([10] * 3 + [20] * 3 + [30] * 3
                                  + [40] * 3)
    # RGBA 1x2: alpha dropped
    ra = png(1, 2, 8, 6, 0, bytes([0, 1, 2, 3, 99, 0, 4, 5, 6, 7]))
    assert multimodal.decode_image(ra)["pixels"] == bytes([1, 2, 3,
                                                           4, 5, 6])
    # gray+alpha 2x1: gray replicated, alpha dropped
    ga = png(2, 1, 8, 4, 0, bytes([0, 50, 255, 60, 0]))
    assert multimodal.decode_image(ga)["pixels"] == bytes(
        [50] * 3 + [60] * 3)
    # 16-bit gray decodes via the high byte (r10): 0x0A0B -> 10
    g16 = png(1, 1, 16, 0, 0, bytes([0, 10, 11]))
    assert multimodal.decode_image(g16)["pixels"] == bytes([10] * 3)
    # palette without PLTE is corrupt, not unsupported (r10)
    with pytest.raises(ValueError, match="PLTE"):
        multimodal.decode_image(png(1, 1, 8, 3, 0, bytes(2)))
    # Adam7 decodes since r12; a 1x1 interlaced image is just pass 1
    assert multimodal.decode_image(
        png(1, 1, 8, 0, 1, bytes([0, 7])))["pixels"] == bytes([7] * 3)
    with pytest.raises(ValueError, match="interlace"):
        multimodal.decode_image(png(1, 1, 8, 0, 2, bytes(2)))
    # flip a byte inside the IDAT chunk data so its CRC check fails
    good = png(1, 1, 8, 0, 0, bytes([0, 7]))
    idat_pos = good.index(b"IDAT")
    corrupted = bytearray(good)
    corrupted[idat_pos + 4] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_image(bytes(corrupted))
    # truncated pixel stream
    with pytest.raises(ValueError, match="pixel data"):
        multimodal.decode_image(png(2, 2, 8, 0, 0, bytes([0, 1, 2])))


def test_png_palette_and_16bit_roundtrip():
    """encode_png_indexed / encode_png16 -> decode_image reproduce the
    target RGB bytes exactly: palette at every legal depth (sub-byte
    MSB-first packing, filters over index bytes), 16-bit via the v*257
    widening that makes the high-byte downsample lossless."""
    import hashlib

    # palette: PLTE IS the pixel content, indices 0..n-1 (duplicates
    # of a color in PLTE are legal, so ANY rgb content is expressible)
    for w, h, depth in [(8, 8, 8), (4, 4, 4), (4, 2, 2), (8, 2, 1),
                        (5, 3, 4)]:
        n = w * h
        if depth < 8 and n > (1 << depth):
            # sub-byte depths: cycle indices within range
            idx = bytes(i % (1 << depth) for i in range(n))
        else:
            idx = bytes(range(n))
        n_pal = max(idx) + 1
        plte = (b"".join(hashlib.md5(f"plte{depth}~{k}".encode()).digest()
                         for k in range(n_pal)))[:n_pal * 3]
        content = multimodal.encode_png_indexed(
            w, h, idx, plte, depth=depth, filters=(0, 1, 2, 3, 4))
        img = multimodal.decode_image(content)
        want = b"".join(plte[3 * i:3 * i + 3] for i in idx)
        assert (img["width"], img["height"]) == (w, h)
        assert img["pixels"] == want, (w, h, depth)
    # 16-bit RGB roundtrip, every filter
    for filters in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
        px = (b"".join(hashlib.md5(f"p16~{k}".encode()).digest()
                       for k in range(12)))[:5 * 3 * 3]
        content = multimodal.encode_png16(5, 3, px, filters=filters)
        assert multimodal.decode_image(content)["pixels"] == px
    # error paths
    with pytest.raises(ValueError, match="index out of range"):
        multimodal.encode_png_indexed(1, 1, bytes([5]), bytes(9), depth=2)
    with pytest.raises(ValueError, match="PLTE"):
        multimodal.encode_png_indexed(1, 1, bytes([0]), bytes(4))
    with pytest.raises(ValueError, match="depth"):
        multimodal.encode_png_indexed(1, 1, bytes([0]), bytes(3), depth=3)


def test_warc_parse_and_payload(spark):
    """WARC framing honors Content-Length (bodies may contain blank
    lines — newline splitting would mis-frame), headers parse
    case-insensitively, multiple records stream in order, the HTTP
    envelope strips to the entity body, and truncation/garbage raise
    ValueError."""
    from pypond_spark.datapipe import warc as W
    body = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
            "<p>hello</p>\r\n\r\nafter a blank line")
    rec1 = (f"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            f"Content-Length: 5\r\n\r\nnote!\r\n\r\n")
    rec2 = (f"WARC/1.0\r\nwarc-type: response\r\n"
            f"WARC-Target-URI: http://ex.com/1\r\n"
            f"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            f"content-length: {len(body)}\r\n"
            f"Content-Type: application/http\r\n\r\n{body}\r\n\r\n")
    rec3 = ("WARC/1.0\r\nWARC-Type: metadata\r\n"
            "Content-Length: 2\r\n\r\nxy\r\n\r\n")
    doc = rec1 + rec2 + rec3
    recs = W.parse_warc_text(doc)
    assert [r["warc_type"] for r in recs] == ["warcinfo", "response",
                                              "metadata"]
    assert recs[1]["target_uri"] == "http://ex.com/1"
    assert recs[1]["block"] == body       # blank line inside survives
    assert recs[2]["block"] == "xy"
    with pytest.raises(ValueError, match="not a WARC"):
        W.parse_warc_text("HTTP/1.1 200 OK\r\n\r\n")
    with pytest.raises(ValueError, match="truncated"):
        W.parse_warc_text(doc[:len(rec1) + 40])
    with pytest.raises(ValueError, match="Content-Length"):
        W.parse_warc_text("WARC/1.0\r\nWARC-Type: x\r\n\r\n")

    df = spark.createDataFrame([(1, doc)], "doc_id long, warc string")
    rows = W.parse_warc(df).orderBy("record_no").collect()
    assert [r["warc_type"] for r in rows] == ["warcinfo", "response",
                                              "metadata"]
    resp = W.warc_responses(df).collect()
    assert len(resp) == 1
    assert resp[0]["payload"] == "<p>hello</p>\r\n\r\nafter a blank line"
    # WET-style bare text block passes through http_payload unchanged
    from pyspark.sql import functions as F2
    bare = spark.createDataFrame([("just text",)], "block string")
    assert bare.select(W.http_payload_expr("block")).first()[0] \
        == "just text"


def test_url_parts_normalize_and_domains(spark):
    """URL canonicalization goldens: userinfo/default-port/fragment
    stripped, tracking params dropped, surviving params sorted, hosts
    lowercased; registered-domain heuristic handles co.uk-style
    second-level TLDs; unparseable input yields NULLs, never a
    half-built collision key."""
    from pypond_spark.datapipe import urls
    df = spark.createDataFrame([
        (1, "HTTP://User:pw@WWW.Example.CO.UK:80/Path?utm_source=x"
            "&b=2&a=1#frag"),
        (2, "https://blog.example.com:443/post/?gclid=9&z=1&a=2"),
        (3, "https://example.com"),
        (4, "ftp://files.example.org:2121/pub"),
        (5, "not a url"),
        (6, "https://sub.deep.example.com.au/x?fbclid=1"),
    ], "doc_id long, url string")
    parts = {r["doc_id"]: r for r in urls.url_parts(df).collect()}
    assert parts[1]["host"] == "www.example.co.uk"
    assert parts[1]["registered_domain"] == "example.co.uk"
    assert parts[1]["tld"] == "uk" and parts[1]["port"] == 80
    assert parts[2]["registered_domain"] == "example.com"
    assert parts[3]["path"] == "/" and parts[3]["query"] == ""
    assert parts[4]["scheme"] == "ftp" and parts[4]["port"] == 2121
    assert parts[5]["host"] is None
    assert parts[5]["registered_domain"] is None
    assert parts[6]["registered_domain"] == "example.com.au"

    norm = {r["doc_id"]: r["url_norm"] for r in
            urls.normalize_urls(df).collect()}
    assert norm[1] == "http://www.example.co.uk/Path?a=1&b=2"
    assert norm[2] == "https://blog.example.com/post/?a=2&z=1"
    assert norm[3] == "https://example.com/"
    assert norm[4] == "ftp://files.example.org:2121/pub"  # port kept
    assert norm[5] is None
    assert norm[6] == "https://sub.deep.example.com.au/x"

    doms = {r["registered_domain"]: (r["n_docs"], r["share"]) for r in
            urls.domain_stats(df).collect()}
    assert doms["example.com"] == (2, 0.333333)
    assert doms[None][0] == 1                  # unparseable accounted


def test_gif_roundtrip_and_errors():
    """encode_gif -> decode_image reproduces the palette bytes exactly
    (GIF is lossless for paletted content): plain and interlaced, odd
    sizes, real LZW through dictionary growth; structural corruption
    raises ValueError."""
    import hashlib

    from pypond_spark.datapipe import gif

    px = (b"".join(hashlib.md5(f"gop{k}".encode()).digest()
                   for k in range(12)))[:192]   # 64 RGB triples
    for interlace in (False, True):
        data = gif.encode_gif(8, 8, bytes(range(64)), px,
                              interlace=interlace)
        img = multimodal.decode_image(data)
        assert (img["format"], img["width"], img["height"]) \
            == ("gif", 8, 8)
        assert img["pixels"] == px, interlace
    # odd size + repeated indices (exercises real LZW runs)
    pal = bytes([10, 20, 30, 200, 100, 0])
    idx = bytes([0, 1, 1, 0, 0, 0, 1, 0, 1, 1, 1, 0, 0, 1, 0])  # 5x3
    img = multimodal.decode_image(gif.encode_gif(5, 3, idx, pal))
    assert img["pixels"] == b"".join(pal[3 * i:3 * i + 3] for i in idx)
    # big frame forces width growth + dict resets inside the decoder
    import random
    rng = random.Random(11)
    big = bytes(rng.randrange(64) for _ in range(120 * 90))
    img = multimodal.decode_image(gif.encode_gif(120, 90, big, px))
    assert img["pixels"][::3] == bytes(px[3 * i] for i in big)

    with pytest.raises(ValueError, match="signature"):
        gif.decode_gif(b"NOTGIF" + bytes(20))
    with pytest.raises(ValueError, match="truncated"):
        gif.decode_gif(gif.encode_gif(5, 3, idx, pal)[:-10])
    with pytest.raises(ValueError, match="no image"):
        gif.decode_gif(b"GIF89a" + bytes([2, 0, 2, 0, 0, 0, 0, 0x3B]))
    with pytest.raises(ValueError, match="indices"):
        gif.encode_gif(2, 2, bytes(3), pal)
    with pytest.raises(ValueError, match="palette"):
        gif.encode_gif(2, 2, bytes(4), b"xy")
    with pytest.raises(ValueError, match="out of range"):
        gif.encode_gif(2, 2, bytes([0, 1, 2, 9]), pal)
    # extensions (comment / graphic control) are skipped cleanly:
    # splice a comment extension right before the image descriptor
    plain = gif.encode_gif(5, 3, idx, pal)
    gct_end = 13 + (2 << (plain[10] & 0x07)) * 3
    commented = (plain[:gct_end] + b"\x21\xfe\x05hello\x00"
                 + plain[gct_end:])
    assert multimodal.decode_image(commented)["pixels"] \
        == multimodal.decode_image(plain)["pixels"]


def test_jpeg_constant_block_exact_roundtrip():
    """JPEG is lossy, but 8x8-block-constant images with an all-ones
    quant table roundtrip EXACTLY (DC-only blocks survive quantization
    unchanged; jpeg.py module docstring) — the property the driver
    row's oracle-replayability rests on.  Holds for gray and RGB-gray,
    non-multiple-of-8 dimensions (edge-replication padding keeps edge
    blocks constant), and restart-marker streams."""
    import hashlib

    import numpy as np

    from pypond_spark.datapipe import jpeg

    for w, h in [(32, 32), (24, 16), (20, 12), (8, 8)]:
        bw, bh = (w + 7) // 8, (h + 7) // 8
        dig = hashlib.md5(f"jpg{w}x{h}".encode()).digest()
        vals = (dig * ((bw * bh) // 16 + 1))[:bw * bh]
        img = np.repeat(np.repeat(
            np.frombuffer(bytes(vals), dtype=np.uint8).reshape(bh, bw),
            8, axis=0), 8, axis=1)[:h, :w]
        for rst in (0, 2):
            data = jpeg.encode_jpeg(w, h, img.tobytes(), gray=True,
                                    qtable=[1] * 64,
                                    restart_interval=rst)
            out = multimodal.decode_image(data)
            assert (out["format"], out["width"], out["height"]) \
                == ("jpeg", w, h)
            px = np.frombuffer(out["pixels"],
                               dtype=np.uint8).reshape(h, w, 3)
            assert (px == img[..., None]).all(), (w, h, rst)
        if rst and bw * bh > rst:     # multi-segment stream emitted
            assert any(bytes([0xFF, 0xD0 + k]) in data for k in range(8))


def test_jpeg_decode_accuracy_and_color():
    """Random gray at quant=1 decodes within +-1 of the source (the
    T.81 IDCT accuracy envelope — only Huffman-exact entropy coding and
    a correct IDCT can achieve it); color 4:4:4 and 4:2:0 stay within
    honest lossy bounds."""
    import numpy as np

    from pypond_spark.datapipe import jpeg

    rng = np.random.RandomState(11)
    g = rng.randint(0, 256, size=(24, 17)).astype(np.uint8)
    out = multimodal.decode_image(jpeg.encode_jpeg(
        17, 24, g.tobytes(), gray=True, qtable=[1] * 64))
    px = np.frombuffer(out["pixels"], dtype=np.uint8) \
        .reshape(24, 17, 3)[..., 0]
    assert np.abs(px.astype(int) - g.astype(int)).max() <= 1

    c = rng.randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
    out = multimodal.decode_image(jpeg.encode_jpeg(
        16, 16, c.tobytes(), quality=95))
    px = np.frombuffer(out["pixels"], dtype=np.uint8).reshape(16, 16, 3)
    err = np.abs(px.astype(int) - c.astype(int))
    assert err.max() <= 32 and err.mean() < 8

    xx, yy = np.meshgrid(np.arange(32), np.arange(32))
    sm = np.stack([(xx * 4) % 256, (yy * 4) % 256,
                   ((xx + yy) * 2) % 256], axis=-1).astype(np.uint8)
    out = multimodal.decode_image(jpeg.encode_jpeg(
        32, 32, sm.tobytes(), quality=90, subsampling="420"))
    px = np.frombuffer(out["pixels"], dtype=np.uint8).reshape(32, 32, 3)
    assert np.abs(px.astype(int) - sm.astype(int)).max() <= 12


def test_jpeg_progressive_matches_baseline():
    """decode(progressive) == decode(baseline) BYTE-FOR-BYTE for the
    same pixels: both encoders share the quantization pipeline, so the
    coefficients are identical and any divergence is an entropy-layer
    bug in the progressive scans.  Covers gray/color, 4:4:4/4:2:0,
    non-multiple-of-8 dims, restart markers, the default successive-
    approximation script, spectral-selection-only scripts, and a
    4-level approximation ladder."""
    import numpy as np

    from pypond_spark.datapipe import jpeg

    rng = np.random.default_rng(42)
    for w, h in [(16, 16), (13, 9), (24, 17)]:
        for gray in (True, False):
            for sub in (("444",) if gray else ("444", "420")):
                for ri in (0, 2):
                    px = rng.integers(
                        0, 256, size=w * h * (1 if gray else 3),
                        dtype=np.uint8).tobytes()
                    base = jpeg.decode_jpeg(jpeg.encode_jpeg(
                        w, h, px, quality=75, gray=gray,
                        subsampling=sub, restart_interval=ri))
                    prog_bytes = jpeg.encode_jpeg_progressive(
                        w, h, px, quality=75, gray=gray,
                        subsampling=sub, restart_interval=ri)
                    prog = jpeg.decode_jpeg(prog_bytes)
                    assert base == prog, (w, h, gray, sub, ri)
                    # it really is an SOF2 multi-scan stream
                    assert b"\xFF\xC2" in prog_bytes
                    assert prog_bytes.count(b"\xFF\xDA") >= 5

    # spectral-selection only (Ah=Al=0 everywhere) and a deep ladder
    spectral = (((0, 1, 2), 0, 0, 0, 0), ((0,), 1, 63, 0, 0),
                ((1,), 1, 63, 0, 0), ((2,), 1, 63, 0, 0))
    deep = (((0,), 0, 0, 0, 3), ((0,), 0, 0, 3, 2),
            ((0,), 0, 0, 2, 1), ((0,), 0, 0, 1, 0),
            ((0,), 1, 63, 0, 3), ((0,), 1, 63, 3, 2),
            ((0,), 1, 63, 2, 1), ((0,), 1, 63, 1, 0))
    px = rng.integers(0, 256, size=24 * 17 * 3, dtype=np.uint8).tobytes()
    base = jpeg.decode_jpeg(jpeg.encode_jpeg(17, 24, px,
                                             restart_interval=2))
    assert base == jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(
        17, 24, px, restart_interval=2, scan_script=spectral))
    g = rng.integers(0, 256, size=29 * 21, dtype=np.uint8).tobytes()
    assert jpeg.decode_jpeg(jpeg.encode_jpeg(21, 29, g, gray=True)) \
        == jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(
            21, 29, g, gray=True, scan_script=deep))

    # long EOB runs: a flat 128x128 (every AC band empty) and a nearly
    # flat image whose sparse detail interleaves runs with symbols
    flat = (np.zeros((128, 128), np.uint8) + 77)
    sparse = flat.copy()
    sparse[::17, ::13] = 200
    for img in (flat, sparse):
        assert jpeg.decode_jpeg(jpeg.encode_jpeg(
            128, 128, img.tobytes(), gray=True, quality=50)) \
            == jpeg.decode_jpeg(jpeg.encode_jpeg_progressive(
                128, 128, img.tobytes(), gray=True, quality=50))


def test_jpeg_multiscan_sequential():
    """Multi-scan SEQUENTIAL decode (r12, formerly NotImplementedError):
    a baseline file carrying Y/Cb/Cr in separate scans decodes
    byte-identically to the interleaved encode of the same pixels,
    across subsampling, odd sizes and restart markers; gray-valued RGB
    through the per-component scans stays pixel-exact in the DC-only
    regime (the driver row's contract)."""
    import hashlib

    import numpy as np

    from pypond_spark.datapipe import jpeg

    rng = np.random.default_rng(17)
    for w, h in [(13, 9), (24, 17), (16, 16)]:
        for sub in ("444", "420"):
            for ri in (0, 2):
                px = rng.integers(0, 256, size=w * h * 3,
                                  dtype=np.uint8).tobytes()
                a = jpeg.decode_jpeg(jpeg.encode_jpeg(
                    w, h, px, subsampling=sub, restart_interval=ri))
                ms_bytes = jpeg.encode_jpeg_multiscan(
                    w, h, px, subsampling=sub, restart_interval=ri)
                assert ms_bytes.count(b"\xFF\xDA") == 3
                assert a == jpeg.decode_jpeg(ms_bytes), (w, h, sub, ri)

    dig = hashlib.md5(b"msx").digest()
    img = np.repeat(np.repeat(
        np.frombuffer(dig, np.uint8).reshape(4, 4), 8, 0), 8, 1)
    rgb = np.repeat(img[..., None], 3, axis=2)
    d = jpeg.decode_jpeg(jpeg.encode_jpeg_multiscan(
        32, 32, rgb.tobytes(), qtable=[1] * 64, restart_interval=2))
    got = np.frombuffer(d["pixels"], np.uint8).reshape(32, 32, 3)
    assert (got == rgb).all()

    # a multi-scan stream truncated before its last component raises
    last_sos = jpeg.encode_jpeg_multiscan(
        16, 16, bytes(16 * 16 * 3)).rindex(b"\xFF\xDA")
    with pytest.raises(ValueError, match="truncated"):
        jpeg.decode_jpeg(jpeg.encode_jpeg_multiscan(
            16, 16, bytes(16 * 16 * 3))[:last_sos])


def test_jpeg_lossless():
    """Lossless (SOF3) decode+encode (r12, formerly
    NotImplementedError): Annex-H predictive coding roundtrips ANY
    content bit-for-bit — every predictor 1..7, gray and direct RGB,
    restart intervals, odd sizes; the point transform codes v>>Pt and
    decodes (v>>Pt)<<Pt; malformed parameters raise."""
    import numpy as np

    from pypond_spark.datapipe import jpeg

    rng = np.random.default_rng(23)
    for w, h in [(1, 1), (5, 3), (13, 9)]:
        for gray in (True, False):
            for psv in range(1, 8):
                px = rng.integers(0, 256,
                                  size=w * h * (1 if gray else 3),
                                  dtype=np.uint8).tobytes()
                d = jpeg.decode_jpeg(jpeg.encode_jpeg_lossless(
                    w, h, px, gray=gray, predictor=psv,
                    restart_interval=7))
                got = np.frombuffer(d["pixels"],
                                    np.uint8).reshape(h, w, 3)
                want = np.frombuffer(px, np.uint8).reshape(
                    h, w, 1 if gray else 3)
                if gray:
                    want = np.repeat(want, 3, axis=2)
                assert (got == want).all(), (w, h, gray, psv)

    px = rng.integers(0, 256, size=64, dtype=np.uint8)
    d = jpeg.decode_jpeg(jpeg.encode_jpeg_lossless(
        8, 8, px.tobytes(), gray=True, predictor=4,
        point_transform=2))
    got = np.frombuffer(d["pixels"], np.uint8).reshape(8, 8, 3)[..., 0]
    assert (got == ((px.reshape(8, 8) >> 2) << 2)).all()

    with pytest.raises(ValueError, match="predictor"):
        jpeg.encode_jpeg_lossless(2, 2, bytes(12), predictor=8)
    data = jpeg.encode_jpeg_lossless(8, 8, bytes(range(64)), gray=True)
    with pytest.raises(ValueError, match="truncated"):
        jpeg.decode_jpeg(data[:len(data) - 8])
    # SOF7 (differential lossless) stays a capability gap
    bad = bytearray(data)
    bad[bad.index(b"\xFF\xC3") + 1] = 0xC7
    with pytest.raises(NotImplementedError, match="lossless"):
        jpeg.decode_jpeg(bytes(bad))


def test_jpeg_progressive_exact_and_errors():
    """The DC-only exactness regime carries to progressive streams
    (the driver row's oracle contract), and the progressive error
    paths are honest: truncated scans and malformed scripts raise."""
    import hashlib

    import numpy as np

    from pypond_spark.datapipe import jpeg

    dig = hashlib.md5(b"prog").digest()
    vals = np.frombuffer(dig, dtype=np.uint8).reshape(4, 4)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    data = jpeg.encode_jpeg_progressive(32, 32, img.tobytes(),
                                        gray=True, qtable=[1] * 64,
                                        restart_interval=2)
    out = multimodal.decode_image(data)
    px = np.frombuffer(out["pixels"], np.uint8).reshape(32, 32, 3)
    assert (px == img[..., None]).all()

    with pytest.raises(ValueError, match="truncated"):
        jpeg.decode_jpeg(data[:len(data) * 2 // 3])
    for bad in [(((0, 1), 1, 63, 0, 0),),       # multi-comp AC scan
                (((0,), 0, 5, 0, 0),),          # DC band with Se > 0
                (((0,), 1, 63, 2, 0),)]:        # Ah must be Al + 1
        with pytest.raises(ValueError):
            jpeg.encode_jpeg_progressive(32, 32, img.tobytes(),
                                         gray=True, scan_script=bad)


def test_jpeg_unsupported_and_corrupt():
    """Arithmetic/lossless/12-bit raise NotImplementedError with the
    process named; structural corruption raises ValueError."""
    import numpy as np

    from pypond_spark.datapipe import jpeg

    img = (np.zeros((8, 8), dtype=np.uint8) + 100).tobytes()
    d = jpeg.encode_jpeg(8, 8, img, gray=True, qtable=[1] * 64)
    i = d.find(b"\xFF\xC0")
    # SOF2 (progressive) is SUPPORTED since r12 — a baseline stream
    # relabeled progressive is structurally invalid (Se=63 DC band),
    # a ValueError, not a capability gap
    bad2 = bytearray(d)
    bad2[i + 1] = 0xC2
    with pytest.raises(ValueError, match="Se = 0"):
        multimodal.decode_image(bytes(bad2))
    # SOF3 (lossless) is SUPPORTED since r12 — a baseline stream
    # relabeled lossless is malformed (Ss=0 is no Annex-H predictor)
    bad3 = bytearray(d)
    bad3[i + 1] = 0xC3
    with pytest.raises(ValueError, match="predictor"):
        multimodal.decode_image(bytes(bad3))
    for sof, pat in [(0xCA, "arithmetic-coded progressive"),
                     (0xC9, "arithmetic"), (0xC7, "lossless")]:
        bad = bytearray(d)
        bad[i + 1] = sof
        with pytest.raises(NotImplementedError, match=pat):
            multimodal.decode_image(bytes(bad))
    prec12 = bytearray(d)
    prec12[i + 4] = 12
    with pytest.raises(NotImplementedError, match="12-bit"):
        multimodal.decode_image(bytes(prec12))
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_image(d[:len(d) // 2])
    with pytest.raises(ValueError, match="marker"):
        multimodal.decode_image(b"\xFF\xD8\x00\x01junk")
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg(b"GIF89a")
    with pytest.raises(ValueError, match="dimensions"):
        jpeg.encode_jpeg(0, 5, b"", gray=True)
    with pytest.raises(ValueError, match="pixel bytes"):
        jpeg.encode_jpeg(2, 2, b"short", gray=True)
    with pytest.raises(ValueError, match="quality"):
        jpeg.encode_jpeg(2, 2, bytes(12), quality=0)
    with pytest.raises(ValueError, match="subsampling"):
        jpeg.encode_jpeg(2, 2, bytes(12), subsampling="422")


def test_jpeg_feeds_image_operators(spark):
    """A block-constant JPEG flows through image_stats and image_phash
    identically to the same pixels as PPM — the decode normalization
    keeps every operator format-blind across a LOSSY codec too."""
    import hashlib

    import numpy as np

    from pypond_spark.datapipe import jpeg

    dig = hashlib.md5(b"jop").digest()
    img = np.repeat(np.repeat(
        np.frombuffer(dig, dtype=np.uint8).reshape(4, 4),
        8, axis=0), 8, axis=1)           # 32x32 gray
    rgb = np.stack([img] * 3, axis=-1).tobytes()
    ppm = b"P6\n32 32\n255\n" + rgb
    jpg = jpeg.encode_jpeg(32, 32, img.tobytes(), gray=True,
                           qtable=[1] * 64)
    media = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(jpg))],
        "media_id long, content binary")
    stats = {r["media_id"]: (r["width"], r["height"], r["mean_r"],
                             r["mean_g"], r["mean_b"])
             for r in multimodal.image_stats(media).collect()}
    assert stats[1] == stats[2]
    ph = {r["media_id"]: (r["ahash"], r["dhash"]) for r in
          multimodal.image_phash(media, grid_w=4, grid_h=4).collect()}
    assert ph[1] == ph[2]


def test_png_palette_16bit_feed_phash(spark):
    """The same pixels as palette PNG, 16-bit PNG, 8-bit PNG and PPM
    produce IDENTICAL image_stats and perceptual hashes — the decode
    normalization makes every operator format-blind."""
    import hashlib
    px = (b"".join(hashlib.md5(f"op{k}".encode()).digest()
                   for k in range(12)))[:192]   # 8x8 RGB
    ppm = b"P6\n8 8\n255\n" + px
    png8 = multimodal.encode_png(8, 8, px, filters=(0, 1, 2, 3, 4))
    pal = multimodal.encode_png_indexed(8, 8, bytes(range(64)), px,
                                        filters=(0, 1, 2, 3, 4))
    p16 = multimodal.encode_png16(8, 8, px, filters=(0, 1, 2, 3, 4))
    media = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(png8)),
         (3, bytearray(pal)), (4, bytearray(p16))],
        "media_id long, content binary")
    ph = {r["media_id"]: (r["ahash"], r["dhash"]) for r in
          multimodal.image_phash(media, grid_w=4, grid_h=4).collect()}
    assert ph[1] == ph[2] == ph[3] == ph[4]


def test_png_feeds_image_operators(spark):
    """A PNG-encoded image flows through image_stats and image_phash
    identically to the same pixels as PPM — the operators are
    format-blind."""
    import hashlib
    px = (b"".join(hashlib.md5(f"op{k}".encode()).digest()
                   for k in range(12)))[:192]   # 8x8 RGB
    ppm = b"P6\n8 8\n255\n" + px
    png = multimodal.encode_png(8, 8, px, filters=(0, 1, 2, 3, 4))
    media = spark.createDataFrame(
        [(1, bytearray(ppm)), (2, bytearray(png))],
        "media_id long, content binary")
    stats = {r["media_id"]: (r["width"], r["height"], r["mean_r"],
                             r["mean_g"], r["mean_b"])
             for r in multimodal.image_stats(media).collect()}
    assert stats[1] == stats[2]
    ph = {r["media_id"]: (r["ahash"], r["dhash"]) for r in
          multimodal.image_phash(media, grid_w=4, grid_h=4).collect()}
    assert ph[1] == ph[2]


def test_decode_wav():
    import struct
    samples = [0, 1000, -1000, 32767, -32768, 5]
    hdr = (b"RIFF" + struct.pack("<I", 36 + 12) + b"WAVE" + b"fmt "
           + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
           + b"data" + struct.pack("<I", 12))
    aud = multimodal.decode_audio(hdr + struct.pack("<6h", *samples))
    assert aud["samples"] == samples
    assert (aud["n_channels"], aud["sample_rate"], aud["n_samples"]) == \
        (1, 8000, 6)
    with pytest.raises(NotImplementedError):
        multimodal.decode_audio(b"not a wav at all")

    # r12: 8-bit unsigned (recentered), 24-bit and 32-bit signed PCM
    def wav(width, payload, n):
        return (b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
                + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                        8000 * width, width, 8 * width)
                + b"data" + struct.pack("<I", len(payload)) + payload)

    a8 = multimodal.decode_audio(wav(1, bytes([0, 128, 255]), 3))
    assert a8["samples"] == [-128, 0, 127]
    a32 = multimodal.decode_audio(
        wav(4, struct.pack("<3i", -2**31, 0, 2**31 - 1), 3))
    assert a32["samples"] == [-2**31, 0, 2**31 - 1]
    p24 = b"".join(v.to_bytes(3, "little", signed=True)
                   for v in (-8388608, -1, 8388607))
    a24 = multimodal.decode_audio(wav(3, p24, 3))
    assert a24["samples"] == [-8388608, -1, 8388607]


def test_image_audio_stats_distributed(spark):
    import math
    import struct
    ppm = b"P6\n2 2\n255\n" + bytes([10, 20, 30] * 4)
    media = spark.createDataFrame([(1, ppm)], "media_id long, content binary")
    row = multimodal.image_stats(media).collect()[0]
    assert (row["width"], row["height"]) == (2, 2)
    assert (row["mean_r"], row["mean_g"], row["mean_b"]) == (10.0, 20.0, 30.0)

    samples = [100, -200, 300, -400, 500, -600]
    hdr = (b"RIFF" + struct.pack("<I", 48) + b"WAVE" + b"fmt "
           + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
           + b"data" + struct.pack("<I", 12))
    wav = hdr + struct.pack("<6h", *samples)
    amedia = spark.createDataFrame([(2, wav)], "media_id long, content binary")
    arow = multimodal.audio_stats(amedia).collect()[0]
    assert arow["peak"] == 600
    assert arow["rms"] == pytest.approx(
        math.sqrt(sum(s * s for s in samples) / 6))

    # extract_features(fake=False) routes through the real decoders now
    feats = multimodal.extract_features(media, fake=False).collect()[0]
    assert feats["features"] == [2.0, 2.0, 10.0, 20.0, 30.0]


def test_image_phash_goldens(spark):
    """Hand-checkable 4x2 image, 2x2 grid (2x1-pixel cells): left half
    dark, right half bright -> aHash marks the two right cells, dHash
    marks the left-of-right-neighbor bits where left is darker (0)."""
    # pixels (gray = r+g+b): row0 [0, 0, 90, 90], row1 [0, 0, 90, 90]
    px = bytes([0, 0, 0] * 2 + [30, 30, 30] * 2) * 2
    ppm = b"P6\n4 2\n255\n" + px
    media = spark.createDataFrame([(1, ppm)],
                                  "media_id long, content binary")
    row = multimodal.image_phash(media, grid_w=2, grid_h=2).collect()[0]
    assert (row["width"], row["height"]) == (4, 2)
    # cells (y,x): (0,0)=0 (0,1)=180 (1,0)=0 (1,1)=180; mean > 0
    # aHash bits y*2+x: bits 1 and 3 -> 0b1010 = 10
    assert row["ahash"] == 10
    # dHash bits y*1+x (x=0 only): cell(y,0)=0 > cell(y,1)=180? no -> 0
    assert row["dhash"] == 0

    # brightness-shifted copy keeps the same dHash (gradient hash)
    px2 = bytes([20, 20, 20] * 2 + [50, 50, 50] * 2) * 2
    media2 = spark.createDataFrame(
        [(1, ppm), (2, b"P6\n4 2\n255\n" + px2)],
        "media_id long, content binary")
    rows = {r["media_id"]: r for r in
            multimodal.image_phash(media2, grid_w=2, grid_h=2).collect()}
    assert rows[1]["dhash"] == rows[2]["dhash"]

    with pytest.raises(ValueError, match="63"):
        multimodal.image_phash(media, grid_w=8, grid_h=8)
    with pytest.raises(Exception, match="exceeds image"):
        multimodal.image_phash(media, grid_w=5, grid_h=2).collect()


def test_image_near_dups_planted(spark):
    """A planted near-identical pair (one cell nudged) lands within the
    Hamming radius; an inverted image does not.  Chunk blocking must
    be recall-complete at radius <= n_chunks - 1."""
    def ppm(cells):  # 4x4 image from a 4x4 gray grid (1-px cells)
        b = bytes(v for row in cells for v in row for _ in range(3))
        return b"P6\n4 4\n255\n" + b
    base = [[0, 0, 200, 200]] * 2 + [[200, 200, 0, 0]] * 2
    nudge = [r[:] for r in base]
    nudge[0][0] = 30          # flips no aHash bit (still below mean)
    inverted = [[200 - 0 if v == 0 else 0 for v in r] for r in base]
    media = spark.createDataFrame(
        [(1, ppm(base)), (2, ppm(nudge)), (3, ppm(inverted))],
        "media_id long, content binary")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in multimodal.image_near_dups(
               media, grid_w=4, grid_h=4, max_hamming=2,
               use="ahash", n_chunks=4).collect()}
    assert (1, 2) in out and out[(1, 2)] <= 2
    assert (1, 3) not in out and (2, 3) not in out
    with pytest.raises(ValueError, match="chunks"):
        multimodal.image_near_dups(media, max_hamming=4, n_chunks=4)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame(
        [(1, "video", bytearray(b"xx"), ("mp4", None, None, 3500))],
        multimodal.MEDIA_SCHEMA)
    plan = multimodal.frame_sample_plan(df, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in plan] == [0, 1000, 2000]


def test_embedding_near_dups(spark, embs):
    # every LSH pair must appear in the exact pair set (subset property)
    exact = similarity.embedding_near_dups(embs.limit(200), threshold=0.8)
    exact_pairs = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    lsh = similarity.embedding_near_dups_lsh(embs.limit(200), dim=64,
                                             threshold=0.8, nbits=4)
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert lsh_pairs <= exact_pairs
    # an identical-vector clone must be found by BOTH at threshold ~1
    base = embs.limit(3)
    clone = base.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    both = base.union(clone)
    found = {(r["id_a"], r["id_b"])
             for r in similarity.embedding_near_dups(both, 0.999).collect()}
    for r in base.collect():
        assert (r["vec_id"], r["vec_id"] + 1_000_000) in found


def test_embedding_near_dups_arrow_matches_expr(spark, embs):
    # the numpy-matmul bucket variant must produce the identical pair set
    # and cosines (to float64 noise) as the expression self-join
    expr = similarity.embedding_near_dups_lsh(embs, dim=64, threshold=0.4,
                                              nbits=4)
    arrow = similarity.embedding_near_dups_arrow(embs, dim=64, threshold=0.4,
                                                 nbits=4)
    a = {(r["id_a"], r["id_b"]): r["cosine"] for r in expr.collect()}
    b = {(r["id_a"], r["id_b"]): r["cosine"] for r in arrow.collect()}
    assert set(a) == set(b) and len(a) > 0
    assert all(abs(a[k] - b[k]) < 1e-9 for k in a)


def test_dup_clusters_chain(spark):
    # chain a-b, b-c, plus isolated pair d-e -> components {a,b,c}, {d,e}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"]
           for r in dedup.dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dup_clusters_nonconvergence_guard(spark):
    # a 25-node chain has diameter 24; min-label propagation moves one hop
    # per round, so max_iter=3 cannot converge -> must raise, not silently
    # return split clusters
    pairs = spark.createDataFrame([(i, i + 1) for i in range(24)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(pairs, max_iter=3)
    # explicit opt-out returns the partial labels
    got = dedup.dup_clusters(pairs, max_iter=3, on_nonconverged="ignore")
    assert got.count() == 25
    # enough rounds -> single component labeled by the min id
    full = {r["id"]: r["cluster_id"]
            for r in dedup.dup_clusters(pairs, max_iter=30).collect()}
    assert set(full.values()) == {0}


@pytest.mark.parametrize("cap", [None, 0], ids=["driver", "distributed"])
def test_dup_clusters_rounds_contract_both_paths(spark, monkeypatch, cap):
    """The driver BFS and the distributed label propagation keep one
    max_iter contract. A 25-node chain (diameter 24) is one component
    labelled 0 after 25 rounds; max_iter=24 raises and 25 passes. A cap
    of 0 edges forces the distributed path."""
    if cap is not None:
        monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", cap)
    pairs = spark.createDataFrame([(i, i + 1) for i in range(24)],
                                  "id_a long, id_b long")
    stats = {}
    full = {r["id"]: r["cluster_id"] for r in
            dedup.dup_clusters(pairs, max_iter=30, stats=stats).collect()}
    assert full == {i: 0 for i in range(25)}
    assert stats["rounds"] == 25
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.dup_clusters(pairs, max_iter=24)
    assert dedup.dup_clusters(pairs, max_iter=25).count() == 25


def test_dup_clusters_messy_pairs_driver_matches_distributed(spark,
                                                            monkeypatch):
    """Duplicate, reversed, self-loop and NULL-id pairs: the driver BFS
    and the distributed propagation give the same labels and rounds. A
    pair naming a NULL id is no edge; a self-loop is a singleton."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (2, 3), (5, 5), (None, 7), (8, None),
         (9, 10), (10, 4)], "id_a long, id_b long")

    def run():
        stats = {}
        got = {r["id"]: r["cluster_id"]
               for r in dedup.dup_clusters(pairs, stats=stats).collect()}
        return got, stats["rounds"]

    driver = run()
    assert driver == ({1: 1, 2: 1, 3: 1, 5: 5, 4: 4, 9: 4, 10: 4}, 3)
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    assert run() == driver


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, read back from the status tracker."""
    import uuid
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_dedup_chain_job_budget(spark, docs, tmp_path):
    """Spark jobs of the three LSH calls on a small parquet-backed frame
    (build, then a noop write of the result) stay under pinned
    ceilings. On a flat index the probe's build runs no job but its
    one sketch checkpoint: no band-prefix collect, no schema
    inference."""
    path = str(tmp_path / "docs")
    docs.limit(80).select("doc_id", "text").write.parquet(path)
    corpus = spark.read.parquet(path)
    index = str(tmp_path / "idx")
    dedup.write_neardup_index(corpus.where(F.col("doc_id") % 2 == 0),
                              index, layout="flat")
    batch = corpus.where(F.col("doc_id") % 2 == 1)
    sketch = _jobs(spark, lambda: dedup._doc_sketch(
        batch, "text", "doc_id", 8, 3, True).localCheckpoint())
    assert _jobs(spark, lambda: dedup.dedup_against_neardup(
        batch, index, keep_scores=True, checkpoint=False)) == sketch
    pairs = dedup.lsh_candidate_pairs(corpus)
    calls = {"dedup": lambda: dedup.dedup_documents(corpus),
             "probe": lambda: dedup.dedup_against_neardup(batch, index),
             "estimate": lambda: dedup.minhash_jaccard_estimate(corpus,
                                                                pairs)}
    got = {}
    for name, build in calls.items():
        out = {}
        n_build = _jobs(spark, lambda: out.setdefault("df", build()))
        n_exec = _jobs(spark, lambda: out["df"].write.format("noop")
                       .mode("overwrite").save())
        got[name] = (n_build, n_exec)
    # the estimate is lazy: all its jobs run in the action
    assert got["estimate"][0] == 0, got
    # (build, action) measured on local[4] with 4 shuffle partitions:
    # dedup (7, 4), probe (5, 2), estimate (0, 7)
    ceilings = {"dedup": 11, "probe": 7, "estimate": 7}
    assert all(sum(got[k]) <= ceilings[k] for k in calls), got


def test_null_text_has_no_shingle_in_the_lsh_calls(spark, tmp_path):
    """NULL text has no shingle and empty text keeps its one '' shingle:
    a NULL doc is nobody's near-duplicate in dedup_documents,
    minhash_jaccard_estimate and dedup_against_neardup, while two empty
    (or all-whitespace) docs are each other's."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "  "), (4, None), (5, "a b c d e f")],
        "doc_id long, text string")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
            for r in dedup.dedup_documents(df).collect()}
    assert rows == {1: (1, True), 2: (2, True), 3: (2, False),
                    4: (4, True), 5: (5, True)}
    pairs = spark.createDataFrame([(1, 4), (2, 3), (1, 2)],
                                  "id_a long, id_b long")
    est = {(r["id_a"], r["id_b"]): (r["jaccard_est"], r["jaccard_exact"])
           for r in dedup.minhash_jaccard_estimate(df, pairs).collect()}
    assert est == {(2, 3): (1.0, 1.0)}
    index = str(tmp_path / "idx")
    dedup.write_neardup_index(df.where(F.col("doc_id").isin(2, 4)), index,
                              layout="flat")
    hits = dedup.dedup_against_neardup(
        df.where(F.col("doc_id").isin(1, 3)), index, keep_scores=True)
    assert {(r["doc_id_new"], r["doc_id_ref"]) for r in hits.collect()} \
        == {(3, 2)}


def test_dedup_documents_end_to_end(spark, docs):
    base = docs.limit(4).select("doc_id", "text")
    clone = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    out = dedup.dedup_documents(base.union(clone), jaccard_threshold=0.9)
    rows = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
            for r in out.collect()}
    for r in base.collect():
        i = r["doc_id"]
        assert rows[i] == (i, True)                      # original kept
        assert rows[i + 1_000_000] == (i, False)         # clone clustered


def test_dedup_documents_keeper_policies(spark, docs):
    """keeper='longest' keeps each cluster's longest member (tie -> min
    id); keeper='max_col' maximizes an arbitrary score column; singleton
    docs are always keepers; validation rejects unknown policies."""
    import pytest as _pt
    base = docs.limit(3).select("doc_id", "text")
    # clone with a longer variant (extra suffix keeps Jaccard high at
    # shingle level but makes the clone strictly longer)
    clone = base.withColumn("doc_id", F.col("doc_id") + 1_000_000) \
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra tail")))
    corpus = base.union(clone)
    out = dedup.dedup_documents(corpus, jaccard_threshold=0.8,
                                keeper="longest")
    rows = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
            for r in out.collect()}
    for r in base.collect():
        i = r["doc_id"]
        assert rows[i] == (i, False)                 # shorter original out
        assert rows[i + 1_000_000] == (i, True)      # longer clone kept

    # max_col: score favors the ORIGINAL half
    scored = corpus.withColumn(
        "score", F.when(F.col("doc_id") < 1_000_000, 10.0).otherwise(1.0))
    out2 = dedup.dedup_documents(scored, jaccard_threshold=0.8,
                                 keeper="max_col", keeper_col="score")
    rows2 = {r["doc_id"]: r["is_keeper"] for r in out2.collect()}
    for r in base.collect():
        assert rows2[r["doc_id"]] is True
        assert rows2[r["doc_id"] + 1_000_000] is False

    # exact-tie on the keeper score -> min id wins (determinism)
    tied = corpus.withColumn("score", F.lit(1.0))
    out3 = dedup.dedup_documents(tied, jaccard_threshold=0.8,
                                 keeper="max_col", keeper_col="score")
    rows3 = {r["doc_id"]: r["is_keeper"] for r in out3.collect()}
    for r in base.collect():
        assert rows3[r["doc_id"]] is True

    with _pt.raises(ValueError):
        dedup.dedup_documents(corpus, keeper="bogus")
    with _pt.raises(ValueError):
        dedup.dedup_documents(corpus, keeper="max_col")


def test_char_entropy(spark):
    """Hand-computed goldens: uniform 4-char doc = 2 bits, single-char
    doc = 0 bits, empty/NULL docs report 0.0, and 'aab' matches the
    closed form."""
    import math
    df = spark.createDataFrame(
        [(1, "abcd"), (2, "aaaa"), (3, "aab"), (4, ""), (5, None)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r["char_entropy"]
            for r in textstats.char_entropy(df).collect()}
    assert rows[1] == 2.0
    assert rows[2] == 0.0
    h_aab = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert abs(rows[3] - round(h_aab, 6)) < 1e-9
    assert rows[4] == 0.0
    assert rows[5] == 0.0


def test_gopher_quality_rules(spark):
    """Each Gopher rule trips on a purpose-built doc; the clean doc passes."""
    good = " ".join(["the", "quick", "brown", "fox", "jumps", "with",
                     "energy", "and", "clear", "purpose"] * 6)  # 60 words
    short = "the quick brown fox with energy"                   # 6 words
    numeric = " ".join(["12345"] * 60)                          # no alpha
    bullets = "\n".join(["- item one here today"] * 10)
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, numeric), (4, bullets)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            textstats.gopher_quality(df).collect()}
    assert rows[1]["n_words"] == 60
    assert rows[1]["gopher_pass"] is True
    assert rows[2]["n_words"] == 6 and rows[2]["gopher_pass"] is False
    assert rows[3]["alpha_word_frac"] == 0.0
    assert rows[3]["gopher_pass"] is False
    assert rows[4]["bullet_line_frac"] == 1.0
    assert rows[4]["gopher_pass"] is False
    # stopword rule: 60 alpha words but zero Gopher stopwords
    nostop = " ".join(["lorem", "dolor", "amet", "elit", "magna"] * 12)
    r = textstats.gopher_quality(
        spark.createDataFrame([(9, nostop)], "doc_id long, text string")
    ).collect()[0]
    assert r["stopword_hits"] == 0 and r["gopher_pass"] is False


def test_c4_stats_signals(spark):
    clean = ("This is a fine sentence. Here is another one! "
             "And a third one?\nA final line with many words here.")
    curly = "if (x) { return y; }. More text. Even more."
    lorem = "Lorem ipsum dolor sit amet. More. Text."
    js = "Please enable JavaScript to view this page. Thanks. Bye."
    df = spark.createDataFrame(
        [(1, clean), (2, curly), (3, lorem), (4, js)],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in textstats.c4_stats(df).collect()}
    assert rows[1]["n_sentences"] == 4 and rows[1]["n_lines"] == 2
    assert rows[1]["c4_pass"] is True
    assert rows[2]["has_curly"] is True and rows[2]["c4_pass"] is False
    assert rows[3]["has_lorem"] is True and rows[3]["c4_pass"] is False
    assert rows[4]["has_javascript"] is True and rows[4]["c4_pass"] is False
    # terminal_line_frac: both lines of doc 1 end in . or ?
    assert rows[1]["terminal_line_frac"] == 1.0


def test_repetition_stats_hand_computed(spark):
    # "a b a b a b": 2-grams = [ab, ba, ab, ba, ab] -> dup 1-2/5, top 3/5
    #                3-grams = [aba, bab, aba, bab] -> dup 0.5, top 0.5
    df = spark.createDataFrame(
        [(1, "a b a b a b"),
         (2, "all words here fully distinct tokens"),
         (3, "solo")],
        "doc_id long, text string")
    # tiny docs have high top-gram fractions by construction (1/4 > the
    # Gopher default 0.18), so loosen the top thresholds to isolate dup
    rows = {r["doc_id"]: r for r in
            textstats.repetition_stats(
                df, ns=(2, 3),
                max_top_frac={2: 0.5, 3: 0.5}).collect()}
    assert rows[1]["dup_2gram_frac"] == pytest.approx(1 - 2 / 5)
    assert rows[1]["top_2gram_frac"] == pytest.approx(3 / 5)
    assert rows[1]["dup_3gram_frac"] == pytest.approx(0.5)
    assert rows[1]["top_3gram_frac"] == pytest.approx(0.5)
    assert rows[1]["repetition_pass"] is False
    assert rows[2]["dup_2gram_frac"] == 0.0
    assert rows[2]["top_2gram_frac"] == pytest.approx(1 / 5)
    assert rows[2]["repetition_pass"] is True
    # 1-word doc: no grams at all (sequence guard), fractions are 0
    assert rows[3]["dup_2gram_frac"] == 0.0
    assert rows[3]["top_2gram_frac"] == 0.0
    assert rows[3]["repetition_pass"] is True


def test_decontaminate_planted_overlap(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "totally unrelated words appear in this document"),
         (2, "he said the quick brown fox jumps high today"),
         (3, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    grams = decontam.benchmark_grams(bench, n=3)
    out = {r["doc_id"]: r for r in
           decontam.decontaminate(docs, grams, n=3, min_hits=2).collect()}
    assert out[1]["contaminated_grams"] == 0
    assert out[1]["contaminated"] is False
    # doc2 shares exactly "the quick brown", "quick brown fox",
    # "brown fox jumps" with the benchmark
    assert out[2]["contaminated_grams"] == 3
    assert out[2]["contaminated"] is True
    # exact clone: all 7 of its 3-grams are benchmark grams
    assert out[3]["contaminated_grams"] == 7
    assert out[3]["contaminated"] is True


def test_decontaminate_normalize_flag(spark):
    """normalize=True (GPT-3 appendix-C convention) matches grams across
    case and punctuation; raw matching finds nothing against a perturbed
    benchmark — proving the flag is load-bearing, not cosmetic."""
    bench = spark.createDataFrame(
        [(100, "The, Quick, BROWN, Fox, Jumps!!!")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different text lives here today")],
        "doc_id long, text string")
    raw = {r["doc_id"]: r["contaminated_grams"] for r in
           decontam.decontaminate(
               docs, decontam.benchmark_grams(bench, n=3),
               n=3, min_hits=1).collect()}
    assert raw == {1: 0, 2: 0}
    norm = {r["doc_id"]: r for r in
            decontam.decontaminate(
                docs, decontam.benchmark_grams(bench, n=3, normalize=True),
                n=3, min_hits=1, normalize=True).collect()}
    # doc1 shares the quick/brown/fox/jumps run: 3 normalized 3-grams
    assert norm[1]["contaminated_grams"] == 3
    assert norm[1]["contaminated"] is True
    assert norm[2]["contaminated_grams"] == 0


def test_longest_match_goldens(spark):
    """Hand-checked seed-and-chain: a 5-token shared run found from
    2-gram seeds; a 3-token run beside a 2-token run picks the longer;
    no-overlap docs emit nothing; normalize flag recovers perturbed
    matches; min_tokens floors the output."""
    docs = spark.createDataFrame([
        (100, "x y z alpha beta gamma delta epsilon q r"),
        (101, "alpha beta q gamma delta epsilon"),
        (102, "nothing shared here at all"),
    ], "doc_id long, text string")
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")],
        "item_id long, text string")
    got = {(r["doc_id"], r["item_id"]):
           (r["match_tokens"], r["doc_pos"], r["item_pos"])
           for r in decontam.longest_match(docs, bench, k=2).collect()}
    assert got[(100, 1)] == (5, 3, 0)
    assert got[(101, 1)] == (3, 3, 2)
    assert (102, 1) not in got
    # min_tokens floors: only the 5-run survives
    flo = decontam.longest_match(docs, bench, k=2,
                                 min_tokens=4).collect()
    assert [(r["doc_id"], r["match_tokens"]) for r in flo] == [(100, 5)]
    # normalized matching recovers a perturbed quote
    pdocs = spark.createDataFrame(
        [(200, "he said ALPHA, Beta, GAMMA! delta epsilon indeed")],
        "doc_id long, text string")
    # raw matching sees only the unpunctuated "delta epsilon" tail...
    assert decontam.longest_match(pdocs, bench, k=2) \
        .first()["match_tokens"] == 2
    # ...normalization recovers the full 5-token quote
    nrm = decontam.longest_match(pdocs, bench, k=2,
                                 normalize=True).first()
    assert nrm["match_tokens"] == 5
    with pytest.raises(ValueError, match="noise floor"):
        decontam.longest_match(docs, bench, k=3, min_tokens=2)


def test_filter_corpus_reasons(spark):
    from pypond_spark.datapipe import corpus
    stop = ["the", "be", "to", "of", "and", "that", "have", "with"]
    # 60 words, every 2-gram unique: stopwords interleaved with fresh fillers
    good = " ".join(f"{stop[i % 8]} word{i:02d}" for i in range(30))
    repetitive = " ".join(
        "the cat sat with a big red hat and one more".split() * 6)
    docs = spark.createDataFrame(
        [(1, good),
         (2, good),            # exact duplicate of 1
         (3, "too short"),     # gopher min_words fail
         (4, repetitive)],     # gopher-clean but dup-2gram heavy
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in corpus.filter_corpus(
        docs, repetition={"max_dup_frac": {2: 0.2, 3: 0.2}}).collect()}
    assert out[1]["kept"] is True and out[1]["cull_reason"] is None
    assert out[2]["kept"] is False and out[2]["cull_reason"] == "duplicate"
    assert out[3]["cull_reason"] == "gopher"
    assert out[4]["gopher_pass"] is True
    assert out[4]["cull_reason"] == "repetition"
    # decontamination stage + precedence below duplicate
    bench = decontam.benchmark_grams(
        spark.createDataFrame([(99, good)], "doc_id long, text string"), n=3)
    out2 = {r["doc_id"]: r for r in corpus.filter_corpus(
        docs, repetition={"max_dup_frac": {2: 0.2, 3: 0.2}},
        bench_grams=bench, decontam_n=3).collect()}
    assert out2[1]["cull_reason"] == "contaminated"
    assert out2[2]["cull_reason"] == "duplicate"
    assert out2[3]["contaminated"] is False
    # pii stage: a PII doc is culled with reason 'pii' ranked above gopher
    piidocs = spark.createDataFrame(
        [(1, good), (5, good + " contact admin@example.com")],
        "doc_id long, text string")
    out3 = {r["doc_id"]: r for r in corpus.filter_corpus(
        piidocs, repetition=False, pii=True).collect()}
    assert out3[1]["kept"] is True and out3[1]["pii_pass"] is True
    assert out3[5]["kept"] is False and out3[5]["cull_reason"] == "pii"


def test_write_ann_index_partition_pruning(spark, embs, tmp_path):
    """The persisted bucket layout must (a) return the same top-k as the
    in-memory bucket probe and (b) prune partitions at the scan."""
    path = str(tmp_path / "ann_index")
    qvec = [float(v) for v in embs.orderBy("vec_id").first()["embedding"]]
    similarity.write_ann_index(embs, path, dim=64, nbits=4)
    mem = similarity.lsh_topk(embs, qvec, k=5, nbits=4).collect()
    idx = similarity.lsh_topk_indexed(spark, path, qvec, k=5, nbits=4)
    assert [(r["vec_id"], round(r["cosine"], 9)) for r in idx.collect()] \
        == [(r["vec_id"], round(r["cosine"], 9)) for r in mem]
    plan = idx._sc._jvm.PythonSQLUtils.explainString(
        idx._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "lsh_bucket" in pf  # the bucket filter reached the source


def test_dedup_against_neardup_index_pruning(spark, tmp_path):
    """Incremental near-dup dedup against a persisted band index must
    (a) drop a new doc that is a near-duplicate of an INDEXED corpus
    doc, keep novel docs, (b) prune the index scan to the new batch's
    band prefixes (PartitionFilters on band_pfx), and (c) agree with
    the recompute-everything band join over the union."""
    from pypond_spark.datapipe import dedup
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again every single day without fail in the morning")
    corpus = spark.createDataFrame(
        [(2, base), (4, "completely unrelated corpus text about spark "
                        "partitions and shuffle boundaries at scale")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base + " tonight"),   # near-dup of doc 2
         (3, "a totally novel document with fresh content nobody has "
             "ever indexed before in any crawl generation")],
        "doc_id long, text string")
    path = str(tmp_path / "nd_idx")
    dedup.write_neardup_index(corpus, path)
    kept = dedup.dedup_against_neardup(new, path, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]
    hits = dedup.dedup_against_neardup(new, path, threshold=0.5,
                                       keep_scores=True,
                                       checkpoint=False)
    rows = hits.collect()
    assert [(r["doc_id_new"], r["doc_id_ref"]) for r in rows] == [(1, 2)]
    assert 0.5 <= rows[0]["jaccard"] <= 1.0
    # (b) the index scan is partition-pruned on the band prefix
    plan = hits._sc._jvm.PythonSQLUtils.explainString(
        hits._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan
    import re
    pfs = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert any("band_pfx" in pf for pf in pfs)
    # (c) recompute-everything replay: same verified pair survives
    pairs = dedup.lsh_candidate_pairs(corpus.unionByName(new))
    jac = dedup.ngram_jaccard(corpus.unionByName(new), pairs)
    replay = {(r["id_a"], r["id_b"]) for r in
              jac.where(F.col("jaccard") >= 0.5).collect()}
    assert (1, 2) in replay


def test_neardup_index_max_candidates_cap(spark, tmp_path):
    """A mega-cluster band in the INDEX (many indexed copies of the
    same boilerplate) must not explode one batch doc into
    |cluster| verify pairs: max_candidates caps the per-doc candidate
    set deterministically, and the near-dup batch doc is STILL dropped
    (one confirmed hit suffices for dedup)."""
    from pypond_spark.datapipe import dedup
    boiler = ("identical boilerplate paragraph repeated across many "
              "indexed pages word for word every single time always")
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(2, 42, 2)],   # 20 indexed copies
        "doc_id long, text string")
    path = str(tmp_path / "mega_idx")
    dedup.write_neardup_index(corpus, path)
    batch = spark.createDataFrame(
        [(1, boiler + " extra"), (3, "an unrelated fresh document with "
                                     "completely different words here")],
        "doc_id long, text string")
    hits = dedup.dedup_against_neardup(batch, path, threshold=0.5,
                                       keep_scores=True,
                                       max_candidates=3)
    rows = hits.collect()
    # at most 3 verify pairs for the near-dup doc, all confirming
    assert 1 <= len(rows) <= 3
    assert {r["doc_id_new"] for r in rows} == {1}
    kept = dedup.dedup_against_neardup(batch, path, threshold=0.5,
                                       max_candidates=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]
    import pytest as _pt
    with _pt.raises(ValueError, match="max_candidates"):
        dedup.dedup_against_neardup(batch, path, max_candidates=0)


def test_neardup_index_append_generation(spark, tmp_path):
    """The full incremental-ingest loop: dedup a batch against the
    index, then APPEND the survivors' bands/shingles
    (write_neardup_index mode='append') so the NEXT batch dedups
    against generation N+1 — a re-sent copy of a survivor is caught
    without ever rebuilding the corpus side."""
    from pypond_spark.datapipe import dedup
    novel = ("a totally novel document with fresh content nobody has "
             "ever indexed before in any crawl generation")
    corpus = spark.createDataFrame(
        [(2, "completely unrelated corpus text about spark partitions "
             "and shuffle boundaries at scale")],
        "doc_id long, text string")
    path = str(tmp_path / "gen_idx")
    dedup.write_neardup_index(corpus, path)
    batch1 = spark.createDataFrame([(1, novel)],
                                   "doc_id long, text string")
    kept1 = dedup.dedup_against_neardup(batch1, path, threshold=0.5)
    assert [r["doc_id"] for r in kept1.collect()] == [1]
    # survivors join the index for the next generation
    dedup.write_neardup_index(kept1, path, mode="append")
    batch2 = spark.createDataFrame(
        [(3, novel + " resent"),    # near-dup of the batch-1 survivor
         (4, "yet another entirely distinct piece of text with its own "
             "unique vocabulary and phrasing")],
        "doc_id long, text string")
    kept2 = dedup.dedup_against_neardup(batch2, path, threshold=0.5)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [4]


def test_neardup_prefix_chars(spark, tmp_path):
    """prefix_chars widens the partition layout (16^k dirs) for
    small-batch pruning at mega-corpus scale: a k=3 index roundtrips
    identically to k=2, and a WIDTH MISMATCH raises instead of
    silently keeping every duplicate through an empty filter."""
    from pypond_spark.datapipe import dedup
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again every single day without fail in the morning")
    corpus = spark.createDataFrame([(2, base)],
                                   "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, base + " tonight"), (3, "a wholly different doc with its "
                                     "own fresh words all over")],
        "doc_id long, text string")
    path = str(tmp_path / "k3_idx")
    dedup.write_neardup_index(corpus, path, prefix_chars=3)
    kept = dedup.dedup_against_neardup(new, path, threshold=0.5,
                                       prefix_chars=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [3]
    import glob
    dirs = glob.glob(f"{path}/bands/band_pfx=*")
    assert dirs and all(
        len(d.rsplit("=", 1)[1]) == 4 for d in dirs)   # x + 3 hex
    with pytest.raises(ValueError, match="prefix_chars"):
        dedup.dedup_against_neardup(new, path, threshold=0.5)
    with pytest.raises(ValueError, match="prefix_chars"):
        dedup.write_neardup_index(corpus, path, prefix_chars=9)


def test_compact_neardup_index(spark, tmp_path):
    """N append generations multiply the per-prefix file count;
    compact_neardup_index rewrites each prefix to <= files_per_prefix
    files and the shingle table to the shuffle-partition count, with
    dedup results identical before and after the swap."""
    from pypond_spark.datapipe import dedup
    base = ("the quick brown fox jumps over the lazy dog again and "
            "again every single day without fail in the morning")
    path = str(tmp_path / "cmp_idx")
    corpus = spark.createDataFrame(
        [(2, base)], "doc_id long, text string")
    dedup.write_neardup_index(corpus, path)
    for g in range(5):   # five append generations
        gen = spark.createDataFrame(
            [(100 + g, f"generation {g} text with its own fresh and "
                       f"unique vocabulary number {g} repeated "
                       f"nowhere else at all")],
            "doc_id long, text string")
        dedup.write_neardup_index(gen, path, mode="append")
    # a re-append of the SAME corpus bands doubles those prefixes'
    # file counts — the degenerate form of what N generations do to
    # every hot prefix
    dedup.write_neardup_index(corpus, path, mode="append")
    import collections
    import glob

    def per_dir():
        return collections.Counter(
            f.rsplit("/", 1)[0]
            for f in glob.glob(f"{path}/bands/band_pfx=*/*.parquet"))
    assert max(per_dir().values()) >= 2      # generations piled up
    probe = spark.createDataFrame(
        [(1, base + " tonight"),
         (3, "a totally novel probe document no index generation has "
             "ever seen before anywhere")],
        "doc_id long, text string")
    before = sorted(r["doc_id"] for r in dedup.dedup_against_neardup(
        probe, path, threshold=0.5).collect())
    stats = dedup.compact_neardup_index(spark, path, files_per_prefix=1)
    assert stats["bands_files_after"] < stats["bands_files_before"]
    assert stats["shingles_files_after"] <= max(
        int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    # per-prefix bound: no directory holds more than files_per_prefix
    assert per_dir() and max(per_dir().values()) <= 1
    after = sorted(r["doc_id"] for r in dedup.dedup_against_neardup(
        probe, path, threshold=0.5).collect())
    assert after == before == [3]
    with pytest.raises(ValueError, match="files_per_prefix"):
        dedup.compact_neardup_index(spark, path, files_per_prefix=0)


def test_neardup_index_flat_layout(spark, tmp_path):
    """r14 optimization guard: layout='auto' picks the FLAT few-file
    layout below the size threshold (no band_pfx= directories, a
    _layout.json at the root), dedup results are identical to the
    partitioned layout, the prefix_chars mismatch guard still raises
    off the metadata, appends inherit the flat layout, and compaction
    rewrites it without inventing partition directories."""
    import glob
    import json

    from pypond_spark.datapipe import dedup
    base_txt = ("the quick brown fox jumps over the lazy dog again and "
                "again every single day without fail in the morning")
    # parquet-backed input: "auto" decides off the Catalyst size
    # estimate, which is real for file sources and Long.MaxValue
    # (-> conservative partitioned) for createDataFrame frames
    src = str(tmp_path / "corpus_src")
    spark.createDataFrame(
        [(2, base_txt), (4, "completely unrelated corpus text about "
                            "spark partitions and shuffle boundaries")],
        "doc_id long, text string").write.parquet(src)
    corpus = spark.read.parquet(src)
    new = spark.createDataFrame(
        [(1, base_txt + " tonight"),
         (3, "a totally novel document with fresh content nobody has "
             "ever indexed before in any crawl generation")],
        "doc_id long, text string")
    pp = str(tmp_path / "part_idx")
    fp = str(tmp_path / "flat_idx")
    dedup.write_neardup_index(corpus, pp)            # partitioned
    dedup.write_neardup_index(corpus, fp, layout="auto")   # tiny -> flat
    assert glob.glob(f"{pp}/bands/band_pfx=*")
    assert not glob.glob(f"{fp}/bands/band_pfx=*")
    meta = json.load(open(f"{fp}/{dedup._ND_META}"))
    assert meta["layout"] == "flat" and meta["prefix_chars"] == 2
    want = sorted(r["doc_id"] for r in dedup.dedup_against_neardup(
        new, pp, threshold=0.5).collect())
    got = sorted(r["doc_id"] for r in dedup.dedup_against_neardup(
        new, fp, threshold=0.5).collect())
    assert got == want == [3]
    # the metadata-backed width guard still protects the contract
    with pytest.raises(ValueError, match="prefix_chars"):
        dedup.dedup_against_neardup(new, fp, threshold=0.5,
                                    prefix_chars=3)
    with pytest.raises(ValueError, match="prefix_chars"):
        dedup.write_neardup_index(corpus, fp, mode="append",
                                  prefix_chars=3)
    # appends inherit the flat layout even when asked for partitioned
    kept = dedup.dedup_against_neardup(new, fp, threshold=0.5)
    dedup.write_neardup_index(kept, fp, mode="append")
    assert not glob.glob(f"{fp}/bands/band_pfx=*")
    resent = spark.createDataFrame(
        [(5, "a totally novel document with fresh content nobody has "
             "ever indexed before in any crawl generation resent")],
        "doc_id long, text string")
    assert [r["doc_id"] for r in dedup.dedup_against_neardup(
        resent, fp, threshold=0.5).collect()] == []
    stats = dedup.compact_neardup_index(spark, fp, files_per_prefix=1)
    assert stats["bands_files_after"] == 1
    assert not glob.glob(f"{fp}/bands/band_pfx=*")
    assert [r["doc_id"] for r in dedup.dedup_against_neardup(
        resent, fp, threshold=0.5).collect()] == []


def test_take_per_group(spark, docs):
    from pypond_spark.datapipe import sampling
    out = sampling.take_per_group(docs, k=3, group_col="source")
    counts = {r["source"]: r["count"] for r in
              out.groupBy("source").count().collect()}
    full = {r["source"]: r["count"] for r in
            docs.groupBy("source").count().collect()}
    assert set(counts) == set(full)
    for src, n in counts.items():
        assert n == min(3, full[src])
    # deterministic under repartitioning
    again = sampling.take_per_group(docs.repartition(7), k=3,
                                    group_col="source")
    assert sorted(r["doc_id"] for r in out.select("doc_id").collect()) \
        == sorted(r["doc_id"] for r in again.select("doc_id").collect())


def test_ngram_containment_subset(spark, docs):
    """A doc's prefix is fully contained in the doc (containment 1.0)
    while Jaccard for the same pair is well below 1."""
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != F.lit(""))
    base = docs.limit(3).select("doc_id", "text")
    trunc = base.select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                        F.concat_ws(" ", F.slice(toks, 1, 10)).alias("text"))
    both = base.union(trunc)
    pairs = base.select(F.col("doc_id").alias("id_a"),
                        (F.col("doc_id") + 1_000_000).alias("id_b"))
    cont = {(r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
            for r in dedup.ngram_containment(both, pairs).collect()}
    jac = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard(both, pairs).collect()}
    assert len(cont) == 3
    for k, (ca, cb) in cont.items():
        assert cb == 1.0          # prefix shingles all found in the full doc
        assert ca < 1.0           # full doc not contained in the prefix
        assert jac[k] < cb        # Jaccard under-scores the subset pair


def test_ngram_top_counts(spark):
    from pypond_spark.datapipe import textstats
    df = spark.createDataFrame(
        [(1, "the cat sat on the cat"),
         (2, "The cat sat down")], ["doc_id", "text"])
    rows = textstats.ngram_top(df, n=2, k=3).collect()
    got = [(r["gram"], r["n_gram"]) for r in rows]
    # "the cat" appears 3x (case-normalized); ties break gram-ascending
    assert got[0] == ("the cat", 3)
    assert got[1] == ("cat sat", 2)
    assert got[2][1] == 1


def test_label_centroids_means(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [3.0, 2.0], 0), (3, [5.0, 5.0], 1),
         (4, None, 1)],
        "vec_id long, embedding array<double>, label int")
    rows = similarity.label_centroids(df).collect()
    got = {(r["label"], r["dim"]): (r["centroid"], r["n"]) for r in rows}
    assert got == {(0, 0): (2.0, 2), (0, 1): (1.0, 2),
                   (1, 0): (5.0, 1), (1, 1): (5.0, 1)}


def test_nearest_centroid_argmax_and_ties(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0]),  # exact tie
         (4, None), (5, [0.0, 0.0])],                         # degenerate
        "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    got = {r["vec_id"]: r["pred_label"]
           for r in similarity.nearest_centroid(df, cents).collect()}
    assert got[1] == 0 and got[2] == 1
    assert got[3] == 0        # tie -> smallest label
    assert got[4] == 0        # NULL vector -> sentinel -> smallest label
    assert got[5] == 0        # zero vector likewise


def test_chunk_dedup_synthetic(spark):
    # doc 0: chunks A B; doc 1: chunk B (dup) + C; doc 2: only B -> vanishes
    A = " ".join(f"a{i}" for i in range(3))
    B = " ".join(f"b{i}" for i in range(3))
    C = " ".join(f"c{i}" for i in range(3))
    rows = [(0, A + " " + B), (1, B + " " + C), (2, B)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.chunk_dedup(df, chunk_words=3).collect()}
    assert out[0]["text_dedup"] == A + " " + B and out[0]["n_kept"] == 2
    assert out[1]["text_dedup"] == C and out[1]["n_kept"] == 1
    assert 2 not in out  # every chunk of doc 2 was seen earlier


def test_chunk_dedup_short_and_empty_docs(spark):
    # a short doc is one chunk; two empty docs collapse to one "" chunk
    rows = [(0, "x y"), (1, ""), (2, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           dedup.chunk_dedup(df, chunk_words=5).collect()}
    assert out[0]["text_dedup"] == "x y"
    assert out[1]["text_dedup"] == "" and out[1]["n_kept"] == 1
    assert 2 not in out  # second empty doc's "" chunk is a duplicate


def test_chunk_dedup_conserves_corpus(spark, docs):
    # chunk instances across the corpus = kept + dropped; every kept doc's
    # reassembled text is a subsequence of the original
    out = dedup.chunk_dedup(docs.limit(50), chunk_words=20)
    kept_docs = out.count()
    assert 0 < kept_docs <= 50


def test_dedup_against(spark):
    ref = spark.createDataFrame(
        [(0, "seen text"), (1, "other seen")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "seen text"), (11, "fresh text"), (12, "other seen")],
        "doc_id long, text string")
    out = dedup.dedup_against(new, ref).collect()
    assert [r["doc_id"] for r in out] == [11]


def test_semantic_dedup_drops_near_identical(spark):
    # 1 and 2 are (nearly) identical directions -> same cell, cos ~ 1;
    # 3 is orthogonal and survives
    rows = [(1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.001, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r["kept"] for r in
           similarity.semantic_dedup(
               df, n_cells=2, n_iters=1, threshold=0.95).collect()}
    assert out == {1: 1, 2: 0, 3: 1}


def test_semantic_dedup_bounded_pairs(spark, embs):
    out = similarity.semantic_dedup(embs, n_cells=8, n_iters=2,
                                    threshold=0.9, quantize=6)
    rows = out.collect()
    assert len(rows) == embs.count()          # one verdict per vector
    assert {r["kept"] for r in rows} <= {0, 1}
    assert len({r["cell"] for r in rows}) <= 8


def test_expectations(spark):
    from pypond_spark.datapipe import validate as V
    df = spark.createDataFrame(
        [(1, 5.0, "a"), (2, -1.0, "a"), (3, None, "b"), (3, 7.0, "zz")],
        "id long, v double, cat string")
    rep = {r["rule"]: (r["n_violations"], r["pass"])
           for r in V.expect(df, {
               "v_not_null": F.col("v").isNotNull(),
               "v_nonneg": F.col("v") >= 0,      # NULL counts as violation
               "known_cat": F.col("cat").isin("a", "b"),
           }).collect()}
    assert rep["v_not_null"] == (1, False)
    assert rep["v_nonneg"] == (2, False)         # -1 and the NULL row
    assert rep["known_cat"] == (1, False)
    uniq = V.expect_unique(df, "id").collect()[0]
    assert (uniq["n_violations"], uniq["pass"]) == (1, False)
    clean = V.expect(df.where("v = 5.0"),
                     {"v_nonneg": F.col("v") >= 0}).collect()[0]
    assert clean["pass"] is True
    import pytest as _pt
    with _pt.raises(ValueError):
        V.expect(df, {})


def test_semantic_dedup_dim_chain_parity(spark, embs):
    """The dim-unpacked codegen pair dot must reproduce the HOF fold's
    verdicts exactly (same left-fold order, round-to-6 before threshold)."""
    hof = similarity.semantic_dedup(embs, n_cells=8, n_iters=1,
                                    threshold=0.9, quantize=6)
    chain = similarity.semantic_dedup(embs, n_cells=8, n_iters=1,
                                      threshold=0.9, quantize=6, dim=64)
    a = {(r["vec_id"], r["cell"], r["kept"]) for r in hof.collect()}
    b = {(r["vec_id"], r["cell"], r["kept"]) for r in chain.collect()}
    assert a == b


def test_knn_join_round_to(spark, embs):
    queries = (embs.limit(2)
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_vec")))
    knn = similarity.knn_join(embs, queries, k=3, round_to=6).collect()
    assert len(knn) == 6
    for r in knn:
        # cosine is rounded BEFORE ranking: 6 decimals max
        assert r["cosine"] == round(r["cosine"], 6)
        if r["rank"] == 1:
            assert r["vec_id"] == r["q_id"]


def test_psi_identical_and_shifted(spark):
    from pypond_spark.datapipe.validate import psi
    # identical halves -> PSI ~ 0; shifted current -> clearly positive
    rows = ([(float(v % 10), False) for v in range(100)]
            + [(float(v % 10), True) for v in range(100)])
    df = spark.createDataFrame(rows, "value double, cur boolean")
    same = psi(df, "value", F.col("cur"), bin_width=2.0)
    total = same.agg(F.sum("contrib")).first()[0]
    assert abs(total) < 1e-9
    rows2 = ([(float(v % 10), False) for v in range(100)]
             + [(float(v % 10) + 6.0, True) for v in range(100)])
    df2 = spark.createDataFrame(rows2, "value double, cur boolean")
    shifted = psi(df2, "value", F.col("cur"), bin_width=2.0)
    total2 = shifted.agg(F.sum("contrib")).first()[0]
    assert total2 > 0.25
    # per-bin counts: smoothing keeps one-sided bins finite
    assert all(r["contrib"] is not None for r in shifted.collect())


def test_repeated_spans_and_strip(spark):
    shared = "the quick brown fox jumps over the lazy dog tonight"
    rows = [(1, "AAAA " + shared + " BBBB"),
            (2, "CCCCCC " + shared + " DD"),
            (3, "totally unrelated text with nothing shared here at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = dedup.repeated_spans(df, k=20).collect()
    by = {r["doc_id"]: r for r in spans}
    assert set(by) == {1, 2}
    # the maximal shared span includes BOTH surrounding spaces (" " +
    # shared + " " is common to the two docs): 53 chars starting one
    # char before `shared`
    assert by[1]["span_start"] == 4
    assert by[1]["span_end"] == 4 + len(shared) + 2
    assert by[2]["span_start"] == 6
    assert by[2]["span_end"] == 6 + len(shared) + 2
    # strip: removing the spans leaves the unique prefix/suffix
    spans_df = dedup.repeated_spans(df, k=20)
    out = {r["doc_id"]: (r["text_clean"], r["n_cut"]) for r in
           dedup.strip_spans(df, spans_df).collect()}
    assert out[1] == ("AAAABBBB", len(shared) + 2)
    assert out[2] == ("CCCCCCDD", len(shared) + 2)
    assert out[3][0].startswith("totally") and out[3][1] == 0


def test_repeated_spans_within_doc_repeat_not_flagged(spark):
    # the SAME doc repeating a substring is not a cross-doc duplicate
    rep = "x" * 40
    df = spark.createDataFrame(
        [(1, rep + " middle " + rep), (2, "nothing in common here ok!!")],
        "doc_id long, text string")
    assert dedup.repeated_spans(df, k=30).count() == 0


def test_pq_encode_roundtrip_and_self_rank(spark):
    """PQ codebooks match a numpy Lloyd fold (first 16 vectors by id as
    seeds, 6-dp rounded-distance argmin, quantize-6 means, an empty code
    keeps its previous centroid); every vector's codes match a
    pure-python left-fold argmin; the query vector's own row wins its
    ADC search; seeds smaller than n_codes raise."""
    import numpy as np
    import pytest as _pt
    from pypond_spark.datapipe import similarity as S
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = S.pq_build(df, n_blocks=8, n_codes=16, n_iters=2, dim=64,
                       quantize=6)
    assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
    rows = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in df.orderBy("vec_id").collect()}
    x = np.array([rows[vid] for vid in sorted(rows)])
    ref_books = [[list(v[b * 8:(b + 1) * 8]) for v in x[:16].tolist()]
                 for b in range(8)]
    for _ in range(2):
        new = [[list(c) for c in bk] for bk in ref_books]
        for b in range(8):
            xb = x[:, b * 8:(b + 1) * 8]
            cb = np.array(ref_books[b])
            d = ((xb[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            codes = np.argmin(np.round(d, 6), axis=1)
            for j in range(16):
                if (codes == j).any():
                    new[b][j] = [round(float(m), 6) + 0.0
                                 for m in xb[codes == j].mean(axis=0)]
        ref_books = new
    assert books == ref_books
    got = {r["vec_id"]: [r[f"code{b}"] for b in range(8)]
           for r in S.pq_encode(df, books).collect()}
    assert len(got) == len(rows)
    for vid, v in rows.items():
        ref = []
        for b in range(8):
            dists = []
            for c in books[b]:
                d = 0.0
                for i in range(8):
                    t = v[b * 8 + i] - c[i]
                    d = d + t * t
                dists.append(round(d, 6))
            ref.append(dists.index(min(dists)))
        assert got[vid] == ref, vid
    top = S.pq_topk(df, rows[0], books, k=3).collect()
    assert top[0]["vec_id"] == 0 and top[0]["rank"] == 1
    with _pt.raises(ValueError):
        S.pq_build(df.limit(5), n_codes=16, dim=64)
    with _pt.raises(ValueError):
        S.pq_build(df, n_blocks=7, dim=64)
    with _pt.raises(ValueError):
        S.pq_build(df, dim=None)


def test_pq_adc_approximates_exact_l2(spark):
    """ADC distance correlates with true L2: the exact nearest neighbor
    set and the PQ top-10 overlap substantially (recall sanity)."""
    import numpy as np
    from pypond_spark.datapipe import similarity as S
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = S.pq_build(df, n_blocks=8, n_codes=16, n_iters=2, dim=64)
    rows = df.orderBy("vec_id").collect()
    vecs = np.array([[float(x) for x in r["embedding"]] for r in rows])
    q = vecs[7]
    exact = np.argsort(((vecs - q) ** 2).sum(axis=1))[:10]
    exact_ids = {int(rows[i]["vec_id"]) for i in exact}
    got = {r["vec_id"] for r in S.pq_topk(df, list(q), books, k=10).collect()}
    assert len(got & exact_ids) >= 5  # PQ4x16-ish recall on 500 vectors


def test_ivfpq_full_probe_equals_pq(spark):
    """nprobe = n_cells makes the router a no-op: IVF-PQ == PQ exactly;
    a narrower probe returns a subset of the corpus, never new ids."""
    from pypond_spark.datapipe import similarity as S
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.ivf_build(df, n_cells=4, n_iters=1, quantize=6)
    books = S.pq_build(df, n_blocks=8, n_codes=16, n_iters=1, dim=64)
    q = [float(x) for x in
         df.where("vec_id = 7").first()["embedding"]]
    full = [(r["vec_id"], r["adc"]) for r in
            S.ivfpq_topk(df, q, cents, books, k=5, nprobe=4).collect()]
    plain = [(r["vec_id"], r["adc"]) for r in
             S.pq_topk(df, q, books, k=5).collect()]
    assert full == plain
    narrow = {r["vec_id"] for r in
              S.ivfpq_topk(df, q, cents, books, k=5, nprobe=1).collect()}
    all_ids = {r["vec_id"] for r in df.select("vec_id").collect()}
    assert narrow <= all_ids and len(narrow) == 5


def test_pq_encode_null_vector_and_string_ids(spark):
    """A NULL vector row is EMITTED with NULL codes (never dropped), and
    the id column keeps its input type: string ids get the same codes as
    the long ids they were cast from."""
    from pyspark.sql import functions as F
    from pypond_spark.datapipe import similarity as S
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = S.pq_build(df, n_blocks=8, n_codes=16, n_iters=2, dim=64)
    # inject one NULL-vector row and make ids strings to stress both fixes
    broken = df.limit(1).select(
        F.lit(100000).alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"))
    aug = df.select("vec_id", "embedding").unionByName(broken) \
        .withColumn("vec_id", F.col("vec_id").cast("string"))
    a = {r["vec_id"]: tuple(r[f"code{b}"] for b in range(8))
         for r in S.pq_encode(aug, books).collect()}
    b = {str(r["vec_id"]): tuple(r[f"code{b}"] for b in range(8))
         for r in S.pq_encode(df, books).collect()}
    assert len(a) == 501
    assert a.pop("100000") == (None,) * 8
    assert a == b


def test_ivfpq_indexed_prunes_and_matches(spark, tmp_path):
    """The persisted IVF-PQ index returns the SAME top-k as the in-memory
    composition, and the probe filter is partition pruning at the scan."""
    import re
    from pypond_spark.datapipe import similarity as S
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.ivf_build(df, n_cells=4, n_iters=1, quantize=6)
    books = S.pq_build(df, n_blocks=8, n_codes=16, n_iters=1, dim=64)
    path = str(tmp_path / "ivfpq")
    S.write_ivfpq_index(df, path, cents, books)
    q = [float(x) for x in df.where("vec_id = 7").first()["embedding"]]
    mem = [(r["rank"], r["vec_id"], r["adc"]) for r in
           S.ivfpq_topk(df, q, cents, books, k=5, nprobe=2).collect()]
    idx_df = S.ivfpq_topk_indexed(spark, path, q, cents, books,
                                  k=5, nprobe=2)
    idx = [(r["rank"], r["vec_id"], r["adc"]) for r in idx_df.collect()]
    assert idx == mem
    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell" in pf  # probe cells pruned at the source


def test_cluster_balanced_sample(spark):
    """Per-cell quotas: no cell exceeds k, small cells are kept whole,
    ranks are 1..n contiguous, selection is deterministic."""
    import pyspark.sql.functions as F

    from pypond_spark.datapipe.similarity import cluster_balanced_sample
    rows = [(i, [float((i * 7 + j) % 5) for j in range(8)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cluster_balanced_sample(df, k_per_cell=5, n_cells=4,
                                  quantize=6).toPandas()
    per = out.groupby("cell")["rank_in_cell"]
    assert (per.max() <= 5).all()
    for _, g in out.groupby("cell"):
        assert sorted(g["rank_in_cell"]) == list(range(1, len(g) + 1))
    again = cluster_balanced_sample(df, k_per_cell=5, n_cells=4,
                                    quantize=6).toPandas()
    assert sorted(out["vec_id"]) == sorted(again["vec_id"])
    # quotas flatten density: every populated cell contributes
    assert out["cell"].nunique() >= 2


def test_nb_quality_classifier_hand_computed(spark):
    import math
    train = spark.createDataFrame(
        [(1, "good good"), (2, "bad")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [(10, "good"), (11, "bad"), (12, "novel"), (13, "")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in textstats.nb_quality_classifier(
        train, corpus, F.col("doc_id") == 1).collect()}
    # train grams: pos {good:2, 'good good':1} (np=3), neg {bad:1} (nn=1)
    B, s = 4096, 1.0
    denp, denn = 3 + s * B, 1 + s * B
    micro = lambda x: round(x * 1e6) / 1e6  # noqa: E731
    exp_good = micro(math.log(3 / denp) - math.log(1 / denn))
    exp_bad = micro(math.log(1 / denp) - math.log(2 / denn))
    exp_novel = micro(math.log(s / denp) - math.log(s / denn))
    assert out[10]["log_odds"] == pytest.approx(exp_good, abs=1e-9)
    assert out[11]["log_odds"] == pytest.approx(exp_bad, abs=1e-9)
    assert out[12]["log_odds"] == pytest.approx(exp_novel, abs=1e-9)
    assert 13 not in out          # no grams -> no row
    assert out[10]["n_grams"] == 1
    # signs: target-like positive, off-class negative, unseen ~0
    assert out[10]["log_odds"] > 0 > out[11]["log_odds"]
    assert abs(out[12]["log_odds"]) < 0.01


def test_nb_quality_classifier_prior(spark):
    # 3 positive vs 1 negative doc, same text: log-odds = prior = ln(4/2)
    import math
    train = spark.createDataFrame(
        [(i, "same text here") for i in range(4)], ["doc_id", "text"])
    out = textstats.nb_quality_classifier(
        train, train.limit(1), F.col("doc_id") < 3).collect()
    prior = math.log((3 + 1.0) / (1 + 1.0))
    # per-gram llr: counts 3x vs 1x of every gram -> small positive
    assert out[0]["log_odds"] > prior - 0.01


def test_nb_quality_classifier_validates_classes(spark):
    train = spark.createDataFrame([(1, "x"), (2, "y")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="both classes"):
        textstats.nb_quality_classifier(train, train, F.lit(True))


def test_nb_quality_classifier_separates_sources(spark, docs):
    scored = textstats.nb_quality_classifier(
        docs, docs, F.col("source") == "src0")
    means = {r["pos"]: r["m"] for r in scored.join(
        docs.select("doc_id", (F.col("source") == "src0").alias("pos")),
        "doc_id").groupBy("pos").agg(F.avg("log_odds").alias("m")).collect()}
    assert means[True] > means[False]


def test_embedding_signs_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 0.0, -0.0]), (2, [-1.0, -1.0, -1.0, -1.0])],
        ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in
           similarity.embedding_signs(df, dim=4).collect()}
    # bits: v>=0 -> 1; 0.0 and -0.0 both count as >= 0
    assert out[1]["sk0"] == 0b1101
    assert out[2]["sk0"] == 0
    # dim > 32 spills into sk1: bit 32 is element 33
    wide = spark.createDataFrame(
        [(3, [-1.0] * 32 + [1.0, -1.0])], ["vec_id", "embedding"])
    r = similarity.embedding_signs(wide, dim=34).collect()[0]
    assert r["sk0"] == 0 and r["sk1"] == 1


def test_embedding_hamming_near_dups_blocked_complete(spark, embs):
    # blocked join must equal the brute-force all-pairs filter
    planted = embs.limit(30).select("vec_id", "embedding").unionByName(
        embs.limit(10).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.concat(F.array(-F.element_at("embedding", 1)),
                     F.slice("embedding", 2, 63)).alias("embedding")))
    got = {(r["id_a"], r["id_b"], r["hamming"]) for r in
           similarity.embedding_hamming_near_dups(
               planted, dim=64, max_hamming=3).collect()}
    sk = similarity.embedding_signs(planted, dim=64)
    a, b = sk.alias("a"), sk.alias("b")
    ham = (F.bit_count(F.col("a.sk0").bitwiseXOR(F.col("b.sk0")))
           + F.bit_count(F.col("a.sk1").bitwiseXOR(F.col("b.sk1"))))
    brute = {(r["id_a"], r["id_b"], r["hamming"]) for r in
             a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .where(ham <= 3)
             .select(F.col("a.vec_id").alias("id_a"),
                     F.col("b.vec_id").alias("id_b"),
                     ham.alias("hamming")).collect()}
    assert got == brute
    # every planted twin is found (negating one dim flips <= 1 bit)
    assert {(i, i + 1000) for i in range(10)} <= {(x, y) for x, y, _ in got}


def test_embedding_hamming_near_dups_validates_radius(spark, embs):
    with pytest.raises(ValueError, match="chunks"):
        similarity.embedding_hamming_near_dups(embs, dim=64, max_hamming=4)


def test_random_projection_hand_computed(spark):
    df = spark.createDataFrame([(1, [3.0, 5.0])], ["vec_id", "embedding"])
    signs = similarity.rademacher_signs(2, 1, seed=0)[0]
    out = similarity.random_projection(df, dim=2, out_dim=1).collect()[0]
    assert out["p00"] == signs[0] * 3.0 + signs[1] * 5.0  # /sqrt(1)
    # different seed -> different sign matrix somewhere in a 64x16 grid
    assert (similarity.rademacher_signs(64, 16, 0)
            != similarity.rademacher_signs(64, 16, 1))
    with pytest.raises(ValueError, match="positive"):
        similarity.random_projection(df, dim=0, out_dim=1)


def test_random_projection_matches_numpy_and_preserves_norms(spark, embs):
    import numpy as np
    sub = embs.orderBy("vec_id").limit(50)
    orig = np.array([r["embedding"] for r in sub.collect()], dtype=np.float64)
    proj = similarity.random_projection(sub, dim=64, out_dim=16)
    pcols = [f"p{j:02d}" for j in range(16)]
    pm = np.array([[r[c] for c in pcols]
                   for r in proj.orderBy("vec_id").collect()])
    # exact replay: same sign matrix, same scale (summation order differs,
    # so approx rather than ==)
    S = np.array(similarity.rademacher_signs(64, 16, 0), dtype=np.float64)
    expected = orig @ S.T / np.sqrt(16.0)
    assert np.allclose(pm, expected, atol=1e-9)
    # JL unbiasedness: E[||Pv||^2] = ||v||^2 — the per-vector ratio is
    # noisy at k=16, but its mean over 50 vectors is near 1 (fixed seed
    # -> deterministic golden)
    ratio = (pm ** 2).sum(axis=1) / (orig ** 2).sum(axis=1)
    assert 0.8 < float(ratio.mean()) < 1.2


def test_hard_negatives_exact_single_cell(spark):
    # n_cells=1 -> cell bound vanishes, mining is exact; hand-checkable
    # geometry: anchors on axes, label pairs forced
    rows = [
        (1, [1.0, 0.0], 0), (2, [0.9, 0.1], 0),     # label 0 cluster
        (3, [0.0, 1.0], 1), (4, [0.1, 0.9], 1),     # label 1 cluster
        (5, [1.0, 0.1], None),                      # NULL label: inert
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = similarity.hard_negatives(df, k=1, n_cells=1, n_iters=1)
    got = {r["anchor_id"]: (r["neg_id"], r["neg_rank"])
           for r in out.collect()}
    # for anchor 1 ([1,0]): other-label candidates are 3 ([0,1], cos 0)
    # and 4 ([.1,.9], cos ~0.110) -> 4 wins
    assert got[1] == (4, 1)
    assert got[2] == (4, 1)
    assert got[3] == (2, 1)
    assert got[4] == (2, 1)
    assert 5 not in got          # NULL label never anchors...
    assert not any(n == 5 for n, _ in got.values())   # ...nor serves


def test_hard_negatives_k_and_cell_bound(spark, embs):
    out = similarity.hard_negatives(embs, k=2, n_cells=4, quantize=6)
    per = out.groupBy("anchor_id").agg(F.count("*").alias("n"),
                                       F.max("neg_rank").alias("mr"))
    assert per.agg(F.max("n")).first()[0] <= 2
    assert per.agg(F.max("mr")).first()[0] <= 2
    # negatives really are other-label
    lab = embs.select("vec_id", "label")
    j = (out.join(lab.withColumnRenamed("vec_id", "anchor_id")
                  .withColumnRenamed("label", "la"), "anchor_id")
         .join(lab.withColumnRenamed("vec_id", "neg_id")
               .withColumnRenamed("label", "lb"), "neg_id"))
    assert j.where(F.col("la") == F.col("lb")).count() == 0


def test_oov_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "cat cat cat dog"), (2, "cat rare"), (3, "")],
        ["doc_id", "text"])
    # vocab at min_count=2: {cat}; dog/rare are OOV
    out = {r["doc_id"]: r for r in
           textstats.oov_stats(df, min_count=2).collect()}
    assert (out[1]["n_tokens"], out[1]["n_oov"]) == (4, 1)
    assert out[1]["oov_rate"] == 0.25
    assert (out[2]["n_tokens"], out[2]["n_oov"]) == (2, 1)
    assert 3 not in out          # no tokens -> no row
    with pytest.raises(ValueError, match="min_count"):
        textstats.oov_stats(df, min_count=0)


def test_cms_guarantees(spark, docs):
    from pypond_spark.datapipe import sketch
    audit = sketch.cms_audit(docs, width=8, depth=3).collect()
    assert audit
    # one-sided error: the sketch never undercounts
    assert all(r["overestimate"] >= 0 for r in audit)
    assert all(r["cms_est"] >= r["exact"] for r in audit)
    # width 8 on a ~30-token vocab MUST collide somewhere
    assert any(r["overestimate"] > 0 for r in audit)
    # wide sketch: no collisions, estimates exact
    wide = sketch.cms_audit(docs, width=4096, depth=3).collect()
    assert all(r["overestimate"] == 0 for r in wide)
    # sketch is mergeable: sum of two half-corpus sketches == full sketch
    h1 = docs.where(F.col("doc_id") % 2 == 0)
    h2 = docs.where(F.col("doc_id") % 2 == 1)
    full = {(r["row"], r["bucket"]): r["cnt"] for r in
            sketch.cms_token_counts(docs, width=8, depth=3).collect()}
    merged = (sketch.cms_token_counts(h1, width=8, depth=3)
              .unionByName(sketch.cms_token_counts(h2, width=8, depth=3))
              .groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt")))
    assert {(r["row"], r["bucket"]): r["cnt"]
            for r in merged.collect()} == full
    with pytest.raises(ValueError, match="width"):
        sketch.cms_token_counts(docs, width=0)


def test_bloom_filter_guarantees(spark, docs):
    from pypond_spark.datapipe import sketch
    keyed = docs.select("doc_id", F.md5("text").alias("digest"))
    seen = keyed.where(F.col("doc_id") % 2 == 0)
    other = keyed.where(F.col("doc_id") % 2 == 1)
    bloom = sketch.bloom_build(seen, m_bits=256, k=3)
    # state bounded by m_bits/32 words, every word a valid uint32 image
    rows = bloom.collect()
    assert len(rows) <= 256 // 32
    assert all(0 <= r["word"] < 256 // 32 and 0 <= r["bits"] < (1 << 32)
               for r in rows)
    # no false negatives: every inserted key probes maybe_seen
    self_check = sketch.bloom_check(bloom, seen, m_bits=256, k=3).collect()
    assert self_check and all(r["maybe_seen"] for r in self_check)
    # a roomy filter rejects (nearly all of) the disjoint half
    wide = sketch.bloom_build(seen, m_bits=65536, k=3)
    miss = sketch.bloom_check(wide, other, m_bits=65536, k=3).collect()
    assert sum(r["maybe_seen"] for r in miss) < len(miss) * 0.05
    # mergeable: bit_or of two half filters == filter over the union
    b1 = sketch.bloom_build(seen, m_bits=256, k=3)
    b2 = sketch.bloom_build(other, m_bits=256, k=3)
    merged = (b1.unionByName(b2).groupBy("word")
              .agg(F.bit_or("bits").alias("bits")))
    full = sketch.bloom_build(keyed, m_bits=256, k=3)
    assert ({(r["word"], r["bits"]) for r in merged.collect()}
            == {(r["word"], r["bits"]) for r in full.collect()})
    with pytest.raises(ValueError, match="m_bits"):
        sketch.bloom_build(seen, m_bits=100)
    with pytest.raises(ValueError, match="m_bits"):
        sketch.bloom_check(bloom, seen, k=0)


def test_hll_guarantees(spark, docs):
    from pypond_spark.datapipe import sketch
    keyed = docs.select("doc_id", F.md5("text").alias("digest"))
    exact = keyed.select("digest").distinct().count()
    regs = sketch.hll_registers(keyed, "digest", m=64)
    est = sketch.hll_estimate(regs, m=64).collect()[0]["hll_est"]
    # 1.04/sqrt(64) = 13% std error; 3 sigma
    assert abs(est - exact) / exact < 0.40
    # linear-counting branch: a tiny set estimates near-exactly
    tiny = keyed.limit(5)
    est5 = sketch.hll_estimate(
        sketch.hll_registers(tiny, "digest", m=64), m=64).collect()
    assert abs(est5[0]["hll_est"] - 5) <= 2
    # mergeable: element-wise MAX of half-corpus registers == union regs
    h1 = keyed.where(F.col("doc_id") % 2 == 0)
    h2 = keyed.where(F.col("doc_id") % 2 == 1)
    merged = (sketch.hll_registers(h1, "digest", m=64)
              .unionByName(sketch.hll_registers(h2, "digest", m=64))
              .groupBy("idx").agg(F.max("reg").alias("reg")))
    full = sketch.hll_registers(keyed, "digest", m=64)
    assert ({(r["idx"], r["reg"]) for r in merged.collect()}
            == {(r["idx"], r["reg"]) for r in full.collect()})
    # audit wrapper: grouped + global shapes, rel_err consistent
    aud = sketch.hll_audit(keyed, "digest", m=64).collect()[0]
    assert aud["exact_distinct"] == exact and aud["hll_est"] == est
    with pytest.raises(ValueError, match="m must be"):
        sketch.hll_registers(keyed, "digest", m=63)


def test_editdist_pairs(spark):
    from pypond_spark.datapipe import dedup
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely unrelated text body")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["id_a", "id_b"])
    out = {(r["id_a"], r["id_b"]): r for r in
           dedup.editdist_pairs(df, pairs=pairs, min_sim=0.9).collect()}
    # one 3-char substitution over 43 chars
    assert out[(1, 2)]["edit_dist"] == 3
    assert abs(out[(1, 2)]["edit_sim"] - (1 - 3 / 43)) < 1e-6
    assert out[(1, 2)]["is_dup"] is True
    assert out[(1, 3)]["is_dup"] is False
    # default path: LSH candidates feed the DP (clone must surface)
    twin = df.union(spark.createDataFrame(
        [(4, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"]))
    via_lsh = dedup.editdist_pairs(twin, min_sim=0.95,
                                   num_hashes=8, band_size=4).collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 4 and r["edit_dist"] == 0
               and r["is_dup"] for r in via_lsh)


def test_heavy_hitters_exact(spark, docs):
    from pypond_spark.datapipe import textstats
    # two-pass result == exact full-vocabulary answer
    hh = {r["token"]: r["cnt"]
          for r in textstats.heavy_hitters(docs, phi_inv=64).collect()}
    toks = (docs.select(F.explode(F.filter(
        textstats._match_tokens("text"),
        lambda t: t != F.lit(""))).alias("t")))
    total = toks.count()
    exact = {r["t"]: r["c"] for r in
             toks.groupBy("t").agg(F.count("*").alias("c")).collect()
             if r["c"] * 64 >= total}
    assert hh == exact and hh
    # skewed frame with a tiny capacity still finds the heavy token
    # (one-sided completeness survives the decrement passes)
    rows = [(i, "heavy " * 50) for i in range(50)] + \
           [(100 + i, f"rare{i} only once") for i in range(40)]
    sk = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)
    out = textstats.heavy_hitters(sk, phi_inv=2, capacity=2)
    got = {r["token"] for r in out.collect()}
    assert got == {"heavy"}
    with pytest.raises(ValueError, match="capacity"):
        textstats.heavy_hitters(docs, phi_inv=64, capacity=10)


def test_ivf_knn_join_recall(spark, embs):
    from pypond_spark.datapipe import similarity as S
    cents = S.ivf_build(embs, n_cells=8, n_iters=2, quantize=6)
    qs = embs.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = {(r["q_id"], r["vec_id"], r["rank"]) for r in
             S.knn_join(embs, qs, k=5, round_to=6).collect()}
    # probing every cell IS exact kNN — identical ranks included
    full = {(r["q_id"], r["vec_id"], r["rank"]) for r in
            S.ivf_knn_join(embs, qs, cents, k=5, nprobe=len(cents),
                           round_to=6).collect()}
    assert full == exact
    # nprobe=2 returns exactly k rows per query with valid rank range,
    # and each query's own vector is its rank-1 hit (self cell probed)
    ap = S.ivf_knn_join(embs, qs, cents, k=5, nprobe=2,
                        round_to=6).collect()
    per_q = {}
    for r in ap:
        per_q.setdefault(r["q_id"], []).append(r)
    assert set(per_q) == {0, 1, 2, 3}
    for q, rows in per_q.items():
        assert len(rows) == 5
        assert sorted(r["rank"] for r in rows) == [1, 2, 3, 4, 5]
        top = min(rows, key=lambda r: r["rank"])
        assert top["vec_id"] == q and top["cosine"] == 1.0


def test_preprocess_corpus_composition(spark, docs):
    from pypond_spark.datapipe import corpus as C
    from pypond_spark.datapipe import decontam as dc
    from pypond_spark.datapipe import dedup as dd
    from pypond_spark.datapipe import textstats as tx
    bench = docs.where(F.col("doc_id") < 25)
    body = docs.where(F.col("doc_id") >= 25)
    out = {r["doc_id"]: r for r in
           C.preprocess_corpus(body, bench).collect()}
    assert len(out) == body.count()
    # flags agree with the standalone component operators
    lang = {r["doc_id"]: r["lang_pred"] == "en"
            for r in tx.language_id(body).collect()}
    qual = {r["doc_id"]: r["gopher_pass"]
            for r in tx.gopher_quality(body).collect()}
    near = {r["doc_id"]: r["is_keeper"]
            for r in dd.dedup_documents(body).collect()}
    cont = {r["doc_id"]: r["contaminated"] for r in dc.decontaminate(
        body, dc.benchmark_grams(bench, n=3), n=3, min_hits=3).collect()}
    for i, r in out.items():
        assert r["lang_ok"] == lang[i]
        assert r["quality_ok"] == qual[i]
        assert r["near_keeper"] == near[i]
        assert r["contaminated"] == cont[i]
        assert r["kept"] == (r["lang_ok"] and r["quality_ok"]
                             and r["exact_keeper"] and r["near_keeper"]
                             and not r["contaminated"])
    # the funnel actually filters (docs survive AND docs drop)
    kept = sum(r["kept"] for r in out.values())
    assert 0 < kept < len(out)

    # extract_html=True: the funnel scores CONTENT, not page chrome —
    # a doc whose prose is wrapped in link-heavy boilerplate gets the
    # same flags as its bare-text twin
    wrapped = body.withColumn("text", F.concat(
        F.lit('<nav><a href="/">Home</a> <a href="/a">About</a>'
              '<a href="/c">More</a></nav><p>'),
        F.col("text"),
        F.lit('</p><footer><a href="/p">Privacy</a> | '
              '<a href="/t">Terms</a></footer>')))
    out_w = {r["doc_id"]: r for r in C.preprocess_corpus(
        wrapped, bench, extract_html=True).collect()}
    # compare on docs whose own prose passes the block-evidence rules
    # (a tag-free doc is one block); low-evidence docs are legitimately
    # emptied by extraction — that is the operator working
    content_ids = {r["doc_id"] for r in tx.html_blocks(body).collect()
                   if r["label"] == "content"}
    assert len(content_ids) > len(out) * 0.8
    for i in content_ids:
        assert out_w[i]["lang_ok"] == out[i]["lang_ok"], i
        assert out_w[i]["quality_ok"] == out[i]["quality_ok"], i


def test_winnow_fingerprints(spark, docs):
    from pypond_spark.datapipe import textstats as tx
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"),
         (2, "x y z a b c d e f q")],      # shares the run "a b c d e f"
        ["doc_id", "text"])
    out = tx.winnow_fingerprints(df, k=3, window=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    # the winnowing guarantee: a shared run of k+w-1 = 6 tokens MUST
    # yield at least one common selected fingerprint
    assert by_doc[1] & by_doc[2]
    # every selected pos is a valid gram start and fps dedupe per doc
    for r in out:
        assert 0 <= r["pos"] <= 7
    # density ~ 2/(w+1): far fewer selections than grams on real docs
    n_sel = tx.winnow_fingerprints(docs, k=3, window=4).count()
    toks = docs.select(F.size(F.filter(
        F.split(F.trim("text"), r"\s+"),
        lambda t: t != F.lit(""))).alias("n"))
    n_grams = toks.agg(F.sum(F.greatest(F.col("n") - 2,
                                        F.lit(0)))).collect()[0][0]
    assert n_sel < 0.6 * n_grams
    # short doc (fewer grams than the window) still fingerprints
    short = spark.createDataFrame([(9, "p q r s")], ["doc_id", "text"])
    srows = tx.winnow_fingerprints(short, k=3, window=4).collect()
    assert len(srows) == 1 and srows[0]["pos"] == 0
    with pytest.raises(ValueError, match="window"):
        tx.winnow_fingerprints(df, k=3, window=0)


def test_winnow_overlap(spark):
    from pypond_spark.datapipe import textstats as tx
    df = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten"),
         (2, "zz one two three four five six seven eight qq"),
         (3, "completely different words in this entry here now")],
        ["doc_id", "text"])
    out = tx.winnow_overlap(df, k=3, window=4, min_shared=1).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in out}
    # the 8-token shared run must pair docs 1 and 2...
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["shared"] >= 1
    assert 0 < pairs[(1, 2)]["containment"] <= 1.0
    # ...and doc 3 shares no 3-gram with anything
    assert all(3 not in p for p in pairs)
    with pytest.raises(ValueError, match="min_shared"):
        tx.winnow_overlap(df, min_shared=0)


def test_rouge_pairs(spark):
    from pypond_spark.datapipe import textstats
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "the cat sat on the rug"),
         (3, "zz yy xx ww"),
         (4, "One!")],
        ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)],
                                  ["id_a", "id_b"])
    out = {(r["id_a"], r["id_b"]): r for r in
           textstats.rouge_pairs(df, pairs=pairs, n=2).collect()}
    # doc1 bigrams: {the cat, cat sat, sat on, on the, the mat};
    # doc2 shares the first four of five -> R=P=4/5, F1=4/5
    assert out[(1, 2)]["overlap"] == 4
    assert abs(out[(1, 2)]["rouge2_recall"] - 0.8) < 1e-9
    assert abs(out[(1, 2)]["rouge2_precision"] - 0.8) < 1e-9
    assert abs(out[(1, 2)]["rouge2_f1"] - 0.8) < 1e-9
    # disjoint pair scores 0 (left join + coalesce, no dropped row)
    assert out[(1, 3)]["overlap"] == 0
    assert out[(1, 3)]["rouge2_f1"] == 0.0
    # '<n tokens' doc has an empty gram multiset -> all zeros, not NULL
    assert out[(1, 4)]["overlap"] == 0
    assert out[(1, 4)]["rouge2_recall"] == 0.0
    # clipping: repeated gram counts min(c_a, c_b), not c_a*c_b
    rep = spark.createDataFrame(
        [(1, "ha ha ha ha"), (2, "ha ha x")], ["doc_id", "text"])
    p2 = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    r = textstats.rouge_pairs(rep, pairs=p2, n=2).collect()[0]
    # a: {ha ha: 3}, b: {ha ha: 1, ha x: 1} -> overlap 1, R=1/3, P=1/2
    assert r["overlap"] == 1
    assert abs(r["rouge2_recall"] - 1 / 3) < 1e-6
    assert abs(r["rouge2_precision"] - 0.5) < 1e-9
    # default path: LSH candidates feed the scorer (clone must surface)
    twin = df.union(spark.createDataFrame(
        [(5, "the cat sat on the mat")], ["doc_id", "text"]))
    via = textstats.rouge_pairs(twin, n=2,
                                num_hashes=8, band_size=4).collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 5
               and r["rouge2_f1"] == 1.0 for r in via)
    with pytest.raises(ValueError, match="n must be"):
        textstats.rouge_pairs(df, pairs=pairs, n=0)


def test_pca_project(spark):
    import math
    from pypond_spark.datapipe import similarity as sim
    # planted dominant axis: strong spread along e1, weak along e2,
    # deterministic "noise" from a hash-ish recurrence (no RNG)
    rows = []
    for k in range(120):
        a = ((k * 37) % 120 - 60) / 10.0        # var ~ 12
        b = ((k * 53) % 40 - 20) / 40.0         # var ~ 0.08
        c = ((k * 11) % 7 - 3) / 100.0
        rows.append((k, [a + c, b - c, c, 2 * c]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding",
                    F.col("embedding").cast("array<float>"))
    mu, comps, lams, n = sim.pca_fit(df, dim=4, n_components=2)
    assert n == 120
    # PC1 hugs the planted axis; eigenvalues ranked; components unit+orthogonal
    assert abs(comps[0][0]) > 0.99
    assert lams[0] > lams[1] > 0
    assert abs(sum(x * x for x in comps[0]) - 1.0) < 1e-9
    assert abs(sum(a * b for a, b in zip(*comps))) < 1e-6
    # sign pin: the max-|.| coordinate is positive in both components
    for v in comps:
        assert v[max(range(4), key=lambda i: abs(v[i]))] > 0
    # projection equals the driver-side dot product per vector
    out = {r["vec_id"]: (r["pc1"], r["pc2"])
           for r in sim.pca_project(df, dim=4, n_components=2).collect()}
    assert len(out) == 120
    import numpy as np
    for k in (0, 7, 119):
        # values round-trip through the frame's float32 storage
        x = [round(float(np.float32(v)), 6) for v in [
            ((k * 37) % 120 - 60) / 10.0 + ((k * 11) % 7 - 3) / 100.0,
            ((k * 53) % 40 - 20) / 40.0 - ((k * 11) % 7 - 3) / 100.0,
            ((k * 11) % 7 - 3) / 100.0, 2 * ((k * 11) % 7 - 3) / 100.0]]
        for c in range(2):
            want = sum((x[i] - mu[i]) * comps[c][i] for i in range(4))
            assert abs(out[k][c] - want) < 1e-5, (k, c, out[k][c], want)
    # variance captured by pc1 ~ lam1
    import statistics
    var1 = statistics.pvariance([out[k][0] for k in range(120)])
    assert abs(var1 - lams[0]) < 1e-3 * max(1.0, lams[0])
    # mixed-dim rows are filtered, not crashed
    mixed = df.union(spark.createDataFrame(
        [(999, [1.0, 2.0])], ["vec_id", "embedding"])
        .withColumn("embedding", F.col("embedding").cast("array<float>")))
    assert sim.pca_project(mixed, dim=4).count() == 120
    with pytest.raises(ValueError, match="n_components"):
        sim.pca_fit(df, dim=4, n_components=0)
    with pytest.raises(ValueError, match="iters"):
        sim.pca_fit(df, dim=4, iters=0)


def test_mutual_information(spark):
    import math
    from pypond_spark.datapipe.validate import mutual_information
    # perfect dependence: MI == H(X) == H(Y) == ln 2, NMI == 1
    dep = spark.createDataFrame([("a", 1)] * 10 + [("b", 2)] * 10,
                                ["x", "y"])
    r = mutual_information(dep, "x", "y").first()
    ln2 = round(math.log(2), 6)
    assert (r["n"], r["cells"]) == (20, 2)
    assert r["mi_nats"] == ln2 and r["h_x"] == ln2 and r["h_y"] == ln2
    assert r["nmi"] == 1.0
    # independence: MI == 0 (and no -0.0 artifacts)
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in (1, 2) for _ in range(5)],
        ["x", "y"])
    r2 = mutual_information(ind, "x", "y").first()
    assert r2["mi_nats"] == 0.0 and r2["nmi"] == 0.0
    # partial dependence: hand-computed contingency 2x2 (6,2 / 2,6)
    part = spark.createDataFrame(
        [("a", 1)] * 6 + [("a", 2)] * 2 + [("b", 1)] * 2 + [("b", 2)] * 6,
        ["x", "y"])
    r3 = mutual_information(part, "x", "y").first()
    want = sum((c / 16) * math.log(16 * c / (8 * 8))
               for c in (6, 2, 2, 6))
    assert abs(r3["mi_nats"] - want) < 1e-6
    assert 0 < r3["nmi"] < 1
    # NULLs in either column are excluded from the table
    withnull = dep.union(spark.createDataFrame(
        [("a", None), (None, 1)], ["x", "y"]))
    r4 = mutual_information(withnull, "x", "y").first()
    assert r4["n"] == 20 and r4["mi_nats"] == ln2
    # Column expressions accepted
    r5 = mutual_information(dep, F.upper("x"), F.col("y") * 2).first()
    assert r5["mi_nats"] == ln2


def test_chi_squared(spark):
    from pypond_spark.datapipe.validate import chi_squared
    # perfect dependence on a 2x2: chi2 == n, V == 1
    dep = spark.createDataFrame([("a", 1)] * 10 + [("b", 2)] * 10,
                                ["x", "y"])
    r = chi_squared(dep, "x", "y").first()
    assert (r["n"], r["cells"], r["dof"]) == (20, 2, 1)
    assert r["chi2"] == 20.0 and r["cramers_v"] == 1.0
    # independence: 0
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in (1, 2) for _ in range(5)],
        ["x", "y"])
    r2 = chi_squared(ind, "x", "y").first()
    assert r2["chi2"] == 0.0 and r2["cramers_v"] == 0.0
    # hand-computed 2x2 (6,2 / 2,6): chi2 = 16*(6*6-2*2)^2/(8*8*8*8) = 4
    part = spark.createDataFrame(
        [("a", 1)] * 6 + [("a", 2)] * 2 + [("b", 1)] * 2 + [("b", 2)] * 6,
        ["x", "y"])
    r3 = chi_squared(part, "x", "y").first()
    assert abs(r3["chi2"] - 4.0) < 1e-6
    assert abs(r3["cramers_v"] - 0.5) < 1e-6
    # zero-observed cell still contributes its expectation:
    # scipy-checkable 2x2 with a structural zero (10,0 / 5,5)
    z = spark.createDataFrame(
        [("a", 1)] * 10 + [("b", 1)] * 5 + [("b", 2)] * 5, ["x", "y"])
    r4 = chi_squared(z, "x", "y").first()
    # expected: e(a,2) = 10*5/20 = 2.5; chi2 = sum = 20*(10*5-0*5)^2/(10*10*15*5)
    want = 20 * (10 * 5 - 0 * 5) ** 2 / (10 * 10 * 15 * 5)
    assert abs(r4["chi2"] - want) < 1e-6 and r4["cells"] == 3


def test_isotonic_calibration(spark):
    from pypond_spark.datapipe.validate import isotonic_calibration

    # already-monotone rates pass through unchanged
    mono = spark.createDataFrame(
        [(float(b), 1.0 if i < b else 0.0)
         for b in range(4) for i in range(4)],
        "score double, target double")
    out = isotonic_calibration(mono, "score", "target", bins=4) \
        .orderBy("bin").collect()
    assert [r["bin"] for r in out] == [0, 1, 2, 3]
    assert [r["rate_raw"] for r in out] == [0.0, 0.25, 0.5, 0.75]
    assert [r["rate_iso"] for r in out] == [0.0, 0.25, 0.5, 0.75]
    assert all(r["n"] == 4 for r in out)

    # a violator pair is pooled to the pair mean (classic PAV):
    # raw rates 0.0, 0.75, 0.25, 1.0 -> iso 0.0, 0.5, 0.5, 1.0
    viol_rates = [0, 3, 1, 4]
    viol = spark.createDataFrame(
        [(float(b), 1.0 if i < viol_rates[b] else 0.0)
         for b in range(4) for i in range(4)],
        "score double, target double")
    out2 = isotonic_calibration(viol, "score", "target", bins=4) \
        .orderBy("bin").collect()
    assert [r["rate_raw"] for r in out2] == [0.0, 0.75, 0.25, 1.0]
    assert [r["rate_iso"] for r in out2] == [0.0, 0.5, 0.5, 1.0]
    # iso is monotone non-decreasing by construction
    isos = [r["rate_iso"] for r in out2]
    assert isos == sorted(isos)

    # everything-decreasing pools to the global mean
    dec = spark.createDataFrame(
        [(float(b), 1.0 if i < (3 - b) else 0.0)
         for b in range(4) for i in range(4)],
        "score double, target double")
    out3 = isotonic_calibration(dec, "score", "target", bins=4) \
        .orderBy("bin").collect()
    assert [r["rate_iso"] for r in out3] == [0.375] * 4
    # score extents per bin are reported
    assert out3[0]["score_lo"] == 0.0 and out3[3]["score_hi"] == 3.0


def test_audio_fingerprint_goldens(spark):
    """Hand-checked energy-delta fingerprint: frame energies
    (1,4,1,9) -> bits (e1>e0)=1, (e2>e1)=0, (e3>e2)=1 -> 0b101 = 5;
    uniform gain scaling leaves the fingerprint unchanged; partial
    trailing frames drop; validation."""
    import struct as _s
    def wav(samples):
        hdr = (b"RIFF" + _s.pack("<I", 36 + 2 * len(samples)) + b"WAVE"
               + b"fmt " + _s.pack("<IHHIIHH", 16, 1, 1, 8000, 16000,
                                   2, 16)
               + b"data" + _s.pack("<I", 2 * len(samples)))
        return hdr + _s.pack(f"<{len(samples)}h", *samples)
    # frames of 2: energies 1+0=1, 0+4=4, 1+0=1, 4+5=... pick simple
    s = [1, 0, 0, 2, 1, 0, 3, 0, 7]          # 9 samples: last drops
    media = spark.createDataFrame(
        [(1, wav(s)), (2, wav([v * 3 for v in s]))],
        "media_id long, content binary")
    rows = {r["media_id"]: r for r in
            multimodal.audio_fingerprint(media, frame_size=2,
                                         max_frames=8).collect()}
    assert rows[1]["n_frames"] == 4
    assert rows[1]["fingerprint"] == 0b101
    # gain x3 scales every energy by 9 -> identical comparisons
    assert rows[2]["fingerprint"] == rows[1]["fingerprint"]
    with pytest.raises(ValueError, match="frame_size"):
        multimodal.audio_fingerprint(media, frame_size=0)
    with pytest.raises(ValueError, match="max_frames"):
        multimodal.audio_fingerprint(media, max_frames=65)


def test_audio_near_dups_planted(spark):
    """A nudged copy (one sample tweaked without flipping any energy
    comparison) stays at Hamming 0; an energy-inverted clip is
    excluded at radius 2."""
    import struct as _s
    def wav(samples):
        hdr = (b"RIFF" + _s.pack("<I", 36 + 2 * len(samples)) + b"WAVE"
               + b"fmt " + _s.pack("<IHHIIHH", 16, 1, 1, 8000, 16000,
                                   2, 16)
               + b"data" + _s.pack("<I", 2 * len(samples)))
        return hdr + _s.pack(f"<{len(samples)}h", *samples)
    base = [0, 1, 5, 5, 0, 1, 6, 6, 0, 0, 7, 7, 1, 0, 8, 8]
    nudge = base[:]
    nudge[2] = 4                      # frame energy drops but order holds
    inverted = [8, 8, 0, 1, 7, 7, 0, 0, 6, 6, 0, 1, 5, 5, 0, 0]
    media = spark.createDataFrame(
        [(1, wav(base)), (2, wav(nudge)), (3, wav(inverted))],
        "media_id long, content binary")
    out = {(r["id_a"], r["id_b"]): r["hamming"] for r in
           multimodal.audio_near_dups(media, frame_size=2, max_frames=8,
                                      max_hamming=2, n_chunks=4)
           .collect()}
    assert out.get((1, 2)) == 0
    assert (1, 3) not in out


def test_calibrate_scores_step_function(spark):
    from pypond_spark.datapipe.validate import (calibrate_scores,
                                                isotonic_calibration)
    # deterministic rates per integer score level: 0.0/0.25/0.5/0.75
    mono = spark.createDataFrame(
        [(b * 4 + i, float(b), 1.0 if i < b else 0.0)
         for b in range(4) for i in range(4)],
        "id long, score double, target double")
    fit = isotonic_calibration(mono, "score", "target", bins=4)
    out = {r["score"]: r["rate_calibrated"] for r in
           calibrate_scores(mono.select("id", "score"), fit,
                            "score").collect()}
    assert out == {0.0: 0.0, 1.0: 0.25, 2.0: 0.5, 3.0: 0.75}
    # unseen scores: step holds right-continuously; out-of-range clamps
    probes = spark.createDataFrame(
        [(90, -7.0), (91, 1.5), (92, 99.0)], "id long, score double")
    got = {r["id"]: r["rate_calibrated"] for r in
           calibrate_scores(probes, fit, "score").collect()}
    assert got == {90: 0.0, 91: 0.25, 92: 0.75}
    # calibrated output is monotone in score by construction
    rates = [v for _, v in sorted(out.items())]
    assert rates == sorted(rates)


def test_quantize_int8_goldens(spark):
    from pypond_spark.datapipe.similarity import quantize_int8
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5, 2.0]), (2, [0.0, 0.0, 0.0, 0.0]),
         (3, [1.0, 2.0, 3.0])],                       # wrong dim: dropped
        "vec_id long, embedding array<double>")
    out = {r["vec_id"]: (r["absmax"], r["codes"])
           for r in quantize_int8(df, 4).collect()}
    # absmax 2.0; codes floor(v*63.5 + 0.5): 64, -127, 32, 127
    assert out[1] == (2.0, "64,-127,32,127")
    # all-zero vector: zero codes, no division
    assert out[2] == (0.0, "0,0,0,0")
    assert 3 not in out
    # dequant error bound: |v - c*am/127| <= am/254 on every component
    am, codes = out[1]
    vs = [1.0, -2.0, 0.5, 2.0]
    for v, c in zip(vs, map(int, codes.split(","))):
        assert abs(v - c * am / 127) <= am / 254 + 1e-12
    with pytest.raises(ValueError, match="dim"):
        quantize_int8(df, 0)


def test_ngram_novelty(spark):
    from pypond_spark.datapipe.textstats import ngram_novelty
    df = spark.createDataFrame([
        (1, "a b c d"),        # both 3-grams first-seen here
        (2, "a b c d"),        # exact copy: zero novelty
        (3, "a b c x y z"),    # 1 of 4 grams previously seen
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty"])
           for r in ngram_novelty(df).collect()}
    assert out[1] == (2, 2, 1.0)
    assert out[2] == (2, 0, 0.0)
    assert out[3] == (4, 3, 0.75)
    # repartitioning cannot change first-occurrence (min id is order-free)
    out2 = {r["doc_id"]: r["novelty"]
            for r in ngram_novelty(df.repartition(7)).collect()}
    assert out2 == {k: v[2] for k, v in out.items()}
    with pytest.raises(ValueError, match="n must"):
        ngram_novelty(df, n=0)


def test_script_stats(spark):
    from pypond_spark.datapipe.textstats import script_stats
    df = spark.createDataFrame([
        (1, "hello world 42"),
        (2, "привет мир"),
        (3, "漢字 kanji mix"),
        (4, "!!! ..."),
    ], "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in script_stats(df).collect()}
    assert (out[1]["n_latin"], out[1]["n_digit"],
            out[1]["n_other"]) == (10, 2, 0)
    assert out[2]["n_cyrillic"] == 9 and out[2]["cyrillic_ratio"] == 1.0
    assert out[3]["n_cjk"] == 2 and out[3]["n_latin"] == 8
    # pure punctuation: everything lands in other, ratios zero
    assert out[4]["n_other"] == 6 and out[4]["latin_ratio"] == 0.0
    # class counts always partition the non-whitespace total
    for r in out.values():
        assert (r["n_latin"] + r["n_digit"] + r["n_cyrillic"]
                + r["n_cjk"] + r["n_other"]) == r["n_chars"]


def test_blocklist_stats(spark):
    from pypond_spark.datapipe.textstats import blocklist_stats
    df = spark.createDataFrame([
        (1, "CLICK HERE to buy now, click here again"),
        (2, "clean prose about nothing in particular"),
        (3, "clickhere is one word so no boundary match"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_hits"], r["n_phrases_hit"], r["flagged"])
           for r in blocklist_stats(df, ["click here", "buy now"])
           .collect()}
    # case-insensitive, multiple hits counted, phrase distinctness
    assert out[1] == (3, 2, True)
    assert out[2] == (0, 0, False)
    # \b boundaries: 'clickhere' does not match 'click here'
    assert out[3] == (0, 0, False)
    # regex metacharacters in phrases are literal
    m = blocklist_stats(
        spark.createDataFrame([(9, "price is $9.99 (sale)")],
                              "doc_id long, text string"),
        ["9.99"]).first()
    assert m["n_hits"] == 1
    with pytest.raises(ValueError, match="phrase"):
        blocklist_stats(df, [])


def test_blocklist_stats_nonword_edge_phrases(spark):
    """Phrases whose edges are NOT word characters ('c++', '$100',
    'free!') must still match: \\b needs a word char on the inside of
    the boundary, so an unconditional anchor would make these silently
    never match.  Anchors are emitted only on word-char edges."""
    from pypond_spark.datapipe.textstats import blocklist_stats
    df = spark.createDataFrame([
        (1, "we write c++ here and won $100 -- free! stuff"),
        (2, "cc++x embeds the token mid-word only"),
        (3, "freely spending $1000 is not free"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["n_hits"], r["n_phrases_hit"]) for r in
           blocklist_stats(df, ["c++", "$100", "free!"]).collect()}
    assert out[1] == (3, 3)
    # leading anchor on 'c' still requires a word boundary before it,
    # so 'cc++x' does NOT start a match ('c' preceded by word char 'c')
    assert out[2] == (0, 0)
    # '$100' has a word-char tail -> trailing \b blocks '$1000';
    # 'free!' tail is non-word so no trailing anchor, but 'freely'
    # lacks the '!' so neither matches
    assert out[3] == (0, 0)


def test_calibrate_scores_nongroupable_columns(spark):
    """calibrate_scores must keep every input column even when one is
    non-groupable (MapType): the fan-out is undone per distinct
    quantized score, never by grouping on the full row."""
    from pypond_spark.datapipe.validate import (calibrate_scores,
                                                isotonic_calibration)
    mono = spark.createDataFrame(
        [(b * 4 + i, float(b), 1.0 if i < b else 0.0)
         for b in range(4) for i in range(4)],
        "id long, score double, target double")
    fit = isotonic_calibration(mono, "score", "target", bins=4)
    withmap = mono.withColumn(
        "attrs", F.create_map(F.lit("k"), F.col("id").cast("string")))
    out = calibrate_scores(withmap, fit, "score").collect()
    assert len(out) == 16
    got = {r["id"]: (r["score"], r["attrs"]["k"], r["rate_calibrated"])
           for r in out}
    for b in range(4):
        for i in range(4):
            rid = b * 4 + i
            assert got[rid] == (float(b), str(rid), b * 0.25)
    # NULL scores clamp to the bin-0 rate (left-join + bin-0 arm)
    nulls = spark.createDataFrame([(99, None)], "id long, score double")
    r = calibrate_scores(nulls, fit, "score").first()
    assert r["rate_calibrated"] == 0.0


def test_bmp_roundtrip_and_errors():
    """encode_bmp -> decode_image reproduces the RGB bytes exactly
    (BMP is lossless): bottom-up and top-down orientations, widths
    that do and don't need row padding; unsupported variants raise
    NotImplementedError, structural corruption ValueError."""
    import hashlib
    import struct

    from pypond_spark.datapipe import bmp

    for w, h in ((8, 8), (5, 3), (1, 1), (3, 7)):
        px = (b"".join(hashlib.md5(f"bmp{w}x{h}~{k}".encode()).digest()
                       for k in range(1 + (w * h * 3) // 16)))[:w * h * 3]
        for top_down in (False, True):
            content = bmp.encode_bmp(w, h, px, top_down=top_down)
            img = multimodal.decode_image(content)
            assert (img["format"], img["width"], img["height"],
                    img["maxval"]) == ("bmp", w, h, 255)
            assert img["pixels"] == px, (w, h, top_down)

    # 8-bpp palette decode: entries stored BGRA, want RGB (10,20,30)
    # and (200,100,0)
    pal = bytes([30, 20, 10, 255]) + bytes([0, 100, 200, 255])
    head = struct.pack("<2sIHHI", b"BM", 0, 0, 0, 14 + 40 + 8)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 8, 0, 4, 0, 0, 2, 0)
    content = head + info + pal + bytes([0, 1, 0, 0])  # padded row
    img = multimodal.decode_image(content)
    assert img["pixels"] == bytes([10, 20, 30, 200, 100, 0])

    good = bmp.encode_bmp(2, 2, bytes(12))
    with pytest.raises(ValueError, match="magic"):
        bmp.decode_bmp(b"XX" + good[2:])
    with pytest.raises(ValueError, match="truncated"):
        bmp.decode_bmp(good[:-3])
    with pytest.raises(ValueError, match="RLE8 requires"):
        corrupt = bytearray(good)
        corrupt[30] = 1  # BI_RLE8 on a 24-bpp file is malformed
        bmp.decode_bmp(bytes(corrupt))
    with pytest.raises(ValueError, match="BITFIELDS requires"):
        corrupt = bytearray(good)
        corrupt[30] = 3  # BI_BITFIELDS on 24-bpp is malformed
        bmp.decode_bmp(bytes(corrupt))
    with pytest.raises(NotImplementedError, match="compression"):
        corrupt = bytearray(good)
        corrupt[30] = 4  # BI_JPEG stays a capability gap
        bmp.decode_bmp(bytes(corrupt))
    with pytest.raises(NotImplementedError, match="bpp"):
        corrupt = bytearray(good)
        corrupt[28] = 2  # 2-bpp is not a DIB depth
        bmp.decode_bmp(bytes(corrupt))
    # OS/2 BITMAPCOREHEADER decodes since r12 (u16 dims, RGB-triple
    # palette, bottom-up); only non-12/<40 header sizes remain a gap
    import numpy as np
    pxc = np.arange(18, dtype=np.uint8).reshape(2, 3, 3)
    rows = np.zeros((2, 12), np.uint8)
    for y in range(2):
        rows[y, :9] = pxc[1 - y, :, ::-1].reshape(9)
    core = struct.pack("<IHHHH", 12, 3, 2, 1, 24)
    headc = struct.pack("<2sIHHI", b"BM", 0, 0, 0, 14 + 12)
    outc = bmp.decode_bmp(headc + core + rows.tobytes())
    assert np.array_equal(
        np.frombuffer(outc["pixels"], np.uint8).reshape(2, 3, 3), pxc)
    palc = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90])  # BGR triples
    core4c = struct.pack("<IHHHH", 12, 3, 1, 1, 4)
    head4c = struct.pack("<2sIHHI", b"BM", 0, 0, 0, 14 + 12 + 9)
    out4c = bmp.decode_bmp(head4c + core4c + palc
                           + bytes([0x12, 0x10, 0, 0]))
    assert list(out4c["pixels"]) == [60, 50, 40, 90, 80, 70,
                                     60, 50, 40]
    with pytest.raises(ValueError, match="1/4/8/24"):
        bmp.decode_bmp(headc + struct.pack("<IHHHH", 12, 3, 2, 1, 16)
                       + rows.tobytes())
    with pytest.raises(NotImplementedError, match="header size 16"):
        bmp.decode_bmp(headc + struct.pack("<IHHHH", 16, 3, 2, 1, 24)
                       + rows.tobytes())
    with pytest.raises(ValueError, match="RGB bytes"):
        bmp.encode_bmp(2, 2, bytes(5))
    with pytest.raises(ValueError, match=">= 1"):
        bmp.encode_bmp(0, 2, b"")


def test_png_adam7_interlace():
    """Adam7 (r12): decode(interlaced) == decode(sequential) == source
    pixels for every size class (single-pass-degenerate 1x1 up to
    multi-pass 33x17) and filter mix; hand-built interlaced palette
    and gray streams decode exactly too (the pass geometry is color-
    type independent)."""
    import hashlib
    import struct as _s
    import zlib as _z

    import numpy as np

    for w, h in [(1, 1), (2, 3), (7, 5), (8, 8), (13, 9), (33, 17)]:
        n = w * h * 3
        px = (b"".join(hashlib.md5(f"a7{w}x{h}~{k}".encode()).digest()
                       for k in range(n // 16 + 1)))[:n]
        for filters in [(0,), (0, 1, 2, 3, 4)]:
            il = multimodal.encode_png(w, h, px, filters=filters,
                                       interlace=True)
            img = multimodal.decode_image(il)
            assert img["pixels"] == px, (w, h, filters)
            # really interlaced: IHDR byte 12 (after w/h/depth/color/
            # comp/filter) is 1
            ihdr_off = il.index(b"IHDR") + 4
            assert il[ihdr_off + 12] == 1

    # hand-built Adam7 palette depth-4 stream (sub-byte packing per
    # PASS width, not image width)
    W, H, depth = 9, 6, 4
    plte = bytes(range(13 * 3))
    idx = [[(x + y) % 13 for x in range(W)] for y in range(H)]
    adam7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
             (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    raw = bytearray()
    for x0, y0, dx, dy in adam7:
        pw = max(0, (W - x0 + dx - 1) // dx)
        ph = max(0, (H - y0 + dy - 1) // dy)
        for i in range(ph if pw else 0):
            y = y0 + i * dy
            line = bytearray((pw * depth + 7) // 8)
            for j in range(pw):
                v = idx[y][x0 + j * dx]
                line[j // 2] |= v << (4 if j % 2 == 0 else 0)
            raw += b"\x00" + bytes(line)

    def chunk(t, d):
        return (_s.pack(">I", len(d)) + t + d
                + _s.pack(">I", _z.crc32(t + d) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", _s.pack(">IIBBBBB", W, H, depth, 3, 0, 0, 1))
           + chunk(b"PLTE", plte)
           + chunk(b"IDAT", _z.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    out = multimodal.decode_image(png)
    got = np.frombuffer(out["pixels"], np.uint8).reshape(H, W, 3)
    pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
    assert (got == pal[np.array(idx)]).all()


def test_bmp_rle_and_extended_depths():
    """r12 BMP extensions: RLE8 encode->decode roundtrip is lossless;
    hand-built RLE8 streams exercise absolute mode (word padding),
    delta (skipped pixels -> palette 0) and early end-of-bitmap; RLE4
    alternates nibbles; uncompressed 1/4/32-bpp decode exactly."""
    import struct

    import numpy as np

    from pypond_spark.datapipe import bmp

    rng = np.random.default_rng(9)
    W, H = 19, 7
    idx = np.repeat(rng.integers(0, 5, size=(H, 5), dtype=np.uint8),
                    4, axis=1)[:, :W]
    pal = rng.integers(0, 256, size=5 * 3, dtype=np.uint8).tobytes()
    out = multimodal.decode_image(
        bmp.encode_bmp_rle8(W, H, idx.tobytes(), pal))
    palarr = np.frombuffer(pal, np.uint8).reshape(5, 3)
    got = np.frombuffer(out["pixels"], np.uint8).reshape(H, W, 3)
    assert (out["format"], out["width"], out["height"]) == ("bmp", W, H)
    assert (got == palarr[idx]).all()

    # hand-built escapes: run, absolute(3)+pad, EOL, delta, run, EOB
    pal2 = bytes([10, 20, 30, 0, 40, 50, 60, 0, 70, 80, 90, 0])
    rle = (bytes([3, 1, 0, 3, 2, 0, 2]) + b"\x00"
           + bytes([0, 0, 0, 2, 1, 1, 2, 2, 0, 1]))
    hdr = struct.pack("<2sIHHI", b"BM", 0, 0, 0, 14 + 40 + 12)
    info = struct.pack("<IiiHHIIiiII", 40, 6, 3, 1, 8, 1, len(rle),
                       0, 0, 3, 0)
    g = np.frombuffer(bmp.decode_bmp(hdr + info + pal2 + rle)["pixels"],
                      np.uint8).reshape(3, 6, 3)
    palr = np.array([[30, 20, 10], [60, 50, 40], [90, 80, 70]], np.uint8)
    exp = np.array([[0, 2, 2, 0, 0, 0], [0, 0, 0, 0, 0, 0],
                    [1, 1, 1, 2, 0, 2]])
    assert (g == palr[exp]).all()

    # RLE4: run alternates high/low nibbles
    rle4 = bytes([5, 0x12, 0, 0, 0, 1])
    info4 = struct.pack("<IiiHHIIiiII", 40, 5, 1, 1, 4, 2, len(rle4),
                        0, 0, 3, 0)
    g4 = np.frombuffer(
        bmp.decode_bmp(hdr + info4 + pal2 + rle4)["pixels"],
        np.uint8).reshape(1, 5, 3)
    assert (g4 == palr[np.array([[1, 2, 1, 2, 1]])]).all()

    # uncompressed 4-bpp (nibbles) and 1-bpp (MSB-first bits)
    info4u = struct.pack("<IiiHHIIiiII", 40, 3, 1, 1, 4, 0, 0, 0, 0,
                         3, 0)
    g4u = np.frombuffer(
        bmp.decode_bmp(hdr + info4u + pal2
                       + bytes([0x12, 0x10, 0, 0]))["pixels"],
        np.uint8).reshape(1, 3, 3)
    assert (g4u == palr[np.array([[1, 2, 1]])]).all()
    info1 = struct.pack("<IiiHHIIiiII", 40, 3, 1, 1, 1, 0, 0, 0, 0,
                        2, 0)
    hdr1 = struct.pack("<2sIHHI", b"BM", 0, 0, 0, 14 + 40 + 8)
    g1 = np.frombuffer(
        bmp.decode_bmp(hdr1 + info1 + pal2[:8]
                       + bytes([0b01000000, 0, 0, 0]))["pixels"],
        np.uint8).reshape(1, 3, 3)
    assert (g1 == palr[np.array([[0, 1, 0]])]).all()

    # 32-bpp BGRA: alpha dropped, top-down honored
    px32 = rng.integers(0, 256, size=(2, 2, 3), dtype=np.uint8)
    rows = np.zeros((2, 8), np.uint8)
    for y in range(2):
        for x in range(2):
            rows[y, 4 * x:4 * x + 3] = px32[y, x, ::-1]
    hdr32 = struct.pack("<2sIHHI", b"BM", 0, 0, 0, 14 + 40)
    info32 = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 32, 0, 0, 0, 0,
                         0, 0)
    g32 = np.frombuffer(
        bmp.decode_bmp(hdr32 + info32 + rows.tobytes())["pixels"],
        np.uint8).reshape(2, 2, 3)
    assert (g32 == px32).all()

    # 16-bpp RGB555 and BI_BITFIELDS 565 / 32-bpp-identity masks
    def mk16(bpp, comp, w16, h16, data, masks=None):
        moff = 14 + 40 + (12 if masks else 0)
        info16 = struct.pack("<IiiHHIIiiII", 40, w16, h16, 1, bpp,
                             comp, len(data), 0, 0, 0, 0)
        head16 = struct.pack("<2sIHHI", b"BM", 0, 0, 0, moff)
        mb = struct.pack("<III", *masks) if masks else b""
        return head16 + info16 + mb + data

    v = (31 << 10) | (16 << 5) | 7       # RGB555 (31, 16, 7)
    out555 = bmp.decode_bmp(mk16(16, 0, 1, 1,
                                 struct.pack("<H", v) + b"\x00\x00"))
    assert list(out555["pixels"]) == [255, 132, 58]  # round-half-up
    v = (31 << 11) | (63 << 5) | 7       # 565 via explicit masks
    out565 = bmp.decode_bmp(mk16(16, 3, 1, 1,
                                 struct.pack("<H", v) + b"\x00\x00",
                                 masks=(0xF800, 0x07E0, 0x001F)))
    assert list(out565["pixels"]) == [255, 255, 58]
    px8888 = struct.pack("<I", (200 << 16) | (100 << 8) | 50)
    out8888 = bmp.decode_bmp(mk16(32, 3, 1, 1, px8888,
                                  masks=(0xFF0000, 0xFF00, 0xFF)))
    assert list(out8888["pixels"]) == [200, 100, 50]
    with pytest.raises(ValueError, match="mask is zero"):
        bmp.decode_bmp(mk16(16, 3, 1, 1, b"\x00" * 4,
                            masks=(0, 0x07E0, 0x1F)))
    with pytest.raises(ValueError, match="BITFIELDS requires"):
        bmp.decode_bmp(mk16(8, 3, 1, 1, b"\x00" * 4,
                            masks=(0xF800, 0x07E0, 0x001F)))

    # error paths: RLE on top-down, truncated RLE, index overflow
    info_td = struct.pack("<IiiHHIIiiII", 40, 6, -3, 1, 8, 1,
                          len(rle), 0, 0, 3, 0)
    with pytest.raises(ValueError, match="top-down"):
        bmp.decode_bmp(hdr + info_td + pal2 + rle)
    with pytest.raises(ValueError, match="truncated BMP RLE"):
        bmp.decode_bmp(hdr + info + pal2 + rle[:4])
    with pytest.raises(ValueError, match="end-of-bitmap"):
        bmp.decode_bmp(hdr + info + pal2 + bytes([3, 1, 0, 0]))
    with pytest.raises(ValueError, match="index"):
        bmp.encode_bmp_rle8(2, 1, bytes([0, 9]), pal)


def test_resize_pixels_exact():
    """_resize_pixels matches a hand-rolled reference for both
    methods (integer-exact contract)."""
    import hashlib

    px = (b"".join(hashlib.md5(f"rz{k}".encode()).digest()
                   for k in range(12)))[:192]
    img = {"width": 8, "height": 8, "pixels": px}

    # box 8x8 -> 4x4: each out pixel = floor(mean of a 2x2 block)
    out = multimodal._resize_pixels(img, 4, 4, "box")
    for yo in range(4):
        for xo in range(4):
            for c in range(3):
                s = sum(px[3 * (y * 8 + x) + c]
                        for y in (2 * yo, 2 * yo + 1)
                        for x in (2 * xo, 2 * xo + 1))
                assert out[3 * (yo * 4 + xo) + c] == s // 4

    # nearest 8x8 -> 3x3: sx = (2x+1)*8 // 6
    out = multimodal._resize_pixels(img, 3, 3, "nearest")
    for yo in range(3):
        sy = ((2 * yo + 1) * 8) // 6
        for xo in range(3):
            sx = ((2 * xo + 1) * 8) // 6
            assert out[3 * (yo * 3 + xo):3 * (yo * 3 + xo) + 3] \
                == px[3 * (sy * 8 + sx):3 * (sy * 8 + sx) + 3]

    # nearest upsample 8x8 -> 16x16 maps each out 2x2 back to 1 src px
    up = multimodal._resize_pixels(img, 16, 16, "nearest")
    assert up[0:3] == px[0:3]
    assert len(up) == 16 * 16 * 3
    # non-dividing box boundaries: 8 -> 3 cells of widths 2,3,3
    out = multimodal._resize_pixels(img, 3, 1, "box")
    xb = [0, 2, 5, 8]
    for xo in range(3):
        area = (xb[xo + 1] - xb[xo]) * 8
        for c in range(3):
            s = sum(px[3 * (y * 8 + x) + c] for y in range(8)
                    for x in range(xb[xo], xb[xo + 1]))
            assert out[3 * xo + c] == s // area

    with pytest.raises(ValueError, match="downsample"):
        multimodal._resize_pixels(img, 16, 4, "box")


def test_resize_image_composes(spark):
    """resize_image emits decodable PPM that feeds image_phash: the
    4x4 box resize of an 8x8 image yields the same cell sums the 4x4
    phash grid pools, so hashing the ORIGINAL at grid 2x2 equals
    hashing the box-RESIZED 4x4 image at grid 2x2."""
    import hashlib

    rows = []
    for mid in range(6):
        px = (b"".join(hashlib.md5(f"ri{mid}~{k}".encode()).digest()
                       for k in range(12)))[:192]
        rows.append((mid, b"P6\n8 8\n255\n" + px))
    media = spark.createDataFrame(rows, "media_id long, content binary")

    out = multimodal.resize_image(media, 4, 4, method="box").collect()
    assert len(out) == 6
    for r in out:
        img = multimodal.decode_image(bytes(r["content"]))
        assert (img["width"], img["height"]) == (4, 4)

    h_orig = {r["media_id"]: (r["ahash"], r["dhash"])
              for r in multimodal.image_phash(media, 2, 2).collect()}
    resized = multimodal.resize_image(media, 4, 4, method="box")
    h_rsz = {r["media_id"]: (r["ahash"], r["dhash"])
             for r in multimodal.image_phash(
                 resized.select("media_id", "content"), 2, 2).collect()}
    # dhash is scale-robust by construction; ahash compares against the
    # image mean whose floor-rounding differs, so check dhash
    for mid in h_orig:
        assert h_orig[mid][1] == h_rsz[mid][1]

    with pytest.raises(ValueError, match="nearest|box"):
        multimodal.resize_image(media, 4, 4, method="cubic")
    with pytest.raises(ValueError, match=">= 1"):
        multimodal.resize_image(media, 0, 4)


def test_sniff_meta_formats(spark):
    """_sniff_meta reads dimensions from header bytes alone for every
    supported format; junk yields NULLs instead of raising; the expr
    engine matches the arrow engine on the fixed-offset formats."""
    import hashlib

    from pypond_spark.datapipe import bmp, gif
    from pypond_spark.datapipe.jpeg import encode_jpeg

    px64 = b"".join(hashlib.md5(f"sn{k}".encode()).digest()
                    for k in range(16))  # 256 bytes
    cases = [
        ("png", multimodal.encode_png(8, 8, px64[:192]), 8, 8),
        ("gif", gif.encode_gif(8, 8, bytes(range(64)), px64[:192]), 8, 8),
        ("bmp", bmp.encode_bmp(8, 8, px64[:192]), 8, 8),
        ("bmp", bmp.encode_bmp(5, 3, px64[:45], top_down=True), 5, 3),
        ("ppm", b"P6\n# c\n12 34\n255\n" + bytes(12 * 34 * 3), 12, 34),
        ("jpeg", encode_jpeg(11, 7, px64[:11 * 7 * 3]), 11, 7),
        ("jpeg", encode_jpeg(16, 9, px64[:16 * 9], gray=True), 16, 9),
    ]
    for fmt, content, w, h in cases:
        assert multimodal._sniff_meta(content) == (fmt, w, h), fmt
    assert multimodal._sniff_meta(b"garbage") == (None, None, None)
    assert multimodal._sniff_meta(b"\xFF\xD8\xFF") == ("jpeg", None, None)
    assert multimodal._sniff_meta(b"P6 bad header") == ("ppm", None, None)

    media = spark.createDataFrame(
        [(i, c) for i, (_, c, _, _) in enumerate(cases)]
        + [(99, b"junkbytes")],
        "media_id long, content binary")
    arrow = {r["media_id"]: (r["format"], r["width"], r["height"])
             for r in multimodal.sniff_image_meta(media).collect()}
    expr = {r["media_id"]: (r["format"], r["width"], r["height"])
            for r in multimodal.sniff_image_meta(
                media, engine="expr").collect()}
    for i, (fmt, _, w, h) in enumerate(cases):
        assert arrow[i] == (fmt, w, h)
        if fmt in ("png", "gif", "bmp"):
            assert expr[i] == (fmt, w, h), fmt
        elif fmt == "jpeg":
            assert expr[i] == ("jpeg", None, None)
    assert arrow[99] == (None, None, None)
    assert expr[99] == (None, None, None)
    with pytest.raises(ValueError, match="arrow|expr"):
        multimodal.sniff_image_meta(media, engine="fast")


def test_parse_robots_groups(spark):
    """parse_robots: comment stripping, case-insensitive keys,
    consecutive-UA group sharing, new-group boundaries, empty groups
    surviving as NULL-rule rows, empty-value rules dropped."""
    from pypond_spark.datapipe import urls

    txt = "\n".join([
        "# header comment",
        "User-Agent: GoodBot",
        "user-agent: OtherBot",
        "Disallow: /private/   # trailing comment",
        "Allow: /private/ok",
        "",
        "User-agent: *",
        "disallow: /tmp/",
        "Disallow:",          # empty value: no-op, dropped
        "Sitemap: https://x.example/s.xml",
        "User-agent: EmptyBot",   # empty group: NULL-rule row
    ])
    df = spark.createDataFrame([("X.Example", txt)],
                               "host string, robots_txt string")
    rows = urls.parse_robots(df).collect()
    got = {(r["agent"], r["rule"], r["pattern"]) for r in rows}
    assert got == {
        ("goodbot", "disallow", "/private/"),
        ("goodbot", "allow", "/private/ok"),
        ("otherbot", "disallow", "/private/"),
        ("otherbot", "allow", "/private/ok"),
        ("*", "disallow", "/tmp/"),
        ("emptybot", None, None),
    }
    assert all(r["host"] == "x.example" for r in rows)


def test_robots_filter_decisions(spark):
    """robots_filter: longest-match precedence, allow tie-break,
    wildcard * and $ anchor, LIKE metacharacters in paths treated
    literally, specific-group shadowing (incl. empty groups), default
    allow for unmatched paths and unlisted hosts."""
    from pypond_spark.datapipe import urls

    robots = spark.createDataFrame([
        ("a.com", "\n".join([
            "User-agent: *",
            "Disallow: /private/",
            "Allow: /private/pub*",
            "Disallow: /*.pdf$",
            "Disallow: /x_y%z/",
        ])),
        ("b.com", "\n".join([
            "User-agent: SpecBot",
            "Disallow: /only-spec/",
            "User-agent: *",
            "Disallow: /",
        ])),
        # RFC 9309: consecutive UA lines share one group, so a truly
        # EMPTY specific group can only close the file
        ("c.com", "\n".join([
            "User-agent: *",
            "Disallow: /",
            "User-agent: SpecBot",   # empty specific group
        ])),
    ], "host string, robots_txt string")
    rules = urls.parse_robots(robots)

    cases = [
        # (url, agent, expected)
        ("http://a.com/", "*", True),
        ("http://a.com/private/doc", "*", False),
        ("http://a.com/private/pub/doc", "*", True),   # longer allow
        ("http://a.com/file.pdf", "*", False),         # $ anchor
        ("http://a.com/file.pdf.html", "*", True),     # anchor miss
        ("http://a.com/x_y%z/q", "*", False),          # literal %/_
        ("http://a.com/xAy%z/q", "*", True),           # _ not a wildcard
        ("http://unlisted.com/anything", "*", True),
        ("http://b.com/anything", "*", False),         # * group
        ("http://b.com/anything", "SpecBot/1.0", True),  # spec shadows *
        ("http://b.com/only-spec/x", "SpecBot/1.0", False),
        ("http://c.com/anything", "SpecBot/1.0", True),  # empty group
        ("http://c.com/anything", "*", False),
    ]
    for agent in {a for _, a, _ in cases}:
        sub = [(i, u) for i, (u, a, _) in enumerate(cases) if a == agent]
        df = spark.createDataFrame(sub, "id long, url string")
        out = {r["id"]: r["robots_allowed"]
               for r in urls.robots_filter(df, rules, agent).collect()}
        for i, (u, a, want) in enumerate(cases):
            if a == agent:
                assert out[i] == want, (u, a)


def test_extract_links_resolution(spark):
    """extract_links: absolute kept, protocol-relative gets base
    scheme, root-relative gets origin, path-relative resolves against
    the base directory, non-http schemes and fragment-only dropped."""
    from pypond_spark.datapipe import urls

    html = (' <a class="x" href="https://other.com/abs">a</a>'
            ' <A HREF=\'//cdn.com/p\'>b</A>'
            ' <a href="/root/x">c</a>'
            ' <a href="rel/y">d</a>'
            ' <a href="mailto:a@b.c">e</a>'
            ' <a href="javascript:void(0)">f</a>'
            ' <a href="#frag">g</a>'
            ' <a id=z href=/unquoted/h>h</a>')
    df = spark.createDataFrame(
        [(1, "https://Site.Example/dir/page.html", html)],
        "id long, url string, html string")
    out = urls.extract_links(df, html_col="html")
    got = {r["link_url"] for r in out.collect()}
    assert got == {
        "https://other.com/abs",
        "https://cdn.com/p",
        "https://site.example/root/x",
        "https://site.example/dir/rel/y",
        "https://site.example/unquoted/h",
    }
    assert "html" not in out.columns

    # explicit non-default port survives into resolved links; a
    # scheme-DEFAULT port is stripped (normalize_url_expr's rule)
    df2 = spark.createDataFrame(
        [(1, "https://h.com:8080/a/page.html",
          '<a href="/x">r</a> <a href="rel.html">p</a>'),
         (2, "http://h.com:80/a/", '<a href="/y">d</a>')],
        "id long, url string, html string")
    got2 = {r["link_url"] for r in urls.extract_links(df2).collect()}
    assert got2 == {"https://h.com:8080/x",
                    "https://h.com:8080/a/rel.html",
                    "http://h.com/y"}


def test_sitemap_and_robots_sitemaps(spark):
    from pypond_spark.datapipe import urls

    xml = """<?xml version="1.0"?>
    <urlset><url>
      <loc> https://a.com/1 </loc><lastmod>2026-01-01</lastmod>
    </url><url><lastmod>x</lastmod><loc>https://a.com/2</loc></url>
    </urlset>"""
    idx = ("<sitemapindex><sitemap><loc>https://a.com/s1.xml</loc>"
           "</sitemap></sitemapindex>")
    df = spark.createDataFrame([(1, xml), (2, idx)],
                               "doc_id long, sitemap_xml string")
    got = {(r["doc_id"], r["loc"], r["lastmod"], r["is_index"])
           for r in urls.sitemap_urls(df).collect()}
    assert got == {(1, "https://a.com/1", "2026-01-01", False),
                   (1, "https://a.com/2", "x", False),
                   (2, "https://a.com/s1.xml", None, True)}

    robots = spark.createDataFrame(
        [("H.com", "User-agent: *\nDisallow: /x\n"
                   "Sitemap: https://h.com/s.xml  # c\n"
                   "sitemap:https://h.com/s2.xml")],
        "host string, robots_txt string")
    sm = {(r["host"], r["sitemap_url"])
          for r in urls.robots_sitemaps(robots).collect()}
    assert sm == {("h.com", "https://h.com/s.xml"),
                  ("h.com", "https://h.com/s2.xml")}


def test_link_graph_and_pagerank(spark):
    """pagerank matches a hand-iterated reference on a small graph;
    link_graph keys on registered domains and drops self-edges."""
    from pypond_spark.datapipe import urls

    links = spark.createDataFrame([
        ("http://a.com/p", "http://b.com/x"),
        ("http://a.com/q", "http://b.com/y"),
        ("http://a.com/p", "http://c.com/"),
        ("http://b.com/x", "http://c.com/"),
        ("http://www.a.com/r", "http://sub.a.com/s"),  # self at domain
    ], "url string, link_url string")
    g = {(r["src_domain"], r["dst_domain"]): r["n_links"]
         for r in urls.link_graph(links).collect()}
    assert g == {("a.com", "b.com"): 2, ("a.com", "c.com"): 1,
                 ("b.com", "c.com"): 1}

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a")],
        "src_domain string, dst_domain string")
    # hand iteration, pr0 = 1 everywhere, d = 0.85
    pr = {"a": 1.0, "b": 1.0, "c": 1.0}
    for _ in range(3):
        contrib = {"b": pr["a"] / 2, "c": pr["a"] / 2 + pr["b"],
                   "a": pr["c"]}
        pr = {n: 0.15 + 0.85 * contrib.get(n, 0.0) for n in pr}
    got = {r["node"]: r["pagerank"]
           for r in urls.pagerank(edges, iters=3).collect()}
    for n in pr:
        assert abs(got[n] - pr[n]) < 1e-12, n
    with pytest.raises(ValueError, match="iters"):
        urls.pagerank(edges, iters=0)

    # arbitrary iters crosses the localCheckpoint boundary (every 5
    # rounds) — values must match the hand iteration EXACTLY, the
    # checkpoint is a lineage cut, not a numeric change; and the
    # static-frame caches must be released on return
    pr12 = {"a": 1.0, "b": 1.0, "c": 1.0}
    for _ in range(12):
        contrib = {"b": pr12["a"] / 2, "c": pr12["a"] / 2 + pr12["b"],
                   "a": pr12["c"]}
        pr12 = {n: 0.15 + 0.85 * contrib.get(n, 0.0) for n in pr12}
    jsc = spark.sparkContext._jsc.sc()
    n0 = jsc.getPersistentRDDs().size()
    got12 = {r["node"]: r["pagerank"]
             for r in urls.pagerank(edges, iters=12).collect()}
    for n in pr12:
        assert abs(got12[n] - pr12[n]) < 1e-12, n
    # the two persist()-ed static frames were unpersisted on return;
    # only the <=3 localCheckpoint stores (rounds 5, 10, final) may
    # remain registered until the context cleaner GCs them
    n1 = jsc.getPersistentRDDs().size()
    assert n1 - n0 <= 3, (n0, n1)


def test_http_charset_expr(spark):
    """http_charset_expr: header beats body meta, quoted and unquoted
    values, http-equiv form, NULL when nothing declares, header zone
    only searched before the blank line."""
    from pypond_spark.datapipe import warc

    cases = [
        (0, 'HTTP/1.1 200 OK\r\nContent-Type: text/html; '
            'charset="UTF-8"\r\n\r\n<meta charset=latin-1>', "utf-8"),
        (1, "HTTP/1.1 200 OK\r\nX: y\r\n\r\n"
            "<META CHARSET='Shift_JIS'>", "shift_jis"),
        (2, 'HTTP/1.1 200 OK\r\nA: b\r\n\r\n<meta http-equiv='
            '"Content-Type" content="text/x; charset=EUC-KR">',
         "euc-kr"),
        (3, "bare text", None),
        # header-looking text in the BODY must not count as a header
        (4, "HTTP/1.1 200 OK\r\nA: b\r\n\r\n"
            "Content-Type: text/html; charset=KOI8-R", None),
    ]
    df = spark.createDataFrame([(i, b) for i, b, _ in cases],
                               "id long, block string")
    got = {r["id"]: r["charset"]
           for r in warc.with_charset(df).collect()}
    for i, _, want in cases:
        assert got[i] == want, i


def test_y4m_roundtrip_and_errors():
    """encode_y4m -> decode_y4m reproduces luma planes exactly for
    every chroma tagging; header parsing, frame framing and
    unsupported variants raise correctly."""
    import hashlib

    from pypond_spark.datapipe import y4m

    frames = [(b"".join(hashlib.md5(f"y4m{f}~{k}".encode()).digest()
                        for k in range(4)))[:64] for f in range(3)]
    for chroma in ("420jpeg", "420mpeg2", "422", "444", "mono"):
        data = y4m.encode_y4m(8, 8, frames, fps=(30, 1), chroma=chroma)
        vid = y4m.decode_y4m(data)
        assert (vid["width"], vid["height"], vid["n_frames"],
                vid["fps_num"], vid["chroma"]) == (8, 8, 3, 30, chroma)
        for f in range(3):
            assert vid["frames"][f]["y"] == frames[f], (chroma, f)
        if chroma == "mono":
            assert vid["frames"][0]["u"] is None
        else:
            assert set(vid["frames"][0]["u"]) == {128}

    with pytest.raises(ValueError, match="magic"):
        y4m.decode_y4m(b"RIFFxxxx")
    with pytest.raises(ValueError, match="frame header"):
        good = y4m.encode_y4m(8, 8, frames)
        y4m.decode_y4m(good.replace(b"FRAME\n", b"FRAMX\n", 1))
    with pytest.raises(ValueError, match="truncated"):
        y4m.decode_y4m(y4m.encode_y4m(8, 8, frames)[:-10])
    # C411 decodes since r12 (4:1:1 plane sizes: 64 luma + 2*16 chroma)
    d411 = y4m.decode_y4m(b"YUV4MPEG2 W8 H8 F25:1 C411\nFRAME\n"
                          + bytes(96))
    assert d411["chroma"] == "411" and len(d411["frames"][0]["u"]) == 16
    with pytest.raises(NotImplementedError, match="chroma"):
        y4m.decode_y4m(b"YUV4MPEG2 W8 H8 F25:1 C410\nFRAME\n"
                       + bytes(96))
    with pytest.raises(ValueError, match="divisible"):
        y4m.encode_y4m(7, 8, [bytes(56)])
    with pytest.raises(NotImplementedError, match="MP4"):
        y4m.decode_video(bytes(4) + b"ftypisom" + bytes(4))
    with pytest.raises(NotImplementedError, match="WebM"):
        y4m.decode_video(b"\x1a\x45\xdf\xa3" + bytes(8))


def test_sample_video_frames_and_near_dups(spark):
    """sample_video_frames emits PPM frames that compose with the
    image tier; video_near_dups pairs a video with its re-encoded /
    trimmed copy but not with unrelated footage."""
    import hashlib

    from pypond_spark.datapipe import multimodal, y4m

    def mk(seed, n):
        return [(b"".join(hashlib.md5(f"{seed}~{f}~{k}".encode())
                          .digest() for k in range(4)))[:64]
                for f in range(n)]

    a = mk("vidA", 4)
    rows = [
        (1, y4m.encode_y4m(8, 8, a)),                    # original
        (2, y4m.encode_y4m(8, 8, a[1:], chroma="mono")),  # trimmed
        (3, y4m.encode_y4m(8, 8, mk("vidB", 4))),        # unrelated
    ]
    vids = spark.createDataFrame(rows, "media_id long, content binary")

    frames = y4m.sample_video_frames(vids, every_n=2).collect()
    by_vid = {}
    for r in frames:
        by_vid.setdefault(r["media_id"], []).append(r)
    assert [r["frame_idx"] for r in sorted(by_vid[1],
                                           key=lambda r: r["frame_idx"])] \
        == [0, 2]
    assert by_vid[1][0]["frame_ts_ms"] == 0
    img = multimodal.decode_image(bytes(by_vid[1][0]["content"]))
    assert (img["width"], img["height"]) == (8, 8)
    assert img["pixels"][::3] == a[0]          # luma replicated to RGB

    pairs = {(r["id_a"], r["id_b"]): r["shared_frac"]
             for r in y4m.video_near_dups(vids, every_n=1,
                                          min_shared=0.5).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert not any(3 in p for p in pairs)
    with pytest.raises(ValueError, match="every_n"):
        y4m.sample_video_frames(vids, every_n=0)


def test_gif_animation_frames():
    """decode_gif_frames (r12): GIF89a compositing — sub-rect
    placement, transparency leaving the canvas unchanged, disposal 1
    (leave) / 2 (restore-to-background) / 3 (restore-to-previous) —
    plus fps from the first nonzero delay and the decode_video
    dispatch; gray palettes keep luma exact."""
    import numpy as np

    from pypond_spark.datapipe import gif, y4m

    pal1 = bytes([10, 10, 10, 50, 50, 50, 200, 200, 200])
    f1 = {"indices": bytes([0, 1, 2, 0, 1, 2, 0, 1, 2, 0, 1, 2]),
          "palette": pal1, "disposal": 1}
    pal2 = bytes([99, 99, 99, 77, 77, 77])
    f2 = {"indices": bytes([0, 1]), "palette": pal2, "left": 1,
          "top": 1, "w": 2, "h": 1, "disposal": 3, "transparent": 1}
    f3 = {"indices": bytes([1]) * 12, "palette": pal1, "disposal": 2}
    vid = y4m.decode_video(gif.encode_gif_anim(4, 3, [f1, f2, f3],
                                               delay_cs=5))
    assert (vid["format"], vid["n_frames"]) == ("gif-anim", 3)
    assert (vid["width"], vid["height"]) == (4, 3)
    assert (vid["fps_num"], vid["fps_den"]) == (100, 5)
    a = np.frombuffer(vid["frames"][0]["y"], np.uint8).reshape(3, 4)
    exp1 = np.array([[10, 50, 200, 10], [50, 200, 10, 50],
                     [200, 10, 50, 200]])
    assert (a == exp1).all()
    b = np.frombuffer(vid["frames"][1]["y"], np.uint8).reshape(3, 4)
    exp2 = exp1.copy()
    exp2[1, 1] = 99                      # idx 0 drew; idx 1 transparent
    assert (b == exp2).all()
    c = np.frombuffer(vid["frames"][2]["y"], np.uint8).reshape(3, 4)
    assert (c == 50).all()               # disposal-3 restored, then full draw

    # disposal 2 restores the rect to the background (black, no GCT)
    f4 = {"indices": bytes([2]), "palette": pal1, "left": 0, "top": 0,
          "w": 1, "h": 1}
    vid2 = gif.decode_gif_frames(gif.encode_gif_anim(4, 3, [f3, f4]))
    d = np.frombuffer(vid2["frames"][1]["y"], np.uint8).reshape(3, 4)
    assert d[0, 0] == 200 and (d.flatten()[1:] == 0).all()

    # a single-frame encode_gif stream is a 1-frame 10 fps "video"
    sf = gif.encode_gif(2, 2, bytes([0, 1, 2, 3]),
                        bytes([0, 0, 0, 60, 60, 60, 120, 120, 120,
                               180, 180, 180]))
    v1 = gif.decode_gif_frames(sf)
    assert (v1["n_frames"], v1["fps_num"], v1["fps_den"]) == (1, 10, 1)

    # frames feed the image tier through sample_video_frames like any
    # other container; error paths stay honest
    with pytest.raises(ValueError, match="outside"):
        gif.decode_gif_frames(gif.encode_gif_anim(
            4, 3, [{"indices": bytes([0]), "palette": pal2,
                    "left": 4, "top": 0, "w": 1, "h": 1}]))
    with pytest.raises(ValueError, match="trailer|truncated"):
        gif.decode_gif_frames(gif.encode_gif_anim(4, 3, [f1])[:-3])


def _encode_avi_dib(width, height, frames_rgb, fps=(25, 1)):
    """Uncompressed (BI_RGB 24-bpp) AVI fixture writer for the DIB
    decode path: interleaved RGB frames in, bottom-up 4-byte-padded
    BGR ``00db`` chunks out.  Lossless, so decode recovers the BT.601
    luma of the exact input pixels (or the input verbatim for
    gray-valued frames)."""
    import struct

    import numpy as np

    from pypond_spark.datapipe.avi import _chunk

    row_bytes = (width * 3 + 3) & ~3
    chunks = []
    for px in frames_rgb:
        rgb = np.frombuffer(px, np.uint8).reshape(height, width, 3)
        rows = np.zeros((height, row_bytes), np.uint8)
        rows[:, :width * 3] = rgb[:, :, ::-1].reshape(height, -1)
        chunks.append(rows[::-1].tobytes())
    num, den = fps
    usec = (1_000_000 * den) // num
    bufsz = max(len(c) for c in chunks)
    avih = struct.pack("<14I", usec, 0, 0, 0, len(chunks), 0, 1,
                       bufsz, width, height, 0, 0, 0, 0)
    strh = (b"vids" + b"DIB "
            + struct.pack("<IHHIIIIIIiI4H", 0, 0, 0, 0, den, num, 0,
                          len(chunks), bufsz, -1, 0, 0, 0, width,
                          height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"\x00\x00\x00\x00", row_bytes * height,
                       0, 0, 0, 0)
    strl = b"strl" + _chunk(b"strh", strh) + _chunk(b"strf", strf)
    hdrl = b"hdrl" + _chunk(b"avih", avih) + _chunk(b"LIST", strl)
    movi = b"movi" + b"".join(_chunk(b"00db", c) for c in chunks)
    body = b"AVI " + _chunk(b"LIST", hdrl) + _chunk(b"LIST", movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_mjpeg_roundtrip_and_errors():
    """MJPEG-in-AVI: the RIFF chunk walk + per-frame JPEG decode
    recovers block-constant luma EXACTLY (baseline and progressive
    frames), reads fps from the stream header, and the container flows
    through decode_video's dispatch; structural corruption and
    non-MJPG compression raise honestly."""
    import hashlib

    import numpy as np

    from pypond_spark.datapipe import avi, jpeg, y4m

    frames = []
    for f in range(3):
        dig = hashlib.md5(f"avi{f}".encode()).digest()
        vals = np.frombuffer(dig[:12], np.uint8).reshape(3, 4)
        frames.append(np.repeat(np.repeat(vals, 8, 0), 8, 1).tobytes())
    data = avi.encode_avi_mjpeg(32, 24, frames, fps=(30, 1),
                                qtable=[1] * 64)
    vid = y4m.decode_video(data)
    assert (vid["format"], vid["n_frames"]) == ("avi-mjpeg", 3)
    assert (vid["width"], vid["height"]) == (32, 24)
    assert (vid["fps_num"], vid["fps_den"]) == (30, 1)
    assert all(vid["frames"][i]["y"] == frames[i] for i in range(3))

    # progressive JPEG frames inside the container decode identically
    prog = avi.encode_avi_mjpeg(32, 24, frames,
                                encoder=jpeg.encode_jpeg_progressive,
                                qtable=[1] * 64, restart_interval=2)
    vid2 = avi.decode_avi_mjpeg(prog)
    assert all(vid2["frames"][i]["y"] == frames[i] for i in range(3))

    # color frames reduce to BT.601 luma (gray JPEG stays verbatim,
    # so a flat-gray color edit decodes to the same plane)
    with pytest.raises(ValueError, match="RIFF"):
        avi.decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="truncated"):
        avi.decode_avi_mjpeg(data[:100])
    bad = bytearray(data)
    j = bad.find(b"strf")
    j = bad.find(b"MJPG", j)
    bad[j:j + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="H264"):
        avi.decode_avi_mjpeg(bytes(bad))
    with pytest.raises(ValueError, match="frame 0"):
        avi.encode_avi_mjpeg(8, 8, [b"short"])

    # sample_video_frames is container-blind: AVI frames feed the
    # image tier exactly like Y4M
    spark_free = avi.decode_avi_mjpeg(data)
    assert spark_free["frames"][0]["u"] is None

    # r12: uncompressed DIB streams (BI_RGB / 'DIB ') decode as
    # bottom-up padded BGR; gray-valued frames recover luma exactly,
    # color frames reduce to BT.601; non-24-bpp raises
    rng = np.random.default_rng(31)
    gray_frames = []
    for f in range(2):
        g = rng.integers(0, 256, size=(6, 10), dtype=np.uint8)
        gray_frames.append(np.repeat(g[..., None], 3, 2).tobytes())
    dib = _encode_avi_dib(10, 6, gray_frames, fps=(15, 1))
    vdib = y4m.decode_video(dib)
    assert (vdib["n_frames"], vdib["fps_num"]) == (2, 15)
    for f in range(2):
        want = np.frombuffer(gray_frames[f],
                             np.uint8).reshape(6, 10, 3)[..., 0]
        assert vdib["frames"][f]["y"] == want.tobytes()
    c = rng.integers(0, 256, size=(6, 10, 3), dtype=np.uint8)
    vc = avi.decode_avi_mjpeg(_encode_avi_dib(10, 6, [c.tobytes()]))
    luma = np.clip(np.floor(0.299 * c[..., 0] + 0.587 * c[..., 1]
                            + 0.114 * c[..., 2] + 0.5),
                   0, 255).astype(np.uint8)
    assert vc["frames"][0]["y"] == luma.tobytes()
    bad32 = bytearray(dib)
    k = bad32.find(b"strf")
    import struct as _s
    bad32[k + 8 + 14:k + 8 + 16] = _s.pack("<H", 32)
    with pytest.raises(NotImplementedError, match="24-bpp"):
        avi.decode_avi_mjpeg(bytes(bad32))


def test_transcode_payload(spark):
    """transcode_payload: declared codec used when it works, UTF-8 ->
    latin-1 ladder on failure or unknown labels, audit columns, NULL
    content passthrough, and a NULL-id row dropped beside them."""
    from pypond_spark.datapipe import warc

    rows = [
        (0, "héllo".encode("utf-8"), "UTF-8"),
        (1, "café".encode("latin-1"), "iso-8859-1"),
        (2, "日本語".encode("shift_jis"), "Shift_JIS"),
        (3, b"\xe9!", None),               # not UTF-8 -> latin-1 rung
        (4, "naïve".encode("utf-8"), "x-unknown-label"),
        (5, None, "utf-8"),
        (6, "﻿bom".encode("utf-16-le"), "utf-16le"),
        (None, b"no id", "utf-8"),
    ]
    df = spark.createDataFrame(rows,
                               "doc_id long, content binary, "
                               "charset string")
    out = warc.transcode_payload(df).collect()
    got = {r["doc_id"]: (r["text"], r["used_charset"], r["had_errors"])
           for r in out}
    assert len(out) == 7 and set(got) == set(range(7))
    assert got[0] == ("héllo", "utf-8", False)
    assert got[1] == ("café", "latin-1", False)
    assert got[2] == ("日本語", "shift_jis", False)
    assert got[3] == ("é!", "latin-1", True)
    assert got[4] == ("naïve", "utf-8", False)
    assert got[5] == (None, None, None)
    assert got[6] == ("﻿bom", "utf-16-le", False)


def test_decode_pgm_p5():
    """P5 grayscale PGM decodes with luma replicated to the RGB pixel
    contract; sniff reports format pgm with dimensions."""
    content = b"P5\n# c\n3 2\n255\n" + bytes([0, 50, 100, 150, 200, 250])
    img = multimodal.decode_image(content)
    assert (img["format"], img["width"], img["height"]) == ("pgm", 3, 2)
    assert img["pixels"] == bytes(
        b for v in [0, 50, 100, 150, 200, 250] for b in (v, v, v))
    assert multimodal._sniff_meta(content) == ("pgm", 3, 2)
    with pytest.raises(ValueError, match="truncated PGM"):
        multimodal.decode_image(b"P5\n3 2\n255\n\x00")


def test_sniff_audio_meta(spark):
    """_sniff_audio: WAV chunk walk, MP3 frame header after ID3v2,
    MPEG2 table, free-format/reserved degradation, junk -> NULLs."""
    import struct

    # 8kHz mono 16-bit WAV, 128 samples (the _WAV_HDR_128 shape)
    wav = (b"RIFF" + struct.pack("<I", 36 + 256) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                   16000, 2, 16)
           + b"data" + struct.pack("<I", 256) + bytes(256))
    got = multimodal._sniff_audio(wav)
    assert got == ("wav", 1, 8000, 128, 16, 16)   # 256B/16000Bps=16ms

    # MPEG1 Layer III 128kbps 44.1kHz stereo, 1000 bytes total
    mp3 = bytes([0xFF, 0xFB, (9 << 4) | (0 << 2), 0x00]) + bytes(996)
    assert multimodal._sniff_audio(mp3) == ("mp3", 2, 44100, 128,
                                            None, 62)
    # same frame behind an ID3v2 tag with a 20-byte body
    id3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 20]) + bytes(20)
    assert multimodal._sniff_audio(id3 + mp3) == ("mp3", 2, 44100,
                                                  128, None, 62)
    # MPEG2 table + mono
    mp3v2 = bytes([0xFF, 0xF3, (9 << 4) | (1 << 2), 0xC0]) + bytes(96)
    assert multimodal._sniff_audio(mp3v2) == ("mp3", 1, 24000, 80, None,
                                              10)
    # free-format: identified but detail-less
    free = bytes([0xFF, 0xFB, 0x00, 0x00]) + bytes(32)
    assert multimodal._sniff_audio(free) == ("mp3", None, None, None,
                                             None, None)
    assert multimodal._sniff_audio(b"junk") == (None,) * 6

    media = spark.createDataFrame([(1, wav), (2, mp3), (3, b"x")],
                                  "media_id long, content binary")
    rows = {r["media_id"]: (r["format"], r["sample_rate"])
            for r in multimodal.sniff_audio_meta(media).collect()}
    assert rows == {1: ("wav", 8000), 2: ("mp3", 44100),
                    3: (None, None)}


def test_exif_orientation(spark):
    """_exif_orientation: both byte orders, tag-absent and non-JPEG
    NULLs, insertion before real image data (encode_jpeg output)."""
    from pypond_spark.datapipe.jpeg import encode_jpeg

    real = encode_jpeg(8, 8, bytes([100] * 64), gray=True)
    # splice the APP1 right after SOI — decoders and our sniffer both
    # tolerate leading APPn segments
    for o, bo in ((1, "II"), (3, "MM"), (6, "II"), (8, "MM")):
        tagged = real[:2] + multimodal.exif_app1(o, bo) + real[2:]
        assert multimodal._exif_orientation(tagged) == o, (o, bo)
        # the tagged file still decodes and sniffs
        assert multimodal.decode_image(tagged)["width"] == 8
        assert multimodal._sniff_meta(tagged) == ("jpeg", 8, 8)
    assert multimodal._exif_orientation(real) is None
    assert multimodal._exif_orientation(b"\x89PNG") is None
    with pytest.raises(ValueError, match="orientation"):
        multimodal.exif_app1(9)

    media = spark.createDataFrame(
        [(1, real[:2] + multimodal.exif_app1(7) + real[2:]),
         (2, real)],
        "media_id long, content binary")
    got = {r["media_id"]: r["orientation"]
           for r in multimodal.image_orientation(media).collect()}
    assert got == {1: 7, 2: None}


def test_orient_image(spark):
    """orient_image: all 8 EXIF cases match the index-mapping
    reference on a non-square image; NULL passes through; composes
    with decode_image."""
    import numpy as np

    W, H = 4, 3
    px = bytes(range(W * H * 3))
    src = np.frombuffer(px, np.uint8).reshape(H, W, 3)
    # out[y][x] = src[sy][sx] per EXIF tag 274 semantics
    maps = {
        1: lambda x, y, w, h: (x, y),
        2: lambda x, y, w, h: (w - 1 - x, y),
        3: lambda x, y, w, h: (w - 1 - x, h - 1 - y),
        4: lambda x, y, w, h: (x, h - 1 - y),
        5: lambda x, y, w, h: (y, x),
        6: lambda x, y, w, h: (y, h - 1 - x),        # out dims swap
        7: lambda x, y, w, h: (w - 1 - y, h - 1 - x),
        8: lambda x, y, w, h: (w - 1 - y, x),
    }
    media = spark.createDataFrame(
        [(o, b"P6\n4 3\n255\n" + px, o) for o in range(1, 9)]
        + [(99, b"P6\n4 3\n255\n" + px, None)],
        "media_id long, content binary, orientation int")
    got = {r["media_id"]: r
           for r in multimodal.orient_image(media).collect()}
    for o in range(1, 9):
        r = got[o]
        ow, oh = (W, H) if o <= 4 else (H, W)
        assert (r["width"], r["height"]) == (ow, oh), o
        img = multimodal.decode_image(bytes(r["content"]))
        out = np.frombuffer(img["pixels"], np.uint8).reshape(oh, ow, 3)
        for y in range(oh):
            for x in range(ow):
                if o <= 4:
                    sx, sy = maps[o](x, y, W, H)
                else:
                    # transpose family: source coords from out coords
                    sx, sy = maps[o](x, y, W, H)
                assert (out[y, x] == src[sy, sx]).all(), (o, x, y)
    assert (got[99]["width"], got[99]["height"]) == (W, H)


def test_robots_crawl_delays(spark):
    from pypond_spark.datapipe import urls

    txt = "\n".join([
        "User-agent: FastBot",
        "User-agent: OtherBot",
        "Crawl-delay: 2.5",
        "Disallow: /x",
        "Crawl-delay: 4   # largest wins",
        "User-agent: *",
        "Crawl-delay: oops",     # non-numeric dropped
        "User-agent: QuietBot",  # group with no delay: absent
        "Disallow: /y",
        # a RULE line between two UA lines ends the first group —
        # the delay below belongs to TailBot only, never SoloBot
        "User-agent: SoloBot",
        "Disallow: /admin",
        "User-agent: TailBot",
        "Crawl-delay: 7",
        # a disallow VALUE that parses as a number is still a rule
        "User-agent: NumBot",
        "Disallow: 10",
    ])
    df = spark.createDataFrame([("H.com", txt)],
                               "host string, robots_txt string")
    got = {(r["host"], r["agent"]): r["crawl_delay"]
           for r in urls.robots_crawl_delays(df).collect()}
    assert got == {("h.com", "fastbot"): 4.0,
                   ("h.com", "otherbot"): 4.0,
                   ("h.com", "tailbot"): 7.0}


# ------------------------------------------------- r13 ADVICE fixes


def _spec_lossless_stream(w, h, samples, psv, ri, prec=8):
    """Test-local T.81 SOF3 encoder with the H.1.1 prediction rule
    transcribed STRAIGHT FROM THE SPEC TEXT (independent of
    encode_jpeg_lossless): at the start of the scan and of each
    restart interval the first sample predicts from 2^(P-1) and the
    remainder of that line uses the 1-D Ra predictor; afterwards
    x==0 -> Rb, else the selected predictor.  Gray, Pt=0.  Checks
    the repo decoder against the STANDARD, not against its own
    encoder."""
    import struct

    from pypond_spark.datapipe.jpeg import (_BitWriter, _category,
                                            _encode_table,
                                            _huff_table_from_freqs)

    default = 1 << (prec - 1)
    total = w * h
    per = ri if ri else total
    plane = [[0] * w for _ in range(h)]
    diffs = []
    for s in range(total):
        y, x = divmod(s, w)
        seg = s - s % per
        if s == seg:
            pred = default
        elif s < (seg // w + 1) * w:
            pred = plane[y][x - 1]                     # H.1.1: Ra
        elif x == 0:
            pred = plane[y - 1][0]                     # Rb
        else:
            ra, rb, rc = (plane[y][x - 1], plane[y - 1][x],
                          plane[y - 1][x - 1])
            pred = {1: ra, 2: rb, 3: rc, 4: ra + rb - rc,
                    5: ra + ((rb - rc) >> 1),
                    6: rb + ((ra - rc) >> 1),
                    7: (ra + rb) >> 1}[psv]
        v = samples[s]
        plane[y][x] = v
        d = (v - pred) & 0xFFFF
        if d > 32767:
            d -= 65536
        diffs.append(d)
    freqs = {}
    for d in diffs:
        cat = _category(d)
        freqs[cat] = freqs.get(cat, 0) + 1
    bits, vals = _huff_table_from_freqs(freqs)
    enc = _encode_table(bits, vals)
    out = bytearray(b"\xFF\xD8")
    sof = struct.pack(">BHHB", prec, h, w, 1) + bytes([1, 0x11, 0])
    out += b"\xFF\xC3" + struct.pack(">H", 2 + len(sof)) + sof
    body = bytes([0x00]) + bytes(bits) + bytes(vals)
    out += b"\xFF\xC4" + struct.pack(">H", 2 + len(body)) + body
    if ri:
        out += b"\xFF\xDD" + struct.pack(">HH", 4, ri)
    sos = bytes([1, 1, 0x00, psv, 0, 0])
    out += b"\xFF\xDA" + struct.pack(">H", 2 + len(sos)) + sos
    bw = _BitWriter()
    rst = 0
    for s in range(total):
        if s and s % per == 0:
            out += bw.flush()
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            rst += 1
            bw = _BitWriter()
        d = diffs[s]
        cat = _category(d)
        code, length = enc[cat]
        bw.write(code, length)
        if cat:
            if d < 0:
                d += (1 << cat) - 1
            bw.write(d, cat)
    out += bw.flush()
    out += b"\xFF\xD9"
    return bytes(out)


def test_jpeg_lossless_restart_spec_conformance():
    """r13 ADVICE (medium): after an RST marker the WHOLE remainder
    of that sample line must use the 1-D Ra predictor (T.81 H.1.1),
    not just the first sample — decode a stream built by an
    independent spec-rule encoder, with restart intervals that land
    both mid-row and on row boundaries, 2-D predictors included."""
    import numpy as np

    from pypond_spark.datapipe import jpeg

    rng = np.random.default_rng(13)
    for w, h in [(6, 5), (8, 3)]:
        px = rng.integers(0, 256, size=w * h, dtype=np.uint8)
        for psv in (1, 4, 5, 7):
            for ri in (1, 3, w, w + 2, 2 * w):
                data = _spec_lossless_stream(
                    w, h, [int(v) for v in px], psv, ri)
                d = jpeg.decode_jpeg(data)
                got = np.frombuffer(d["pixels"], np.uint8) \
                    .reshape(h, w, 3)[..., 0]
                assert (got == px.reshape(h, w)).all(), (w, h, psv, ri)
                # and the repo encoder emits the identical stream —
                # both halves follow the spec rule now
                ours = jpeg.encode_jpeg_lossless(
                    w, h, px.tobytes(), gray=True, predictor=psv,
                    restart_interval=ri)
                d2 = jpeg.decode_jpeg(ours)
                assert d2["pixels"] == d["pixels"], (w, h, psv, ri)


def test_jpeg_lossless_low_precision_max_scales():
    """r13 ADVICE: precision < 8 lossless samples must max-scale
    (full scale -> 255, round-half-up) like the BMP bitfields path,
    not plain left-shift (which dims full-scale to 255>>k)."""
    import numpy as np

    from pypond_spark.datapipe import jpeg

    for prec in (2, 4, 7):
        maxv = (1 << prec) - 1
        w, h = maxv + 1, 2
        samples = list(range(w)) * h          # every code point
        data = _spec_lossless_stream(w, h, samples, 1, 0, prec=prec)
        d = jpeg.decode_jpeg(data)
        got = np.frombuffer(d["pixels"], np.uint8) \
            .reshape(h, w, 3)[..., 0]
        want = np.array([(v * 255 + maxv // 2) // maxv
                         for v in range(w)], np.uint8)
        assert (got == want).all(), prec
        assert got.max() == 255


def test_avi_dib_top_down():
    """r13 ADVICE: negative biHeight = top-down row order; the
    decoder must not apply the bottom-up flip to those streams."""
    import struct

    import numpy as np

    from pypond_spark.datapipe import avi

    rng = np.random.default_rng(7)
    w, h = 5, 4
    frame = rng.integers(0, 256, size=w * h * 3, dtype=np.uint8)
    data = _encode_avi_dib(w, h, [frame.tobytes()], fps=(10, 1))
    want = np.frombuffer(
        avi.decode_avi_mjpeg(data)["frames"][0]["y"], np.uint8) \
        .reshape(h, w)
    # patch biHeight negative: stored rows are bottom-up(frame), a
    # top-down reading yields the vertically flipped frame
    i = data.index(b"strf") + 8          # fourcc + size
    patched = bytearray(data)
    patched[i + 8:i + 12] = struct.pack("<i", -h)
    got = np.frombuffer(
        avi.decode_avi_mjpeg(bytes(patched))["frames"][0]["y"],
        np.uint8).reshape(h, w)
    assert (got == want[::-1]).all()
    assert not (got == want).all()


def test_gif_anim_palette_index_validation():
    """r13 ADVICE: an out-of-range OPAQUE index must raise even when
    a LARGER transparent index is present; a transparent index just
    past the palette stays legal and roundtrips."""
    import pytest as _pytest

    from pypond_spark.datapipe import gif

    pal = bytes(range(12))                   # 4 colors
    ok = {"indices": bytes([0, 1, 2, 4, 3, 0]), "palette": pal,
          "w": 3, "h": 2, "transparent": 4}
    data = gif.encode_gif_anim(3, 2, [ok])
    fr = gif.decode_gif_frames(data)
    assert fr["n_frames"] == 1
    bad = {"indices": bytes([0, 5, 2, 7, 3, 0]), "palette": pal,
           "w": 3, "h": 2, "transparent": 7}   # 5 is opaque + OOR
    with _pytest.raises(ValueError, match="index out of range"):
        gif.encode_gif_anim(3, 2, [bad])


def test_split_gzip_members_and_parse_warc_gz(spark):
    """r13: member-per-record .warc.gz (the Common Crawl layout) —
    member boundaries reassemble into the exact Content-Length
    framing; corrupt/truncated members are loud."""
    import gzip as _gzip
    import io as _io

    import pytest as _pytest

    from pypond_spark.datapipe import warc as dp_warc

    def member(payload: bytes) -> bytes:
        buf = _io.BytesIO()
        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(payload)
        return buf.getvalue()

    r1 = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
          b"Content-Length: 5\r\n\r\nnote!\r\n\r\n")
    body = b"hello\r\n\r\nworld"          # embedded blank line
    r2 = (b"WARC/1.0\r\nWARC-Type: response\r\n"
          b"WARC-Target-URI: http://e.com/1\r\nContent-Length: "
          + str(len(body)).encode() + b"\r\n\r\n" + body + b"\r\n\r\n")
    data = member(r1) + member(r2)
    assert dp_warc.split_gzip_members(data) == [r1, r2]
    with _pytest.raises(ValueError, match="truncated"):
        dp_warc.split_gzip_members(data[:-5])
    with _pytest.raises(ValueError, match="corrupt"):
        dp_warc.split_gzip_members(b"\x1f\x8b\x08\x00junkjunkjunk")

    df = spark.createDataFrame([(1, bytearray(data))],
                               "doc_id long, warc_gz binary")
    rows = dp_warc.parse_warc_gz(df).collect()
    assert [(r["record_no"], r["warc_type"]) for r in rows] \
        == [(0, "warcinfo"), (1, "response")]
    assert rows[1]["block"] == body.decode()


def test_strip_markdown(spark):
    """r14: markdown -> text as a pure JVM regexp chain — every rule
    on one document, then the edge cases the chain must NOT glue."""
    from pypond_spark.datapipe.textstats import strip_markdown

    md = ("# Title\n\nSome **bold** and *ital* and `code` and "
          "~~gone~~.\n\n```python\nx = 1\n```\n\n> quoted\n> more\n\n"
          "- item one\n12. item two\n\n[anchor](http://x) and "
          "![alt text](img.png) and [ref][1]\n\n[1]: http://e.com\n\n"
          "| a | b |\n|---|---|\n| c | d |\n\n---\n\nEnd === inline")
    df = spark.createDataFrame([(1, md)], "doc_id long, text string")
    got = strip_markdown(df).collect()[0].text
    assert got == ("Title\nSome bold and ital and code and gone.\n"
                   "x = 1\nquoted\nmore\nitem one\nitem two\n"
                   "anchor and alt text and ref\na b\nc d\n"
                   "End === inline")
    # table rows must NOT glue (the [ \t]-not-\s regression), setext
    # underline drops, intra-word underscores survive
    md2 = "Header\n===\n\nsnake_case_name and 3 - 4 - 5"
    got2 = strip_markdown(spark.createDataFrame(
        [(1, md2)], "doc_id long, text string")).collect()[0].text
    assert got2 == "Header\nsnake_case_name and 3 - 4 - 5"


def test_strip_latex(spark):
    """r14: LaTeX -> text as a pure JVM regexp chain — every rule on
    one document, then the escape/protection edge cases."""
    from pypond_spark.datapipe.textstats import strip_latex

    tex = ("\\documentclass[11pt]{article}\n"
           "\\title{On \\emph{Nested \\textbf{Bold}} Things}\n"
           "\\author{J.~M\\\"uller and \\'E. Dupont}\n"
           "\\begin{document}\n\\maketitle\n"
           "% a full-line comment\n"
           "Intro with 100\\% effort and A\\&B and \\_u\\_ "
           "and cost \\$5.\n"
           "Inline $x^2 + y^2$ gone. Display:\n"
           "$$\\int_0^1 f$$\n\\[ e^{i\\pi} \\]\n"
           "\\begin{equation*}\na = b\n\\end{equation*}\n"
           "\\section{First}\n"
           "See~\\cite{knuth84} and \\href{http://x}{the site}.\n"
           "\\begin{itemize}\n\\item one % trailing comment\n"
           "\\item[*] two\n\\end{itemize}\n"
           "x \\\\ y\n"
           "\\begin{verbatim}\nraw   verbatim\n\\end{verbatim}\n"
           "Literal \\{kept\\} braces.\n\\end{document}")
    df = spark.createDataFrame([(1, tex)], "doc_id long, text string")
    got = strip_latex(df).collect()[0].text
    assert got == ("On Nested Bold Things\nJ. Muller and E. Dupont\n"
                   "Intro with 100% effort and A&B and _u_ "
                   "and cost $5.\nInline gone. Display:\nFirst\n"
                   "See and the site.\none\ntwo\nx\ny\n"
                   "raw verbatim\nLiteral {kept} braces.")
    # line-start comment drops via the non-participating ^ branch;
    # \% never starts a comment; inline math cannot eat across a
    # protected \$
    tex2 = "%lead\nkeep 50\\% here\npay \\$2 $m$ and \\$3"
    got2 = strip_latex(spark.createDataFrame(
        [(1, tex2)], "doc_id long, text string")).collect()[0].text
    assert got2 == "keep 50% here\npay $2 and $3"


def test_ipynb_cells_and_text(spark):
    """r14: nbformat-4 parsing via VARIANT — both source spellings
    (list-of-lines and plain string), raw-cell exclusion from text,
    counts/language/nbformat, and junk-blob triage."""
    from pypond_spark.datapipe.notebook import ipynb_cells, ipynb_text

    nb = ('{"cells":['
          '{"cell_type":"markdown","source":["# T\\n","body"]},'
          '{"cell_type":"code","execution_count":1,'
          '"source":["x = 1\\n","print(2)"],"outputs":[]},'
          '{"cell_type":"raw","source":"raw stuff"},'
          '{"cell_type":"code","source":"y = 3"}'
          '],"metadata":{"kernelspec":{"language":"python"}},'
          '"nbformat":4}')
    df = spark.createDataFrame([(1, nb), (2, "not json {")],
                               "doc_id long, content string")
    cells = {(r.cell_idx, r.cell_type): r.source
             for r in ipynb_cells(df).collect()}
    assert cells == {(0, "markdown"): "# T\nbody",
                     (1, "code"): "x = 1\nprint(2)",
                     (2, "raw"): "raw stuff",
                     (3, "code"): "y = 3"}
    rows = {r.doc_id: r for r in ipynb_text(df).collect()}
    good = rows[1]
    assert good.text == "# T\nbody\n\nx = 1\nprint(2)\n\ny = 3"
    assert (good.n_cells, good.n_code, good.n_markdown) == (4, 2, 1)
    assert (good.language, good.nbformat) == ("python", 4)
    junk = rows[2]
    assert junk.text is None and junk.n_cells == -1
    assert junk.n_code == -1 and junk.language is None


def test_code_stats_and_license_detect(spark):
    """r14: StarCoder-style per-file shape counters (exact integers)
    and SPDX-first license triage."""
    from pypond_spark.datapipe.code import code_stats, license_detect

    src = ("#!/usr/bin/env python\n"
           "# a comment\n"
           "  // indented c-style\n"
           "\t\n"
           "x = 1\n"
           "data = '" + "A" * 70 + "'\n"
           "# Auto-Generated file, do not edit\n")
    df = spark.createDataFrame([(1, src)], "doc_id long, text string")
    r = code_stats(df).collect()[0]
    assert r.n_lines == 8            # trailing \n makes empty 8th
    assert r.n_blank_lines == 2      # "\t" line + trailing empty
    assert r.n_comment_lines == 4    # shebang + two # lines + //
    assert r.max_line_len == 79      # the data line
    assert r.total_line_len == r.n_chars - 7   # 7 newlines
    assert r.n_blob_runs == 1 and r.has_autogen
    assert r.n_alnum == len([c for c in src if c.isalnum()])

    heads = [
        (0, "SPDX-License-Identifier: BSD-3-Clause\ncode", "BSD-3-Clause", True),
        (1, "Licensed under the Apache License, Version 2.0\n", "Apache-2.0", True),
        (2, "Permission is hereby granted, free of charge\n", "MIT", True),
        (3, "GNU General Public License v3\n", "GPL-3.0", False),
        (4, "GNU Lesser General Public License\n", "LGPL-3.0", False),
        (5, "no license here\n", None, None),
    ]
    df2 = spark.createDataFrame([(i, t) for i, t, _, _ in heads],
                                "doc_id long, text string")
    got = {r.doc_id: (r.license, r.permissive)
           for r in license_detect(df2).collect()}
    for i, _, lic, perm in heads:
        assert got[i] == (lic, perm), (i, got[i])


def test_chat_turns_stats_render(spark):
    """r14: messages-shape conversations via VARIANT — per-turn
    explode, SFT shape filters, ChatML rendering, junk triage."""
    from pypond_spark.datapipe.chat import (chat_turns, chat_stats,
                                            chat_render)

    good = ('{"messages":[{"role":"system","content":"be nice"},'
            '{"role":"user","content":"hi"},'
            '{"role":"assistant","content":"hello!"},'
            '{"role":"user","content":"bye"},'
            '{"role":"assistant","content":"ciao"}]}')
    doubled = ('{"messages":[{"role":"user","content":"a"},'
               '{"role":"user","content":"b"}]}')
    df = spark.createDataFrame(
        [(1, good), (2, doubled), (3, '{"messages":[]}'),
         (4, "junk {")], "doc_id long, content string")

    turns = {(r.doc_id, r.turn_idx): (r.role, r.content)
             for r in chat_turns(df).collect()}
    assert turns[(1, 0)] == ("system", "be nice")
    assert turns[(1, 4)] == ("assistant", "ciao")
    assert turns[(2, 1)] == ("user", "b")
    assert len(turns) == 7  # empty + junk contribute nothing

    st = {r.doc_id: r for r in chat_stats(df).collect()}
    g = st[1]
    assert (g.n_turns, g.n_user, g.n_assistant) == (5, 2, 2)
    assert g.has_system and g.alternates and g.ends_assistant
    assert (g.user_chars, g.assistant_chars) == (5, 10)
    assert not st[2].alternates and not st[2].has_system
    assert st[3].n_turns == 0 and not st[3].alternates
    assert st[4].n_turns == -1 and st[4].user_chars == -1

    rd = {r.doc_id: r.text for r in chat_render(df).collect()}
    assert rd[1].startswith("<|im_start|>system\nbe nice<|im_end|>\n"
                            "<|im_start|>user\nhi<|im_end|>")
    assert rd[1].endswith("<|im_start|>assistant\nciao<|im_end|>")
    assert rd[3] == "" and rd[4] is None


def test_aiff_codec_roundtrip():
    """r14: AIFF/AIFF-C decode+encode — all four container variants,
    the 80-bit extended-float rate, and the honest raises."""
    import pytest
    from pypond_spark.datapipe.aiff import (decode_aiff, encode_aiff,
                                            _read_ext80, _write_ext80)

    for rate in (8000, 11025, 22050, 44100, 48000, 96000, 1):
        assert _read_ext80(_write_ext80(rate)) == rate

    samples = [0, 1, -1, 32767, -32768, 1234, -4321, 7] * 16
    for comp in (None, "NONE", "sowt"):
        d = decode_aiff(encode_aiff(44100, 2, 16, samples, comp))
        assert d["samples"] == samples
        assert (d["channels"], d["sample_rate"], d["sample_size"],
                d["n_frames"]) == (2, 44100, 16, 64)
    for bits, probe in ((8, 127), (24, 1 << 22), (32, 1 << 30)):
        s = [0, probe, -probe - 1, 5]
        d = decode_aiff(encode_aiff(8000, 1, bits, s))
        assert d["samples"] == s and d["sample_size"] == bits

    # decode_audio dispatch + sniff
    from pypond_spark.datapipe.multimodal import (decode_audio,
                                                  _sniff_audio)
    blob = encode_aiff(8000, 1, 16, samples[:32], "sowt")
    a = decode_audio(blob)
    assert a["samples"] == samples[:32] and a["n_samples"] == 32
    assert _sniff_audio(blob) == ("aiff", 1, 8000, None, 16, 4)

    with pytest.raises(NotImplementedError):
        decode_aiff(encode_aiff(8000, 1, 16, samples, "NONE")
                    .replace(b"NONE", b"ulaw"))
    with pytest.raises(NotImplementedError):
        encode_aiff(8000, 1, 12, samples)
    with pytest.raises(ValueError):
        decode_aiff(b"FORM\x00\x00\x00\x04WAVE")
    trunc = encode_aiff(8000, 1, 16, samples)[:40]
    with pytest.raises(ValueError):
        decode_aiff(trunc)


def test_route_document_text_formats():
    """r14: the UTF-8 routing tail — latex/ipynb/markdown labels
    return raw text verbatim; plain prose stays text."""
    from pypond_spark.datapipe.document import route_document

    tex = "\\documentclass{article}\n\\begin{document}\nhi\\end{document}"
    assert route_document(tex.encode()) == ("latex", tex, 1)
    frag = "intro\n\\begin{document}\nbody"
    assert route_document(frag.encode())[0] == "latex"
    nb = '{"cells":[],"nbformat":4}'
    assert route_document(nb.encode()) == ("ipynb", nb, 1)
    md = "# Head\n\nbody [x](https://e.com)"
    assert route_document(md.encode()) == ("markdown", md, 1)
    # heading marker must be line-anchored, fences decisive
    assert route_document(b"a # not heading")[0] == "text"
    assert route_document(b"pre\n```\ncode\n```")[0] == "markdown"
    assert route_document(b"just prose, 100% plain.") \
        == ("text", "just prose, 100% plain.", 1)
    # html still wins over markdown markers inside tags
    html = "<html><body># x</body></html>"
    assert route_document(html.encode())[0] == "html"


def test_feed_entries(spark):
    """r14: RSS/Atom extraction via built-in from_xml — both wire
    formats normalized, attribute links, junk triage."""
    from pypond_spark.datapipe.feeds import feed_entries

    rss = ('<rss version="2.0"><channel><title>Feed T</title>'
           '<link>http://ex.com</link>'
           '<item><title>A1</title><link>http://ex.com/1</link>'
           '<pubDate>Mon, 01 Jan 2024 00:00:00 GMT</pubDate>'
           '<guid>g1</guid><description>d1</description></item>'
           '<item><title>A2</title><link>http://ex.com/2</link>'
           '</item></channel></rss>')
    atom = ('<feed xmlns="http://www.w3.org/2005/Atom">'
            '<title>AFeed</title>'
            '<entry><title>E1</title><link href="http://a.com/1"/>'
            '<updated>2024-01-01T00:00:00Z</updated><id>i1</id>'
            '<summary>s1</summary></entry>'
            '<entry><title>E2</title>'
            '<link href="http://a.com/2"/></entry></feed>')
    df = spark.createDataFrame(
        [(1, rss), (2, atom), (3, "junk"), (4, "<html/>")],
        "doc_id long, content string")
    rows = {(r.doc_id, r.entry_idx): r
            for r in feed_entries(df).collect()}
    assert len(rows) == 4  # junk + html contribute nothing
    r10 = rows[(1, 0)]
    assert (r10.feed_type, r10.feed_title, r10.title, r10.link,
            r10.entry_id) == ("rss", "Feed T", "A1",
                              "http://ex.com/1", "g1")
    assert rows[(1, 1)].published is None
    a0 = rows[(2, 0)]
    assert (a0.feed_type, a0.link, a0.published) == (
        "atom", "http://a.com/1", "2024-01-01T00:00:00Z")
    assert rows[(2, 1)].summary is None


def test_sitemap_urls(spark):
    """r14: sitemaps.org parsing — urlset vs sitemapindex dispatch,
    optional fields, junk triage."""
    from pypond_spark.datapipe.feeds import sitemap_urls

    us = ('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap'
          '/0.9"><url><loc>http://e.com/a</loc>'
          '<lastmod>2024-02-03</lastmod>'
          '<changefreq>daily</changefreq><priority>0.8</priority>'
          '</url><url><loc>http://e.com/b</loc></url></urlset>')
    ix = ('<sitemapindex><sitemap><loc>http://e.com/s1.xml</loc>'
          '<lastmod>2024-01-02</lastmod></sitemap>'
          '<sitemap><loc>http://e.com/s2.xml</loc></sitemap>'
          '</sitemapindex>')
    df = spark.createDataFrame([(1, us), (2, ix), (3, "junk")],
                               "doc_id long, content string")
    rows = {(r.doc_id, r.entry_idx): r
            for r in sitemap_urls(df).collect()}
    assert len(rows) == 4
    u0 = rows[(1, 0)]
    assert (u0.kind, u0.loc, u0.lastmod, u0.changefreq,
            u0.priority) == ("urlset", "http://e.com/a",
                             "2024-02-03", "daily", "0.8")
    assert rows[(1, 1)].priority is None
    i0 = rows[(2, 0)]
    assert (i0.kind, i0.loc, i0.lastmod) == (
        "index", "http://e.com/s1.xml", "2024-01-02")
    assert rows[(2, 1)].lastmod is None


def test_subtitle_cues(spark):
    """r14: SRT/WebVTT cue extraction — numbered cues, header/NOTE
    skip, cue ids + settings, tag stripping, no-hours timestamps,
    integer millis, junk triage."""
    from pypond_spark.datapipe.subtitles import subtitle_cues

    srt = ("1\n00:00:01,000 --> 00:00:04,000\nline one\nline two\n"
           "\n2\n00:01:05,250 --> 00:01:07,500\nnext cue\n")
    vtt = ("WEBVTT\n\nNOTE a comment\nspanning lines\n\n"
           "intro\n00:01.000 --> 00:04.000 align:start\n"
           "<v Roger>Hi there</v>\n\n"
           "00:00:05.000 --> 00:00:07.500\n<i>soft</i> words\n")
    df = spark.createDataFrame(
        [(1, srt), (2, vtt), (3, "no cues here")],
        "doc_id long, content string")
    rows = {(r.doc_id, r.cue_idx): r
            for r in subtitle_cues(df).collect()}
    assert len(rows) == 4
    assert rows[(1, 0)].text == "line one\nline two"
    assert (rows[(1, 0)].start_ms, rows[(1, 0)].end_ms) == (1000,
                                                            4000)
    assert (rows[(1, 1)].start_ms, rows[(1, 1)].end_ms) == (65250,
                                                            67500)
    assert rows[(2, 0)].fmt == "vtt"
    assert rows[(2, 0)].text == "Hi there"
    assert (rows[(2, 0)].start_ms, rows[(2, 0)].end_ms) == (1000,
                                                            4000)
    assert rows[(2, 1)].text == "soft words"
    # windows newlines normalize
    win = srt.replace("\n", "\r\n")
    got = subtitle_cues(spark.createDataFrame(
        [(9, win)], "doc_id long, content string")).collect()
    assert len(got) == 2 and got[0].text == "line one\nline two"


def test_exif_tags_roundtrip():
    """r14: EXIF reader/writer twins — full-tag roundtrip, inline
    short strings, big-endian payloads, triage on junk."""
    from pypond_spark.datapipe.multimodal import (encode_app1_exif,
                                                  exif_tags)

    app1 = encode_app1_exif("CamCo", "ZX-9", 6,
                            "2024:01:02 03:04:05",
                            exposure=(1, 125), iso=320,
                            focal=(85, 2))
    got = exif_tags(b"\xFF\xD8" + app1 + b"\xFF\xD9")
    assert got == {"make": "CamCo", "model": "ZX-9",
                   "orientation": 6,
                   "datetime": "2024:01:02 03:04:05",
                   "exposure_time": 1 / 125, "iso": 320,
                   "focal_length": 42.5}
    # short strings inline into the 4-byte value slot
    app2 = encode_app1_exif("A", "B", 1, "t")
    t2 = exif_tags(b"\xFF\xD8" + app2 + b"\xFF\xD9")
    assert (t2["make"], t2["model"], t2["datetime"]) == ("A", "B",
                                                         "t")
    # no APP1 / not a JPEG / truncated IFD -> None, never a raise
    assert exif_tags(b"\xFF\xD8\xFF\xD9") is None
    assert exif_tags(b"plain") is None
    assert exif_tags(b"\xFF\xD8" + app1[:20]) is None


def test_write_bucketed_colocated_join(spark, tmp_path):
    """r14: bucketed co-location — a join of two same-bucketed
    tables runs with ZERO exchanges and ZERO sorts (the pay-the-
    shuffle-once-at-write-time storage answer), and a groupBy on the
    bucket key is exchange-free too."""
    from pyspark.sql import functions as F
    from pypond_spark.datapipe.io import (bucketed_join, plan_shape,
                                          write_bucketed)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(20000).select(
            F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
        right = spark.range(20000).select(
            F.col("id").alias("k"), (F.col("id") % 31).alias("w"))
        write_bucketed(left, "bk_test_l", "k", 4,
                       path=str(tmp_path / "l"))
        write_bucketed(right, "bk_test_r", "k", 4,
                       path=str(tmp_path / "r"))
        # one file per bucket — the sort-elision precondition
        files = [p for p in (tmp_path / "l").iterdir()
                 if p.name.endswith(".parquet")]
        assert len(files) == 4

        j = bucketed_join(spark, "bk_test_l", "bk_test_r", "k")
        shape = plan_shape(j)
        assert shape["exchanges"] == 0, shape
        assert shape["sorts"] == 0, shape
        assert shape["smj"] == 1, shape
        assert j.count() == 20000

        agg = spark.table("bk_test_l").groupBy("k").agg(F.sum("v"))
        assert plan_shape(agg)["exchanges"] == 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_test_l")
        spark.sql("DROP TABLE IF EXISTS bk_test_r")


def test_code_stats_trailing_newline_boundary(spark):
    """r14 regexp_count spelling: the trailing empty line after a
    final newline must still count as blank (Java (?m)^ refuses
    that position; the correction term restores split semantics)."""
    from pypond_spark.datapipe.code import code_stats

    cases = {1: ("a\nb", 0), 2: ("a\nb\n", 1), 3: ("a\n\nb\n", 2),
             4: ("", 1), 5: ("\n", 2), 6: (" \t\n x\n", 2)}
    df = spark.createDataFrame(
        [(k, t) for k, (t, _) in cases.items()],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_blank_lines, r.total_line_len,
                      r.n_lines) for r in code_stats(df).collect()}
    for k, (t, want) in cases.items():
        parts = t.split("\n")
        assert got[k][0] == want, (k, got[k])
        # the total_line_len identity must equal the split sum
        assert got[k][1] == sum(len(p) for p in parts)
        assert got[k][2] == len(parts)


def test_csv_rows(spark):
    """r14: embedded CSV/TSV extraction via built-in from_csv —
    RFC 4180 quoting, blank-line drop, header skip, PERMISSIVE
    type errors, TSV separator."""
    from pypond_spark.datapipe.tables import csv_rows

    csv = ('name,qty,price,note\n'
           'alpha,3,1.5,"has, comma"\n'
           'beta,7,2.25,"a ""q"" mark"\n'
           '\n'
           'gamma,not_int,0.5,plain\n')
    df = spark.createDataFrame([(1, csv)],
                               "doc_id long, content string")
    rows = {r.row_idx: r for r in csv_rows(
        df, "name string, qty int, price double, note string")
        .collect()}
    assert len(rows) == 3
    assert (rows[0].name, rows[0].qty, rows[0].note) == (
        "alpha", 3, "has, comma")
    assert rows[1].note == 'a "q" mark'
    assert rows[2].qty is None and rows[2].price == 0.5
    # TSV, no header, CRLF
    tsv = "a\t1\r\nb\t2\r\n"
    got = csv_rows(spark.createDataFrame(
        [(2, tsv)], "doc_id long, content string"),
        "k string, v int", sep="\t", header=False).collect()
    assert [(r.row_idx, r.k, r.v) for r in got] == [(0, "a", 1),
                                                    (1, "b", 2)]


def test_feed_entries_cdata_and_entities(spark):
    """r14: real-world feed bytes — CDATA sections decode to their
    literal content (entities INSIDE CDATA stay raw, per XML), and
    entities outside CDATA decode."""
    from pypond_spark.datapipe.feeds import feed_entries

    rss = ('<rss version="2.0"><channel>'
           '<title><![CDATA[T & Co]]></title>'
           '<item><title><![CDATA[A <b>1</b>]]></title>'
           '<link>http://ex.com/1</link>'
           '<description><![CDATA[d &amp; e]]></description></item>'
           '<item><title>plain &amp; entity</title></item>'
           '</channel></rss>')
    df = spark.createDataFrame([(1, rss)],
                               "doc_id long, content string")
    rows = {r.entry_idx: r for r in feed_entries(df).collect()}
    assert rows[0].feed_title == "T & Co"
    assert rows[0].title == "A <b>1</b>"
    assert rows[0].summary == "d &amp; e"   # raw inside CDATA
    assert rows[1].title == "plain & entity"


def test_split_leakage_one_pass_semantics(spark):
    """The r14 one-gram-pass split_leakage reformulation (NULL-id train
    role rows + per-shingle window) must reproduce the old
    two-distinct-frames-plus-join semantics exactly: per test doc, the
    share of its DISTINCT shingles that occur anywhere in training."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(40)]
        + [(100, "alpha beta gamma delta unique tail here"),
           (101, "nothing shared with anything else at all")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in decontam.split_leakage(
        docs, {"train": 0.5, "test": 0.5}, train_split="train",
        test_split="test", shingle_n=3).collect()}
    # brute-force reference: same hash split, python shingles
    from pypond_spark.datapipe.sampling import assign_splits
    from pypond_spark.datapipe.dedup import word_shingles
    ref_rows = assign_splits(
        word_shingles(docs, "text", 3, "doc_id"),
        {"train": 0.5, "test": 0.5}, "doc_id", 0).collect()
    train_sh = {r["shingle"] for r in ref_rows if r["split"] == "train"}
    per_doc: dict[int, set] = {}
    for r in ref_rows:
        if r["split"] == "test":
            per_doc.setdefault(r["doc_id"], set()).add(r["shingle"])
    assert set(out) == set(per_doc)
    for d, sh in per_doc.items():
        leaked = len(sh & train_sh)
        assert out[d]["n_shingles"] == len(sh)
        assert out[d]["n_leaked"] == leaked
        assert out[d]["leak_share"] == round(leaked / len(sh), 6)
    # docs assigned to neither split never appear
    three_way = decontam.split_leakage(
        docs, {"train": 0.4, "val": 0.3, "test": 0.3}).collect()
    assert all(r["n_shingles"] >= 1 for r in three_way)
    # degenerate probe: train and test are the SAME split -> every
    # distinct test shingle leaks by definition (leak_share 1.0)
    same = decontam.split_leakage(
        docs, {"train": 0.5, "test": 0.5}, train_split="test",
        test_split="test", shingle_n=3).collect()
    assert same and all(r["leak_share"] == 1.0 and
                        r["n_leaked"] == r["n_shingles"] for r in same)


def test_staged_quality_metrics_match_single_projection(spark):
    """The r14 array-staging Generates (quality_stats, c4_stats,
    gopher_quality, language_id) must emit values identical to the
    single-projection expression forms on every edge shape: empty text,
    whitespace-only, no words, unicode, and ordinary prose."""
    docs = spark.createDataFrame(
        [(1, "The quick brown fox. Jumps over! The lazy dog? "
             "the and of a to in is it lorem"),
         (2, ""), (3, "   \n\n  "), (4, "{code} javascript lorem ipsum"),
         (5, "— …unicode… line one\n- bullet line\nends with dots...\n"),
         (6, "der die und das le la et les el los que y the and of")],
        "doc_id long, text string")
    # c4: staged vs expression form
    staged = {r["doc_id"]: r for r in textstats.c4_stats(docs).collect()}
    exprs = {r["doc_id"]: r for r in docs.select(
        "doc_id", *textstats.c4_exprs("text")).collect()}
    assert staged == exprs
    # gopher: staged vs expression form
    g_staged = {r["doc_id"]: r
                for r in textstats.gopher_quality(docs).collect()}
    g_exprs = {r["doc_id"]: r for r in docs.select(
        "doc_id", *textstats.gopher_exprs("text")).collect()}
    assert g_staged == g_exprs
    # language_id over the staged normalized-token array
    lang = {r["doc_id"]: r["lang_pred"]
            for r in textstats.language_id(docs).collect()}
    assert lang[1] == "en" and lang[6] == "de"
    assert lang[2] == "und" and lang[3] == "und"
    # quality_stats ratios from the staged token array
    q = {r["doc_id"]: r for r in textstats.quality_stats(docs).collect()}
    assert q[1]["n_words"] == 18 and q[1]["stopword_ratio"] == pytest.approx(10 / 18)
    assert q[2]["n_words"] == 0 and q[2]["stopword_ratio"] == 0.0
    assert q[3]["n_words"] == 0 and q[3]["avg_word_len"] == 0.0


def test_marker_count_regex_matches_token_filter_law(spark):
    """r15: the compiled-regex word/alpha/marker counters must equal the
    interpreted token-filter law they replaced, including the nasty
    edges: punctuation-wrapped markers, internal junk (kept by the
    normalizer, so NOT a hit), digits glued to markers, non-ASCII junk
    and NBSP (not Java whitespace), uppercase, empty/whitespace docs."""
    from pyspark.sql import functions as F
    from pypond_spark.datapipe._util import word_tokens
    from pypond_spark.datapipe.textstats import (
        GOPHER_STOPWORDS, _alpha_word_count_expr, _marker_hits_expr,
        _match_tokens, _word_count_expr)

    texts = [
        "The the, THE. tHe; ((the)) .-the-. the5 5the x-the the-the",
        "of OF of. ...of... of© ©of© ofof o-f",
        "and\tthat\nhave with.  be? to! of:",
        "", "   ", "\t\n", "a the b", "é the é", "ß ß ß",
        "the", ".the.", "the.", ".the", "- the -", "--", "the  the",
        "word " * 40 + "the...",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    toks, mtoks = word_tokens("text"), _match_tokens("text")
    old = df.select(
        "doc_id",
        F.size(toks).alias("nw"),
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
        .alias("alpha"),
        F.size(F.filter(mtoks, lambda t: t.isin(*GOPHER_STOPWORDS)))
        .alias("stop")).collect()
    new = df.select(
        "doc_id",
        _word_count_expr("text").alias("nw"),
        _alpha_word_count_expr("text").alias("alpha"),
        _marker_hits_expr("text", GOPHER_STOPWORDS).alias("stop")).collect()
    assert sorted(map(tuple, old)) == sorted(map(tuple, new))


def test_ascii_case_fold_scans_do_not_fold_unicode(spark):
    """The two compiled scans fold case for ASCII only (a pinned
    divergence, not the intended law): U+212A (Kelvin sign) and U+0130
    (capital I with dot) are not folded by ``_marker_hits_expr`` or by
    ``bm25_topk``'s corpus length scan, although the token normalizer's
    ``lower`` maps them to ``k`` and to ``i`` plus a combining dot."""
    import math

    from pypond_spark.datapipe.retrieval import bm25_topk
    from pypond_spark.datapipe.textstats import (_marker_hits_expr,
                                                 _match_tokens)

    df = spark.createDataFrame([(0, "KELVIN IS"), (1, "\u212aelvin \u0130s")],
                               "doc_id long, text string")
    got = {r["doc_id"]: (r["hits"], r["toks"]) for r in df.select(
        "doc_id", _marker_hits_expr("text", ["kelvin", "is"]).alias("hits"),
        _match_tokens("text").alias("toks")).collect()}
    assert got[0] == (2, ["kelvin", "is"])
    assert got[1] == (0, ["kelvin", "i\u0307s"])

    # doc 0 has three normalized tokens (apple, k, i) but the length scan
    # counts one, so avgdl = (1 + 2) / 2
    docs = spark.createDataFrame([(0, "apple \u212a \u0130"),
                                  (1, "apple pear")],
                                 "doc_id long, text string")
    qs = spark.createDataFrame([(7, "apple")], "query_id long, query string")
    scores = {r["doc_id"]: r["bm25"]
              for r in bm25_topk(docs, qs, k=2).collect()}
    idf, avgdl = math.log(1.2), 1.5
    for doc_id, dl in ((0, 3), (1, 2)):
        want = idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
        assert scores[doc_id] == pytest.approx(want, abs=1e-6)


def test_line_count_regexes_match_line_filter_law(spark):
    """r15: the compiled line counters must equal the interpreted
    line-filter law (trim/rtrim + rlike per line), including CR, tab,
    control-char and empty-line edges the Java $/(?m) terminator rules
    make treacherous."""
    from pyspark.sql import functions as F
    from pypond_spark.datapipe.textstats import (
        _bullet_line_count_expr, _ellipsis_line_count_expr,
        _line_count_expr, _lines, _nospace_len_expr)

    texts = [
        "", " ", "\n", "a\nb", "- one\n  * two\n\t\u2022 three\nx -",
        "...\nok...\nno... x\n...  \n... \r\n...\r\n...\r \n...\r\r\n",
        "\u2026\nend\u2026", "...\t\n...x", "......\n.. .",
        " \n\n- b\n \x0b- c", "-", "...", "...\r", "... \r", "...\r ",
        "a - b\nc ... d", "* \n\u2023x\n\u25aa",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    lines = _lines("text")
    old = df.select(
        "doc_id",
        F.size(lines).alias("nl"),
        F.size(F.filter(lines, lambda l: F.trim(l)
                        .rlike("^[-*\u2022\u2023\u25aa]"))).alias("bl"),
        F.size(F.filter(lines, lambda l: F.rtrim(l)
                        .rlike("(\\.\\.\\.|\u2026)$"))).alias("el"),
        F.length(F.regexp_replace("text", r"\s+", "")).alias("ns"),
    ).collect()
    new = df.select(
        "doc_id",
        _line_count_expr("text").alias("nl"),
        _bullet_line_count_expr("text").alias("bl"),
        _ellipsis_line_count_expr("text").alias("el"),
        _nospace_len_expr("text").alias("ns"),
    ).collect()
    assert sorted(map(tuple, old)) == sorted(map(tuple, new))
