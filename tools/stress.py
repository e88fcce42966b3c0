"""Throughput stress for the round-4-continuation operators at 20M rows.

Synthesizes a deterministic 20M-row event frame (5000 series) and a 2M x
64-dim embedding frame with column expressions (no data files, no rand()),
then times each operator against the noop sink — the same methodology as
SCALE.md's original 20M-row table.

Usage: python tools/stress.py [rows_millions] [op ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pypond_spark.session import get_spark  # noqa: E402


def events(spark, n_rows: int, n_series: int = 5000):
    """Deterministic irregular series: ~1 event/series/minute, value =
    slow trend + daily cycle + hash noise."""
    ms_per = 60_000 * n_series
    return (spark.range(n_rows)
            .withColumn("user_id", (F.col("id") % n_series).cast("long"))
            .withColumn("time", F.timestamp_millis(
                (F.col("id") / n_series).cast("long") * 60_000
                + F.pmod(F.xxhash64("id"), 60_000)))
            .withColumn("event_type",
                        F.element_at(F.array(F.lit("click"), F.lit("view"),
                                             F.lit("buy")),
                                     (F.col("id") % 3 + 1).cast("int")))
            .withColumn("value",
                        (F.col("id") / F.lit(float(ms_per))).cast("double")
                        + F.sin(F.col("id") % 1440 / F.lit(229.18))
                        * F.lit(10.0)
                        + (F.pmod(F.xxhash64("id", F.lit(1)), 1000)
                           / F.lit(100.0)))
            .drop("id"))


def documents(spark, n_docs: int, n_words: int = 100):
    """Deterministic doc corpus with guaranteed cross-doc repetition:
    every doc is ``n_words`` hash-picked words from a 500-word vocab
    (~6 chars each), and every third doc opens with the same 60-char
    boilerplate sentence — so repeated_spans finds real shared spans.
    Corpus size ~= n_docs * n_words * 7 chars."""
    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda i: F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("id") * 1000 + i), 500)
            .cast("string")))
    boiler = ("this boilerplate sentence repeats across one third "
              "of all documents ")
    text = F.concat_ws(" ", words)
    return (spark.range(n_docs)
            .select(F.col("id").alias("doc_id"),
                    F.when(F.col("id") % 3 == 0,
                           F.concat(F.lit(boiler), text))
                    .otherwise(text).alias("text")))


def documents_dups(spark, n_docs: int, n_words: int = 100):
    """Planted near-duplicate corpus for the end-to-end dedup stress tier.

    Docs come in groups of 5: the first three are independent; doc g+3 is
    doc g+2 with 2 of its 100 words re-hashed (expected 3-shingle Jaccard
    ~0.88, above the 0.8 keeper threshold), and doc g+4 is doc g+3 with 2
    FURTHER words re-hashed — so (g+2, g+4) sits near ~0.78, below the
    threshold, and the 3-doc cluster must form by label propagation
    through g+3 (diameter 2: convergence needs >1 round).  Everything is
    hash-derived from doc ids — deterministic, no data files."""
    r = F.col("id") % 5
    own_id = F.col("id")
    prev_id = F.col("id") - 1
    base3 = F.col("id") - 1   # doc g+3 copies g+2
    base4 = F.col("id") - 2   # doc g+4 copies g+2's words via g+3

    def seed(j):
        changed = (j == 0) | (j == 50)
        changed2 = (j == 1) | (j == 51)
        return (
            F.when((r == 3) & changed, own_id * 1_000_000 + j)
            .when((r == 4) & changed2, own_id * 1_000_000 + j)
            # g+4 inherits g+3's two changed words verbatim
            .when((r == 4) & changed, prev_id * 1_000_000 + j)
            .when(r == 3, base3 * 1000 + j)
            .when(r == 4, base4 * 1000 + j)
            .otherwise(own_id * 1000 + j))

    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda j: F.concat(F.lit("w"),
                           F.pmod(F.xxhash64(seed(j)), 500).cast("string")))
    return (spark.range(n_docs)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(" ", words).alias("text")))


def embeddings(spark, n_rows: int, dim: int = 64):
    comps = [(F.pmod(F.xxhash64("id", F.lit(i)), 2001) / F.lit(1000.0)
              - F.lit(1.0)).cast("float") for i in range(dim)]
    return (spark.range(n_rows)
            .select(F.col("id").alias("vec_id"),
                    F.array(*comps).alias("embedding")))


def sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _neardup_index_stress(docs) -> float:
    """Index 90% of the (planted-dup) corpus once, then dedup the other
    10% against it — the per-batch wall is what the stress table rows
    report (the build is printed separately)."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F2

    from pypond_spark.datapipe.dedup import (dedup_against_neardup,
                                             write_neardup_index)
    path = tempfile.mkdtemp(prefix="stress_ndidx_")
    try:
        corpus = docs.where(F2.col("doc_id") % 10 != 0)
        batch = docs.where(F2.col("doc_id") % 10 == 0).localCheckpoint()
        t0 = _time.time()
        write_neardup_index(corpus, path)
        print(f"    [neardup_index] index build (untimed row): "
              f"{_time.time() - t0:.1f}s")
        t1 = _time.time()
        kept = dedup_against_neardup(batch, path, threshold=0.8)
        n_kept = kept.count()
        wall = _time.time() - t1      # the TABLE ROW: per-batch path only
        print(f"    [neardup_index] batch phase {wall:.1f}s: "
              f"{batch.count():,} docs -> kept {n_kept:,}")
        return wall
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _neardup_generations_stress(docs, n_generations: int = 10) -> float:
    """Verdict r10 item 5: N append generations grow every hot prefix's
    file count linearly, and the pruned scan pays per file OPENED — so
    the per-batch wall degrades with generation count until
    compact_neardup_index rewrites each prefix.  Prints the batch-phase
    wall at generation 1, at generation N (uncompacted), and at
    generation N after compaction; the TABLE ROW is the compacted wall
    (the steady state a compacting ingest loop actually runs at)."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F2

    from pypond_spark.datapipe.dedup import (compact_neardup_index,
                                             dedup_against_neardup,
                                             write_neardup_index)
    spark = docs.sparkSession
    path = tempfile.mkdtemp(prefix="stress_ndgen_")
    try:
        gen = F2.pmod(F2.col("doc_id"), n_generations + 1)
        batch = docs.where(gen == n_generations).localCheckpoint()

        def batch_wall() -> float:
            t = _time.time()
            dedup_against_neardup(batch, path, threshold=0.8).count()
            return _time.time() - t

        write_neardup_index(docs.where(gen == 0), path)
        w1 = batch_wall()
        print(f"    [neardup_generations] gen 1: batch {w1:.1f}s")
        for g in range(1, n_generations):
            write_neardup_index(docs.where(gen == g), path,
                                mode="append")
        wn = batch_wall()
        stats = compact_neardup_index(spark, path)
        wc = batch_wall()
        print(f"    [neardup_generations] gen {n_generations}: batch "
              f"{wn:.1f}s uncompacted ({stats['bands_files_before']} "
              f"band files) -> {wc:.1f}s compacted "
              f"({stats['bands_files_after']} files)")
        return wc
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _neardup_small_batch_stress(docs, batch_docs: int = 1000) -> float:
    """The production incremental-ingest shape: a SMALL fixed batch
    against a large index.  At prefix_chars=2 any batch past ~1,500
    band keys touches all 256 directories and the scan degenerates to
    the whole index; prefix_chars=4 keeps a 2,000-band batch inside
    ~2,000 of 65,536 directories.  Builds the same index at k=2 and
    k=4 and times the same batch against both; the TABLE ROW is the
    k=4 wall."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F2

    from pypond_spark.datapipe.dedup import (dedup_against_neardup,
                                             write_neardup_index)
    corpus = docs.where(F2.col("doc_id") >= batch_docs)
    batch = docs.where(F2.col("doc_id") < batch_docs).localCheckpoint()
    walls = {}
    for k in (2, 4):
        path = tempfile.mkdtemp(prefix=f"stress_ndk{k}_")
        try:
            t0 = _time.time()
            write_neardup_index(corpus, path, prefix_chars=k)
            build = _time.time() - t0
            # warm + timed batch phase
            dedup_against_neardup(batch, path, threshold=0.8,
                                  prefix_chars=k).count()
            t1 = _time.time()
            dedup_against_neardup(batch, path, threshold=0.8,
                                  prefix_chars=k).count()
            walls[k] = _time.time() - t1
            print(f"    [neardup_small_batch] k={k}: build {build:.1f}s,"
                  f" {batch_docs}-doc batch {walls[k]:.1f}s warm")
        finally:
            shutil.rmtree(path, ignore_errors=True)
    return walls[4]


def _attribution_chain_stress(ev) -> float:
    """sf1-class tier for the chained stateful attribution (stream-
    stream interval join -> append-mode windowed argmax): write the
    event frame to parquet, drain stream_attribution_touch(horizon=1h)
    with availableNow at the stream state width, report the drain
    wall.  The per-key state is one open window row per click plus the
    join buffers the watermark hasn't released — O(active horizon),
    not O(events) — so the wall should scale ~linearly in event count."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F2

    from pypond_spark.streaming.stream import (_drain_available_now,
                                               stream_attribution_touch)
    spark = ev.sparkSession
    src = tempfile.mkdtemp(prefix="stress_attr_")
    try:
        (ev.withColumn("event_id",
                       F2.xxhash64("user_id", "time", "event_type"))
         .write.mode("overwrite").parquet(src))
        schema = spark.read.parquet(src).schema
        # two independent source instances (the driver-row pattern):
        # both sides carrying their own watermark over one shared
        # source node stalls emission
        views = (spark.readStream.schema(schema).parquet(src)
                 .where(F2.col("event_type") == "view")
                 .select("user_id", F2.col("event_id").alias("view_id"),
                         "time"))
        clicks = (spark.readStream.schema(schema).parquet(src)
                  .where(F2.col("event_type") == "click")
                  .select("user_id",
                          F2.col("event_id").alias("click_id"), "time"))
        out = stream_attribution_touch(views, clicks, horizon="1h")
        t0 = _time.time()
        # parquet sink, not memory: the memory sink collects every
        # result row into the driver and OOMs at the 10x tiers
        _drain_available_now(spark, out.writeStream.format("parquet")
                             .option("path", src + "/out")
                             .option("checkpointLocation", src + "/ck")
                             .outputMode("append"))
        wall = _time.time() - t0
        n = spark.read.parquet(src + "/out").count()
        print(f"    [attribution_chain] drain {wall:.1f}s -> "
              f"{n:,} attributed clicks")
        return wall
    finally:
        shutil.rmtree(src, ignore_errors=True)


def _video_neardup_stress(spark) -> float:
    """r12: video_near_dups under many-still-frame skew.  200 videos
    (20 distinct contents x 10 copies) where EVERY frame of a video is
    the same still image — the worst case for a frame-hash join,
    because without the per-video DISTINCT-hash guard each video would
    contribute F rows to its hash bucket and the candidate join would
    grow as (10F)^2 per content key.  Two tiers 10x apart in frames
    per video; with the guard, wall must track DECODE cost (~linear in
    frames), the pair count must not move at all."""
    import hashlib
    import time as _time

    import pandas as _pd

    from pypond_spark.datapipe.y4m import encode_y4m, video_near_dups

    walls = []
    for frames_per_video in (12, 120):
        base = spark.range(200).selectExpr("id AS media_id")

        def enc(batches, fpv=frames_per_video):
            for pdf in batches:
                rows = []
                for mid in pdf["media_id"]:
                    still = hashlib.md5(
                        f"still{int(mid) % 20}".encode()).digest() * 4
                    rows.append((int(mid),
                                 encode_y4m(8, 8, [still[:64]] * fpv)))
                yield _pd.DataFrame(rows,
                                    columns=["media_id", "content"])

        vids = base.mapInPandas(enc, "media_id long, content binary") \
            .localCheckpoint()
        t0 = _time.time()
        n_pairs = video_near_dups(vids, every_n=1, min_shared=0.5).count()
        walls.append(_time.time() - t0)
        print(f"    [video_near_dups] {frames_per_video} still frames/"
              f"video: {walls[-1]:.1f}s, {n_pairs:,} pairs")
    print(f"    [video_near_dups] 10x frames -> "
          f"{walls[1] / walls[0]:.2f}x wall")
    return walls[1]


def _extract_content_stress(spark) -> float:
    """r12: extract_content under pathological block counts — pages of
    thousands of TINY blocks (the tag-soup worst case for the block
    explode + per-doc reassembly groupBy).  Fixed 20k docs, two tiers
    10x apart in blocks per doc (40 -> 400); wall should be ~linear in
    total blocks, and the collect_list reassembly stays per-doc
    bounded (no corpus-wide window anywhere)."""
    import time as _time

    from pyspark.sql import functions as F2

    from pypond_spark.datapipe.textstats import extract_content

    walls = []
    for bpd in (40, 400):
        docs = spark.range(20_000).select(
            F2.col("id").alias("doc_id"),
            F2.concat(
                F2.lit("<html><body>"),
                F2.array_join(F2.transform(
                    F2.sequence(F2.lit(0), F2.lit(bpd - 1)),
                    lambda i: F2.concat(
                        F2.lit("<p>block "), i, F2.lit(" of doc "),
                        F2.col("id"),
                        F2.lit(" with just enough words to pass the "
                               "content gate sometimes maybe</p>"
                               "<div><a href='/x'>nav</a></div>"))),
                    ""),
                F2.lit("</body></html>")).alias("text")) \
            .localCheckpoint()
        t0 = _time.time()
        n = extract_content(docs).where(F2.col("n_content") > 0).count()
        walls.append(_time.time() - t0)
        print(f"    [extract_content] {bpd} blocks/doc: "
              f"{walls[-1]:.1f}s, {n:,} docs with content")
    print(f"    [extract_content] 10x blocks -> "
          f"{walls[1] / walls[0]:.2f}x wall")
    return walls[1]


def _transcode_stress(spark, n: int) -> float:
    """r12: transcode_payload charset-ladder worst case — every row
    declares a charset whose decode RAISES (utf-8 label on invalid
    bytes), so each row pays declared-attempt + strict-utf-8 retry and
    lands on the latin-1 rung.  Two tiers 10x apart in rows; wall must
    stay linear (the double-exception path is per-row bounded)."""
    import time as _time

    from pyspark.sql import functions as F2

    from pypond_spark.datapipe.warc import transcode_payload

    walls = []
    for rows in (n // 10, n):
        df = spark.range(rows).select(
            F2.col("id").alias("doc_id"),
            # 0xE9 + '!' is invalid UTF-8 mid-sequence: the declared
            # utf-8 rung raises, the strict retry raises, latin-1 wins
            F2.concat(F2.lit(b"\xe9!bad utf8 payload row "),
                      F2.encode(F2.col("id").cast("string"), "utf-8"))
            .alias("content"),
            F2.lit("utf-8").alias("charset")).localCheckpoint()
        t0 = _time.time()
        bad = transcode_payload(df) \
            .where(F2.col("had_errors") & (F2.col("used_charset")
                                           == "latin-1")).count()
        walls.append(_time.time() - t0)
        assert bad == rows, (bad, rows)
        print(f"    [transcode_payload] {rows:,} all-failing rows: "
              f"{walls[-1]:.1f}s")
    print(f"    [transcode_payload] 10x rows -> "
          f"{walls[1] / walls[0]:.2f}x wall")
    return walls[1]


def _robots_stress(ev):
    """n URLs over 1,000 hosts (each with a 5-rule robots.txt, rules
    exercising wildcard/anchor/allow-override) through the full
    robots_filter decision: per-host group window, LIKE translation,
    distinct-(host,path) decision table, join back."""
    from pyspark.sql import functions as F2

    from pypond_spark.datapipe.urls import parse_robots, robots_filter
    spark = ev.sparkSession
    urls = ev.selectExpr(
        "concat('https://h', pmod(xxhash64(user_id), 1000), "
        "'.com/p', pmod(xxhash64(value), 40), '/f', "
        "pmod(xxhash64(time), 50), "
        "if(pmod(xxhash64(event_type), 2) = 0, '.pdf', '.html')) "
        "AS url")
    robots = spark.range(1000).select(
        F2.concat(F2.lit("h"), F2.col("id"), F2.lit(".com"))
        .alias("host"),
        F2.concat(
            F2.lit("User-agent: *\nDisallow: /p1/\nAllow: /p1/f2*\n"
                   "Disallow: /*.pdf$\nDisallow: /p"),
            F2.pmod(F2.col("id"), 7), F2.lit("/")).alias("robots_txt"))
    return robots_filter(urls, parse_robots(robots), agent="*")


def _dedup_audit(docs, dedup_documents, lsh_band_buckets) -> float:
    """Timed full dedup chain + untimed scale diagnostics.

    Returns the chain-only wall seconds (checkpoint + sink), which the
    stress table prints — the diagnostic passes below (two counts and a
    full lsh_band_buckets recompute for occupancy) run AFTER the clock
    stops, so they never inflate the throughput row.  The extra prints
    are the quantities the 100-TB argument rests on: bucket occupancy
    (candidate-join cost is sum over buckets of |bucket|^2 — it must stay
    linear-ish in docs, never corpus^2), how many docs were dropped, and
    how many label-propagation rounds the planted diameter-2 clusters
    took."""
    import time as _time
    stats: dict = {}
    t0 = _time.time()
    out = dedup_documents(docs, stats=stats).localCheckpoint()
    sink(out)
    wall = _time.time() - t0
    n_docs = out.count()
    n_dropped = out.where(~F.col("is_keeper")).count()
    buckets = lsh_band_buckets(docs)
    occ = buckets.groupBy("band").count()
    row = occ.agg(F.count("*").alias("n_buckets"),
                  F.max("count").alias("max_occ"),
                  F.sum(F.col("count") * F.col("count")).alias("sum_sq")
                  ).first()
    print(f"    [dedup audit] docs={n_docs:,} dropped={n_dropped:,} "
          f"rounds={stats.get('rounds')} buckets={row['n_buckets']:,} "
          f"max|bucket|={row['max_occ']} sum|bucket|^2={row['sum_sq']:,}")
    return wall




def documents_mega(spark, n_docs: int, cluster_size: int = 100_000,
                   n_words: int = 100):
    """Adversarial-skew corpus: the first ``cluster_size`` docs are one
    planted near-dup mega-cluster (98 of 100 words shared boilerplate,
    2 member-specific — the web-crawl "same template everywhere" case),
    the rest independent.  Every member's minhash bands collide on the
    shared shingles, so one LSH bucket holds the whole cluster — the
    |bucket|² blowup max_bucket= exists to stop."""
    in_c = F.col("id") < cluster_size

    def seed(j):
        member_specific = (j == 0) | (j == 50)
        return (F.when(in_c & member_specific,
                       F.col("id") * 1_000_000 + j)
                .when(in_c, F.lit(777_000_000) + j)
                .otherwise(F.col("id") * 1000 + j))

    words = F.transform(
        F.sequence(F.lit(0), F.lit(n_words - 1)),
        lambda j: F.concat(F.lit("w"),
                           F.pmod(F.xxhash64(seed(j)), 500)
                           .cast("string")))
    return (spark.range(n_docs)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(" ", words).alias("text")))


def _mega_audit(mega_docs, cluster_size, lsh_candidate_pairs,
                lsh_band_buckets, dup_clusters) -> float:
    """Timed capped-LSH pairs + label propagation over the planted
    mega-cluster; untimed occupancy audit after the clock stops.
    The numbers the skew argument rests on: max bucket occupancy (the
    cluster size — the adversarial input), capped pair count
    (max_bucket² + |bucket| per band, NOT |bucket|²), propagation
    rounds, and how much of the planted cluster one label reached."""
    import time as _time
    stats: dict = {}
    t0 = _time.time()
    pairs = lsh_candidate_pairs(mega_docs, num_hashes=8, band_size=4,
                                max_bucket=8).localCheckpoint()
    comp = dup_clusters(pairs, stats=stats, max_iter=50).localCheckpoint()
    wall = _time.time() - t0
    n_pairs = pairs.count()
    buckets = lsh_band_buckets(mega_docs)
    occ = buckets.groupBy("band").count()
    row = occ.agg(F.max("count").alias("max_occ"),
                  F.sum(F.col("count") * F.col("count"))
                  .alias("sum_sq_uncapped")).first()
    in_main = (comp.where(F.col("id") < cluster_size)
               .groupBy("cluster_id").count()
               .agg(F.max("count")).first()[0])
    print(f"    [mega audit] cluster={cluster_size:,} "
          f"max|bucket|={row['max_occ']:,} "
          f"uncapped sum|bucket|^2={row['sum_sq_uncapped']:,} "
          f"capped pairs={n_pairs:,} rounds={stats.get('rounds')} "
          f"largest label covers={in_main:,}/{cluster_size:,}")
    return wall


def _pdf_extract_stress(spark, n: int) -> float:
    """r14: PDF extraction heavy-tail tier — two corpus sizes 10x
    apart, every document DAMAGED in the ways the parser advertises
    surviving (rotating by doc id): garbaged xref table, injected
    junk objects, and a short /DecodeParms array next to an array
    /Filter.  Synthesis is localCheckpointed before the clock; the
    timed pass is extract_pdf_text + a page-count assertion, so a
    silently-dropped page fails the stress run rather than skewing
    the throughput number."""
    import time as _time

    from pyspark.sql import functions as F2

    walls = []
    for docs_n in (max(n // 20000, 100), max(n // 2000, 1000)):
        def synth(batches, docs_n=docs_n):
            import re as _re

            import pandas as _pd

            from pypond_spark.datapipe.pdf import encode_pdf
            for pdf_ in batches:
                rows = []
                for did in pdf_["id"]:
                    did = int(did)
                    pages = ["\n".join(
                        f"line-{did}-{p}-{li} lorem ipsum dolor"
                        for li in range(3))
                        for p in range(1 + did % 3)]
                    data = encode_pdf(
                        pages,
                        compress=(False, True, "lzw")[did % 3])
                    if did % 3 == 0:
                        # xref garbage: brute scan must not care
                        data = _re.sub(
                            rb"xref\n.*?trailer",
                            b"xref\n0 0\n%% damaged table\ntrailer",
                            data, flags=_re.S)
                    elif did % 3 == 1:
                        # junk object mid-file: parse() must skip it
                        data = data.replace(
                            b"\n2 0 obj",
                            b"\n99 0 obj\n<<< not a dict ((\nendobj"
                            b"\n2 0 obj", 1)
                    else:
                        # array filter + SHORT DecodeParms array
                        data = data.replace(
                            b"/Filter /LZWDecode",
                            b"/Filter [/LZWDecode] /DecodeParms []")
                    rows.append((did, 1 + did % 3, data))
                yield _pd.DataFrame(
                    rows, columns=["doc_id", "n_pages", "content"])

        pdfs = (spark.range(docs_n)
                .repartition(spark.sparkContext.defaultParallelism)
                .mapInPandas(synth, "doc_id long, n_pages int, "
                                    "content binary")
                .localCheckpoint())
        want_pages = pdfs.agg(F2.sum("n_pages")).first()[0]

        from pypond_spark.datapipe.pdf import extract_pdf_text
        t0 = _time.time()
        got = extract_pdf_text(pdfs).count()
        walls.append(_time.time() - t0)
        assert got == want_pages, (got, want_pages)
        print(f"    [pdf_extract] {docs_n:,} damaged docs "
              f"({got:,} pages): {walls[-1]:.1f}s "
              f"({walls[-1] / docs_n * 1000:.2f} ms/doc)")
    print(f"    [pdf_extract] 10x docs -> "
          f"{walls[1] / walls[0]:.2f}x wall")
    return walls[1]


def _variant_extract_stress(spark, n: int) -> float:
    """r14: the VARIANT/from_xml extraction tier — notebook, chat
    and RSS parsing at two corpus sizes 10x apart.  Synthesis is
    pure column concat (no Python), localCheckpointed before the
    clock; the timed pass parses all three formats and asserts
    exact output counts, so a dropped cell/turn/entry fails the
    stress run instead of flattering the throughput number."""
    import time as _time

    from pyspark.sql import functions as F2

    from pypond_spark.datapipe.chat import chat_stats
    from pypond_spark.datapipe.feeds import feed_entries
    from pypond_spark.datapipe.notebook import ipynb_text

    walls = []
    for docs_n in (max(n // 20000, 100), max(n // 2000, 1000)):
        def h(tag):
            return F2.md5(F2.concat(F2.col("id").cast("string"),
                                    F2.lit(tag)))
        base = (spark.range(docs_n)
                .repartition(spark.sparkContext.defaultParallelism)
                .select(
                    F2.col("id").alias("doc_id"),
                    F2.concat(
                        F2.lit('{"cells":[{"cell_type":"markdown",'
                               '"source":["# '), h("n1"),
                        F2.lit('"]},{"cell_type":"code","source":'
                               '"x = 1 # '), h("n2"),
                        F2.lit('"}],"metadata":{"kernelspec":'
                               '{"language":"python"}},'
                               '"nbformat":4}')).alias("nb"),
                    F2.concat(
                        F2.lit('{"messages":[{"role":"user",'
                               '"content":"q '), h("c1"),
                        F2.lit('"},{"role":"assistant",'
                               '"content":"a '), h("c2"),
                        F2.lit('"}]}')).alias("chat"),
                    F2.concat(
                        F2.lit('<rss version="2.0"><channel>'
                               '<title>T</title><item><title>t '),
                        h("f1"),
                        F2.lit('</title><link>http://x/1</link>'
                               '</item><item><title>u '), h("f2"),
                        F2.lit('</title></item></channel></rss>'))
                    .alias("feed"))
                .localCheckpoint())
        t0 = _time.time()
        nb_n = ipynb_text(base, content_col="nb") \
            .where(F2.col("n_code") == 1).count()
        ch_n = chat_stats(base, content_col="chat") \
            .where(F2.col("alternates")).count()
        fe_n = feed_entries(base, content_col="feed").count()
        walls.append(_time.time() - t0)
        assert nb_n == docs_n and ch_n == docs_n \
            and fe_n == 2 * docs_n, (nb_n, ch_n, fe_n, docs_n)
        print(f"    [variant_extract] {docs_n:,} docs x 3 formats: "
              f"{walls[-1]:.1f}s "
              f"({walls[-1] / docs_n * 1000:.3f} ms/doc)")
    print(f"    [variant_extract] 10x docs -> "
          f"{walls[1] / walls[0]:.2f}x wall")
    return walls[1]


def _textchain_stress(spark, n: int) -> float:
    """r14: the scan-level text-transform tier — the strip_latex
    30-rule and strip_markdown 21-rule regexp chains, the code_stats
    list reductions, and the subtitle cue parse, each timed
    separately over the SAME ~600-char doc frame at two sizes 10x
    apart.  Regexp chains are the one scan-level pattern whose cost
    is easy to underestimate (30 sequential Java-regex passes per
    value), so this tier gets its own per-op ms/doc numbers."""
    import time as _time

    from pyspark.sql import functions as F2

    from pypond_spark.datapipe.code import code_stats
    from pypond_spark.datapipe.subtitles import subtitle_cues
    from pypond_spark.datapipe.textstats import (strip_latex,
                                                 strip_markdown)

    walls = []
    for docs_n in (max(n // 20000, 100), max(n // 2000, 1000)):
        docs = (documents(spark, docs_n)
                .withColumnRenamed("doc_id", "doc_id")
                .localCheckpoint())
        srt = docs.select("doc_id", F2.concat(
            F2.lit("1\n00:00:01,000 --> 00:00:02,000\n"),
            F2.substring("text", 1, 80),
            F2.lit("\n\n2\n00:00:03,000 --> 00:00:04,000\n"),
            F2.substring("text", 81, 80)).alias("content"))
        t0 = _time.time()
        per = {}
        for name, job in (
                ("strip_latex", lambda: sink(strip_latex(docs))),
                ("strip_markdown",
                 lambda: sink(strip_markdown(docs))),
                ("code_stats", lambda: sink(code_stats(docs))),
                ("subtitle_cues",
                 lambda: sink(subtitle_cues(srt)))):
            s = _time.time()
            job()
            per[name] = _time.time() - s
        walls.append(_time.time() - t0)
        per_s = " ".join(f"{k}={v:.1f}s" for k, v in per.items())
        print(f"    [textchain] {docs_n:,} docs: {walls[-1]:.1f}s "
              f"({walls[-1] / docs_n * 1000:.3f} ms/doc) [{per_s}]")
    print(f"    [textchain] 10x docs -> "
          f"{walls[1] / walls[0]:.2f}x wall")
    return walls[1]


def main() -> None:
    mrows = float(sys.argv[1]) if len(sys.argv) > 1 else 20.0
    only = set(sys.argv[2:])
    if "pq_encode_arrow_2m" in only:
        only.add("pq_build_arrow_2m")   # the encode needs its codebooks
    n = int(mrows * 1_000_000)
    spark = get_spark("pypond_stress")
    spark.sparkContext.setLogLevel("ERROR")
    emb_ops = {"pq_build_arrow_2m", "pq_encode_arrow_2m"}
    doc_ops = {"repeated_spans", "dsir_weights", "pack_bins",
               "char_entropy", "rrf_fusion", "bpe_tokenize", "nb_quality",
               "cms_sketch", "heavy_hitters", "bloom_roundtrip",
               "hll_registers", "unigram_apply", "wordpiece_apply",
               "longest_match", "bpe_bytes_apply", "kn3_logprob",
               "kn3_logprob_pruned", "neardup_index",
               "neardup_generations", "neardup_small_batch"}
    self_synth = {"video_near_dups", "extract_content",
                  "transcode_payload", "pdf_extract",
                  "variant_extract",
                  "textchain"}           # r12/r14: build their own frames
    ev_needed = not only or bool(
        only - emb_ops - doc_ops - self_synth
        - {"dedup_mega_cluster", "dedup_documents"})
    emb_needed = not only or bool(only & emb_ops)
    docs_needed = not only or bool(only & doc_ops)
    dup_docs_needed = not only or "dedup_documents" in only
    mega_needed = "dedup_mega_cluster" in only
    # exclude synthesis cost; skip when no selected op reads the frame
    ev = events(spark, n).localCheckpoint() if ev_needed else None
    emb = embeddings(spark, max(n // 10, 1)).localCheckpoint() \
        if emb_needed else None
    docs = documents(spark, max(n // 700, 1)).localCheckpoint() \
        if docs_needed else None
    dup_docs = documents_dups(spark, max(n // 700, 1)).localCheckpoint() \
        if dup_docs_needed else None
    # mega tier: cluster = 1/10 of the corpus, floor 1000
    mega_cluster = max(min(n // 700 // 10, 1_000_000), 1000)
    mega_docs = documents_mega(spark, max(n // 700, 1), mega_cluster) \
        .localCheckpoint() if mega_needed else None

    from pypond_spark.operators.aggregate import densify_rollup
    from pypond_spark.operators.correlate import (autocorrelation,
                                                  rolling_correlation,
                                                  theil_sen)
    from pypond_spark.operators.incremental import merge_rollups
    from pypond_spark.operators.rolling import holt_winters
    from pypond_spark.operators.skew import salted_join
    from pypond_spark.datapipe.dedup import (dedup_documents,
                                             dup_clusters,
                                             lsh_band_buckets,
                                             lsh_candidate_pairs,
                                             repeated_spans)
    from pypond_spark.datapipe.sampling import (pack_bins_ffd,
                                                rrf_fusion)
    from pypond_spark.datapipe.textstats import char_entropy
    from pypond_spark.datapipe.sampling import dsir_weights
    from pypond_spark.datapipe.similarity import pq_build, pq_encode

    if ev_needed:
        half = ev.where(F.col("user_id") < 2500)
        dim_df = (ev.select("user_id").distinct()
                  .withColumn("segment", F.pmod(F.col("user_id"), 7)))
        hot = ev.withColumn(
            "user_id", F.when(F.pmod(F.xxhash64("time"), 10) < 9, F.lit(0))
            .otherwise(F.col("user_id")))  # 90% of rows on key 0

    def roll(d):
        from pypond_spark import TimeSeries
        return TimeSeries(d, kind="time").fixed_window_rollup(
            "1h", {"v_sum": {"value": "sum"}, "n": {"value": "count"}},
            group_by="event_type").df

    books_holder = {}

    ops = {
        "holt_winters": lambda: sink(holt_winters(
            ev, "value", period=24, partition_by=["user_id"])),
        "autocorrelation": lambda: sink(autocorrelation(
            ev, "value", lags=(1, 2, 24), bucket="1h",
            partition_by=["user_id"])),
        "theil_sen": lambda: sink(theil_sen(
            ev, "value", bucket="1h", partition_by=["user_id"])),
        "rolling_correlation": lambda: sink(rolling_correlation(
            ev, "event_type", "click", "view", bucket="1h", lookback=24)),
        "salted_join_hotkey": lambda: sink(
            salted_join(hot, dim_df, "user_id", salt=32)
            .groupBy("segment").agg(F.sum("value"))),
        "plain_join_hotkey": lambda: sink(
            hot.join(dim_df, "user_id")
            .groupBy("segment").agg(F.sum("value"))),
        "merge_rollups": lambda: sink(merge_rollups(
            [roll(half), roll(ev.where(F.col("user_id") >= 2500))],
            ["index", "event_type"], {"v_sum": "sum", "n": "count"})),
        "densify_rollup": lambda: sink(densify_rollup(
            roll(ev), "1h", group_by="event_type",
            fill={"v_sum": 0.0, "n": 0})),
        # the build fills books_holder, so it runs before the encode
        "pq_build_arrow_2m": lambda: books_holder.update(
            books=pq_build(emb, n_blocks=8, n_codes=16, n_iters=2,
                           dim=64)),
        "pq_encode_arrow_2m": lambda: sink(pq_encode(
            emb, books_holder["books"])),
        # k-gram sweep tier: corpus-CHARS is the inherent size, so the
        # synthetic corpus targets ~n chars (n/700 docs x ~700 chars);
        # docs checkpointed ABOVE so synthesis is excluded from timing
        "repeated_spans": lambda: sink(repeated_spans(docs, k=50)),
        # DSIR tier: ~n chars of raw corpus, every third doc the target
        "dsir_weights": lambda: sink(dsir_weights(
            docs, docs.where(F.col("doc_id") % 3 == 0), n_buckets=4096)),
        # r7 text ops over the ~n-char corpus
        "pack_bins": lambda: sink(pack_bins_ffd(
            docs, max_tokens=512, n_shards=256)),
        "char_entropy": lambda: sink(char_entropy(docs)),
        "rrf_fusion": lambda: sink(rrf_fusion(
            docs.selectExpr("doc_id", "length(text) AS len",
                            "length(replace(text, ' ', '')) AS dense"),
            ["len", "dense"], k=60)),
        # BPE inference: 16-rank replace chain over the ~n-char corpus
        "bpe_tokenize": lambda: sink(__import__(
            "pypond_spark.datapipe.tokenize", fromlist=["bpe_apply"])
            .bpe_apply(docs, [("t", "a"), ("ta", "b"), ("tab", "l"),
                              ("tabl", "e"), ("k", "e"), ("ke", "y"),
                              ("s", "c"), ("sc", "a"), ("sca", "n"),
                              ("v", "a"), ("va", "l"), ("val", "u"),
                              ("valu", "e"), ("h", "a"), ("ha", "s"),
                              ("has", "h")])
            .select("doc_id", "n_tokens")),
        # NB classifier: train on every third doc as positive, score all
        "nb_quality": lambda: sink(__import__(
            "pypond_spark.datapipe.textstats",
            fromlist=["nb_quality_classifier"])
            .nb_quality_classifier(docs, docs,
                                   F.col("doc_id") % 3 == 0)),
        # CMS: fixed 4x1024 grid however many tokens stream through
        "cms_sketch": lambda: sink(__import__(
            "pypond_spark.datapipe.sketch", fromlist=["cms_token_counts"])
            .cms_token_counts(docs, width=1024, depth=4)),
        # two-pass Misra-Gries heavy hitters: the vocabulary never
        # shuffles — stress proves candidate generation stays map-side
        "heavy_hitters": lambda: sink(__import__(
            "pypond_spark.datapipe.textstats",
            fromlist=["heavy_hitters"])
            .heavy_hitters(docs, phi_inv=64)),
        # Bloom build over even docs + probe of odd docs (m_bits/32
        # words of state however many digests stream through)
        "bloom_roundtrip": lambda: sink((lambda sk, keyed: sk.bloom_check(
            sk.bloom_build(keyed.where(F.col("doc_id") % 2 == 0),
                           m_bits=1 << 20, k=3),
            keyed.where(F.col("doc_id") % 2 == 1), m_bits=1 << 20, k=3))(
            __import__("pypond_spark.datapipe.sketch",
                       fromlist=["bloom_build"]),
            docs.select("doc_id", F.md5("text").alias("digest")))),
        # HLL registers: m=64 rows of state at any corpus size
        "hll_registers": lambda: sink(__import__(
            "pypond_spark.datapipe.sketch", fromlist=["hll_registers"])
            .hll_registers(docs.select(F.md5("text").alias("digest")),
                           "digest", m=64)),
        # end-to-end dedup chain on the planted-dup corpus (~n chars):
        # LSH -> Jaccard verify -> label propagation -> keeper; the timed
        # sink is the full chain, then the audit pass reports bucket
        # occupancy (candidate cost = sum |bucket|^2), verified pairs and
        # propagation rounds
        "dedup_documents": lambda: _dedup_audit(dup_docs, dedup_documents,
                                                lsh_band_buckets),
        # adversarial skew: one planted near-dup mega-cluster (1/10 of
        # the corpus) — capped LSH + label propagation must stay
        # bounded where uncapped sum|bucket|^2 would be cluster^2
        "dedup_mega_cluster": lambda: _mega_audit(
            mega_docs, mega_cluster, lsh_candidate_pairs,
            lsh_band_buckets, dup_clusters),
        # r8 tokenizer/decontam tiers: the expensive work is per
        # DISTINCT word (the synthetic 500-word vocab makes that
        # contract measurable: wall must be corpus-scan-bound, with the
        # Viterbi/greedy DP cost pinned to the tiny word frame)
        "unigram_apply": lambda: sink(__import__(
            "pypond_spark.datapipe.tokenize",
            fromlist=["unigram_apply"])
            .unigram_apply(docs, {"ta": -900000, "ble": -1000000,
                                  "w": -1200000, "1": -1300000,
                                  "2": -1310000, "3": -1320000,
                                  "4": -1330000, "5": -1340000,
                                  "6": -1350000, "7": -1360000,
                                  "8": -1370000, "9": -1380000,
                                  "0": -1390000})
            .select("doc_id", "n_tokens")),
        "wordpiece_apply": lambda: sink(__import__(
            "pypond_spark.datapipe.tokenize",
            fromlist=["wordpiece_apply"])
            .wordpiece_apply(docs, ["w"] + [str(d) for d in range(10)]
                             + ["##" + str(d) for d in range(10)]
                             + ["##w"])
            .select("doc_id", "n_tokens")),
        # benchmark side = docs 0-999 (megabytes, the broadcast
        # contract); longest shared run per (doc, item)
        "longest_match": lambda: sink(__import__(
            "pypond_spark.datapipe.decontam",
            fromlist=["longest_match"])
            .longest_match(docs.where(F.col("doc_id") >= 1000),
                           docs.where(F.col("doc_id") < 1000)
                           .withColumnRenamed("doc_id", "item_id"),
                           k=5)),
        # r9: byte-level BPE — the per-DISTINCT-chunk contract (chunk
        # vocab is the 500-word synthetic alphabet + digit runs), so
        # wall must stay corpus-scan-bound like the other tokenizers
        "bpe_bytes_apply": lambda: sink(__import__(
            "pypond_spark.datapipe.tokenize",
            fromlist=["bpe_bytes_apply"])
            .bpe_bytes_apply(docs, [("w", "1"), ("w1", "2"),
                                    ("\u0120", "w"), ("\u0120w", "3")])
            .select("doc_id", "n_tokens")),
        # r9: KN trigram — two corpus shuffles + vocab-bounded marginals
        "kn3_logprob": lambda: sink(__import__(
            "pypond_spark.datapipe.textstats",
            fromlist=["kn3_logprob"])
            .kn3_logprob(docs)),
        # r10: the min_count lever forwarded to the self-scored form —
        # on this adversarial corpus (~all-singleton trigram types)
        # pruning collapses the stat tables (SCALE.md tier)
        "kn3_logprob_pruned": lambda: sink(__import__(
            "pypond_spark.datapipe.textstats",
            fromlist=["kn3_logprob"])
            .kn3_logprob(docs, min_count=2)),
        # r10: incremental near-dup ingest against the persisted
        # band-prefix index — TIMED PHASES: the write-once index build
        # is printed untimed; the row times the per-batch path (band
        # computation on the 10% batch + pruned index scan + Jaccard
        # verify), the cost a production ingest pays per batch
        "neardup_index": lambda: _neardup_index_stress(docs),
        "attribution_chain": lambda: _attribution_chain_stress(ev),
        # r11: robots decision over an n-row URL corpus (1k hosts x
        # 5-rule robots each; ~n/10 distinct paths so the
        # distinct-key design has real duplication to collapse)
        "robots_filter": lambda: sink(_robots_stress(ev)),
        # r11: fixed-iteration PageRank — per round one edges->ranks
        # join + one dst groupBy; edges synthesized from the event
        # frame (n rows -> ~n edges over ~n/20 nodes, dedup'd)
        "pagerank": lambda: sink(
            __import__("pypond_spark.datapipe.urls",
                       fromlist=["pagerank"])
            .pagerank(
                ev.selectExpr(
                    "concat('d', pmod(xxhash64(user_id), 500000)) "
                    "AS src_domain",
                    "concat('d', pmod(xxhash64(value), 500000)) "
                    "AS dst_domain")
                .where("src_domain != dst_domain").distinct(),
                iters=3)),
        "neardup_generations": lambda: _neardup_generations_stress(docs),
        "neardup_small_batch": lambda: _neardup_small_batch_stress(docs),
        # r12: heavy-tail tiers for the crawl/video additions — each
        # runs its own two tiers 10x apart and prints the ratio
        "video_near_dups": lambda: _video_neardup_stress(spark),
        "extract_content": lambda: _extract_content_stress(spark),
        "transcode_payload": lambda: _transcode_stress(spark, n),
        # r14: extraction-tier heavy tail — damaged-PDF corpus
        "pdf_extract": lambda: _pdf_extract_stress(spark, n),
        "variant_extract": lambda: _variant_extract_stress(spark, n),
        "textchain": lambda: _textchain_stress(spark, n),
    }
    print(f"rows={n:,}  (embeddings {max(n // 10, 1):,} x 64)")
    print(f"{'op':24s} {'wall':>8s} {'rows/s':>12s}")
    for name, fn in ops.items():
        if only and name not in only:
            continue
        base = max(n // 10, 1) if name.endswith("_2m") else n
        t0 = time.time()
        # an op may return its own wall seconds (float) when part of its
        # body is untimed diagnostics (_dedup_audit) — use that instead of
        # the outer clock so audit passes never inflate the throughput row
        ret = fn()
        dt = ret if isinstance(ret, float) else time.time() - t0
        print(f"{name:24s} {dt:7.1f}s {base / dt:>11,.0f}")


if __name__ == "__main__":
    main()
