"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark corpus.

This is the training-data hygiene step from the GPT-3 / PaLM / Llama data
pipelines (Brown et al. 2020 appendix C measures eval overlap with 13-gram
collisions): any document that reproduces enough consecutive tokens of a
benchmark item must be culled so downstream evals stay uncontaminated.

Scale design: the benchmark side is small (eval suites are thousands of
items, megabytes of text) while the corpus side is the 100 TB table, so the
benchmark's distinct-gram set is broadcast and the corpus side never
shuffles its text — grams explode map-side, hit-counting uses a broadcast
hash semi-join plus a partial-aggregated groupBy that only carries
(doc_id, gram-hash) for *matching* grams. Cost is one scan of the corpus,
linear in token count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pypond_spark.datapipe._util import ngram_explode, spread, word_tokens
from pypond_spark.datapipe.dedup import word_shingles


def normalize_text(text_col: str = "text"):
    """The GPT-3 appendix-C normalization applied before gram matching:
    lowercase and replace every non-letter/digit/whitespace character
    with a space, so ``"Hello, World!"`` and ``"hello world"`` produce
    the same grams.  Kept as a small public expression so corpus and
    benchmark sides can never normalize differently."""
    return F.lower(F.regexp_replace(F.col(text_col),
                                    r"[^\p{L}\p{N}\s]", " "))


def benchmark_grams(bench: DataFrame, text_col: str = "text", n: int = 13,
                    id_col: str = "doc_id",
                    normalize: bool = False) -> DataFrame:
    """Distinct word n-grams of the benchmark corpus: one ``shingle`` column.

    The distinct() shuffles only the (small) benchmark side. Collect the
    result once and reuse it across corpus partitions/days — it is a pure
    function of the benchmark suite.  ``normalize=True`` applies
    :func:`normalize_text` first (use the same flag on
    :func:`decontaminate` — mismatched normalization silently finds
    nothing).
    """
    if normalize:
        bench = bench.withColumn(text_col, normalize_text(text_col))
    return (word_shingles(bench, text_col, n, id_col)
            .select("shingle").distinct())


def decontaminate(docs: DataFrame, bench_grams: DataFrame,
                  text_col: str = "text", n: int = 13, min_hits: int = 1,
                  id_col: str = "doc_id",
                  normalize: bool = False) -> DataFrame:
    """Per-document contamination verdict against a benchmark gram set.

    Returns every input document with ``contaminated_grams`` (count of
    distinct n-grams shared with the benchmark) and ``contaminated``
    (shared-gram count >= min_hits). ``bench_grams`` must use the same
    ``n`` (build it with :func:`benchmark_grams`).

    The benchmark side is broadcast — no shuffle of the corpus text; the
    only corpus-wide movement is (doc_id, matched-gram) pairs for documents
    that actually overlap, which at sane n (8-13 words) is a vanishing
    fraction of the corpus.  ``normalize=True`` matches grams
    case/punctuation-insensitively (:func:`normalize_text`, the GPT-3
    convention) — build ``bench_grams`` with the same flag.
    """
    if normalize:
        docs = docs.withColumn(text_col, normalize_text(text_col))
    grams = word_shingles(docs, text_col, n, id_col)
    hits = (grams.join(F.broadcast(bench_grams), "shingle")
            .groupBy(id_col)
            .agg(F.count_distinct("shingle").alias("contaminated_grams")))
    return (docs.select(id_col).join(hits, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("contaminated_grams", F.lit(0))
                     .alias("contaminated_grams"),
                    (F.coalesce("contaminated_grams", F.lit(0))
                     >= F.lit(min_hits)).alias("contaminated")))


def split_leakage(df: DataFrame, splits: dict[str, float],
                  train_split: str = "train", test_split: str = "test",
                  shingle_n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id",
                  seed: int | str = 0) -> DataFrame:
    """Train/test contamination audit: for every held-out document, how
    many of its distinct word n-grams also occur ANYWHERE in the training
    split — the self-inflicted version of benchmark decontamination
    (splitting AFTER dedup is the rule; this measures what leaked through
    anyway, e.g. near-duplicates below the dedup threshold).

    The split is recomputed on the shingle frame from the same pure
    id-hash ``assign_splits`` uses — a function of the id, so NO join is
    needed to attach it. The corpus gram pass runs ONCE: train rows
    collapse to a NULL-id role row per shingle inside the same distinct
    the test rows use, and "this shingle occurs in training" is a
    per-shingle window max over that one frame — the former
    two-distinct-frames-plus-join shape tokenized and exploded the
    corpus twice (each side its own gram pass), paying the dominant
    100-TB cost a second time for rows that differ only in role.
    Nothing quadratic, and the test side is tiny by construction (it's
    the held-out fraction).

    Output: ``(id, n_shingles, n_leaked, leak_share)`` per test doc —
    leak_share ~1.0 means the eval doc effectively exists in training.
    """
    from pypond_spark.datapipe.sampling import assign_splits

    sh = assign_splits(word_shingles(df, text_col, shingle_n, id_col),
                       splits, id_col, seed)
    if train_split == test_split:
        # degenerate probe: the "training" side is the test split itself,
        # so every distinct test shingle leaks by definition
        test_sh = (sh.where(F.col("split") == test_split)
                   .select(id_col, "shingle").distinct())
        return (test_sh.groupBy(id_col)
                .agg(F.count("*").alias("n_shingles"),
                     F.count("*").alias("n_leaked"))
                .withColumn("leak_share",
                            F.round(F.try_divide(
                                F.col("n_leaked").cast("double"),
                                F.col("n_shingles").cast("double")), 6)))
    u = (sh.where(F.col("split").isin(train_split, test_split))
         .select("shingle",
                 F.when(F.col("split") == test_split,
                        F.col(id_col)).alias("__tid"))
         .distinct())
    in_train = F.max(F.col("__tid").isNull().cast("int")) \
        .over(Window.partitionBy("shingle"))
    return (u.withColumn("__in_train", in_train)
            .where(F.col("__tid").isNotNull())
            .select(F.col("__tid").alias(id_col), "__in_train")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_shingles"),
                 F.sum("__in_train").alias("n_leaked"))
            .withColumn("leak_share",
                        F.round(F.try_divide(
                            F.col("n_leaked").cast("double"),
                            F.col("n_shingles").cast("double")), 6)))


def longest_match(docs: DataFrame, bench: DataFrame, k: int = 5,
                  text_col: str = "text", id_col: str = "doc_id",
                  bench_text_col: str = "text",
                  bench_id_col: str = "item_id",
                  min_tokens: int | None = None,
                  normalize: bool = False) -> DataFrame:
    """Longest shared token RUN per (document, benchmark item) — the
    longest-match contamination audit that modern benchmark hygiene
    uses alongside fixed-n gram hits (e.g. "any >50-character exact
    match" rules): a document quoting 40 consecutive tokens of an eval
    item is contamination even if no single fixed 13-gram threshold
    story tells it well.

    Seed-and-chain, never O(len_a * len_b) per pair: shared ``k``-grams
    are matched positionally; two grams at consecutive positions on the
    same alignment diagonal (``doc_pos - item_pos`` constant) overlap
    in k-1 tokens, so a chain of ``c`` consecutive diagonal hits IS a
    genuine shared run of exactly ``c + k - 1`` tokens (gram equality
    at consecutive offsets forces token equality across the union).
    Runs shorter than ``k`` are invisible by design — ``k`` is the
    audit's noise floor.  The chain step is gaps-and-islands over the
    (doc, item, diagonal) hit frame — the repeated_spans machinery
    pointed at a cross-corpus alignment.

    Scale: the benchmark side is broadcast (eval suites are megabytes);
    the corpus explodes grams map-side and only MATCHING (doc, item,
    pos) hits shuffle — cost linear in corpus tokens plus
    Σ|gram-bucket|² across the two sides, the decontaminate() contract.

    Output: one row per (doc, item) pair with a run of at least
    ``min_tokens`` (default ``k``): ``(id_col, bench_id_col,
    match_tokens, doc_pos, item_pos)`` — positions are 0-based token
    offsets of the LONGEST run (ties: smallest doc_pos, then smallest
    item_pos).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    floor = int(min_tokens if min_tokens is not None else k)
    if floor < k:
        raise ValueError(f"min_tokens={floor} is below the k={k} "
                         "noise floor — runs shorter than k are not "
                         "detected; lower k instead")
    if normalize:
        docs = docs.withColumn(text_col, normalize_text(text_col))
        bench = bench.withColumn(bench_text_col,
                                 normalize_text(bench_text_col))
    # corpus-side gram explode is map-side below the first exchange: fan
    # a single-file scan out first (no-op at warehouse scale; the small
    # broadcast bench side needs no fan-out)
    docs = spread(docs)

    def grams(df, tcol, icol, pos_name, out_id):
        return ngram_explode(df.select(F.col(icol).alias(out_id),
                                       F.col(tcol)),
                             word_tokens(tcol), k, keep=[out_id], out="g",
                             pos=pos_name)

    dg = grams(docs, text_col, id_col, "i", "__doc")
    bg = grams(bench, bench_text_col, bench_id_col, "j", "__item")
    hits = dg.join(F.broadcast(bg), "g") \
        .select("__doc", "__item", "i", "j",
                (F.col("i") - F.col("j")).alias("d"))
    w = Window.partitionBy("__doc", "__item", "d").orderBy("i")
    isl = (F.col("i") - F.row_number().over(w)).alias("isl")
    runs = (hits.select("__doc", "__item", "d", "i", "j", isl)
            .groupBy("__doc", "__item", "d", "isl")
            .agg((F.count("*") + (k - 1)).alias("len"),
                 F.min("i").alias("di"), F.min("j").alias("ji")))
    best = (runs.groupBy("__doc", "__item")
            .agg(F.max(F.struct(
                F.col("len"),
                (-F.col("di")).alias("ndi"),
                (-F.col("ji")).alias("nji"))).alias("b"))
            .where(F.col("b.len") >= floor))
    return best.select(F.col("__doc").alias(id_col),
                       F.col("__item").alias(bench_id_col),
                       F.col("b.len").alias("match_tokens"),
                       (-F.col("b.ndi")).alias("doc_pos"),
                       (-F.col("b.nji")).alias("item_pos"))
