"""Deterministic corpus sampling, domain mixing, and sequence packing.

A training-data pipeline rarely trains on everything it crawled: it
samples uniformly for held-out evaluation, samples per-domain at tuned
rates ("data mixing"), caps each domain at a token budget, and finally
packs variable-length documents into fixed-length training sequences.

Every operator here is deterministic — selection is driven by an md5-based
hash of the row key, never ``rand()`` — so reruns (and the DuckDB oracle)
reproduce the exact same sample. All hot paths are built-in column
expressions:

- :func:`sample_uniform` / :func:`sample_stratified`: pure filter on a
  hash expression — zero shuffles, predicate runs at the scan.
- :func:`token_budget_mix`: one shuffle (hash-partition on the domain
  column) + a per-domain running sum. The per-domain window is sequential
  by nature; at 100 TB with few giant domains the two-pass variant applies
  (approx-quantile the hash to a per-domain cutoff, then filter — the
  cutoff pass aggregates, the filter pass is embarrassingly parallel).
  This implementation is the exact single-pass form.
- :func:`pack_sequences`: concat-and-chunk packing (the GPT-style
  "concatenate in order, cut every ``max_tokens``" scheme). Sharded: each
  shard packs independently, so parallelism is ``n_shards`` regardless of
  corpus size, and a shard's window state is one running sum.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pypond_spark.datapipe._util import (global_prefix_sums, overlap, spread,
                                          word_tokens)

_HASH_DENOM = 4294967296.0  # 2^32; first 8 md5 hex chars -> uniform [0,1)


def sample_hash(key: Column, seed: int | str = 0) -> Column:
    """Deterministic uniform [0,1) from the md5 of ``seed|key``.

    Reproducible across engines: DuckDB twin is
    ``('0x' || substr(md5(seed || '|' || key), 1, 8))::BIGINT / 2^32``.
    """
    d = F.md5(F.concat_ws("|", F.lit(str(seed)), key.cast("string")))
    return F.conv(d.substr(1, 8), 16, 10).cast("double") / F.lit(_HASH_DENOM)


def sample_uniform(df: DataFrame, fraction: float, key_col: str = "doc_id",
                   seed: int | str = 0) -> DataFrame:
    """Keep each row iff ``hash(seed|key) < fraction`` — a deterministic
    Bernoulli sample that is stable under reruns, repartitioning, and
    engine (unlike ``DataFrame.sample``, whose output depends on partition
    layout)."""
    return df.where(sample_hash(F.col(key_col), seed) < F.lit(fraction))


def sample_weighted(df: DataFrame, weight: Column | str,
                    key_col: str = "doc_id",
                    seed: int | str = 0) -> DataFrame:
    """Keep each row with probability = its own weight column (clamped to
    [0,1]) — deterministic score-proportional sampling, e.g. curriculum
    selection by a quality score from :mod:`textstats`. Same scan-level
    hash filter as :func:`sample_uniform`; the weight is just another
    column expression, so quality-weighted selection still adds zero
    shuffles."""
    w = F.col(weight) if isinstance(weight, str) else weight
    return df.where(sample_hash(F.col(key_col), seed)
                    < F.least(F.greatest(w.cast("double"), F.lit(0.0)),
                              F.lit(1.0)))


def sample_stratified(df: DataFrame, fractions: dict[str, float],
                      strata_col: str = "lang", key_col: str = "doc_id",
                      seed: int | str = 0,
                      default: float = 0.0) -> DataFrame:
    """Per-stratum deterministic sampling rates (data-mixing weights).

    ``fractions`` maps stratum value -> keep fraction; unlisted strata get
    ``default``. The rate lookup is an inline when-chain (the dict is
    driver-side config, not data), so the whole operator stays a single
    scan-level filter — no join, no shuffle.
    """
    rate = F.lit(float(default))
    for value, frac in sorted(fractions.items()):
        rate = F.when(F.col(strata_col) == F.lit(value),
                      F.lit(float(frac))).otherwise(rate)
    return df.where(sample_hash(F.col(key_col), seed) < rate)


def weighted_take_per_group(df: DataFrame, k: int, weight: Column | str,
                            group_col: str = "source",
                            key_col: str = "doc_id",
                            seed: int | str = 0) -> DataFrame:
    """EXACTLY-k weighted sampling WITHOUT replacement per group
    (Efraimidis & Spirakis 2006, algorithm A-ES): each row scores
    ``ln(u) / w`` with the deterministic uniform ``u`` from
    :func:`sample_hash`; the k largest scores per group are a
    probability-proportional-to-weight sample without replacement —
    what :func:`sample_weighted` (Bernoulli, random size) can't give
    when the budget is exact, e.g. "the best-weighted 10k docs per
    source under a fixed quota".

    Rows with non-positive or NULL weight are excluded. ``u`` clamps at
    2^-40 so a zero hash (1-in-2^32 per row — real at corpus scale)
    scores -inf-free on every engine. Scale: one window shuffle on the
    group key + per-partition rank, the same shape as ``take_per_group``
    — no global sort; ties (only possible via hash collision at equal
    weight) break to the smaller key.
    """
    from pyspark.sql import Window

    w = F.col(weight) if isinstance(weight, str) else weight
    wd = w.cast("double")
    u = F.greatest(sample_hash(F.col(key_col), seed), F.lit(2.0 ** -40))
    score = F.when(wd > 0, F.log(u) / wd)
    win = Window.partitionBy(group_col).orderBy(F.desc("__aes"),
                                                F.col(key_col))
    return (df.withColumn("__aes", score)
            .where(F.col("__aes").isNotNull())
            .withColumn("__rk", F.row_number().over(win))
            .where(F.col("__rk") <= k)
            .drop("__aes", "__rk"))


def take_per_group(df: DataFrame, k: int, group_col: str = "source",
                   key_col: str = "doc_id",
                   seed: int | str = 0) -> DataFrame:
    """Deterministic k-per-group corpus balancing: keep the k documents
    with the smallest sample hash inside each group — a uniform random-k
    per domain that reruns reproduce exactly. One shuffle on the group
    column; the per-group top-k is a rank window, never a sort of the
    whole corpus."""
    w = Window.partitionBy(group_col).orderBy("__h", key_col)
    return (df.withColumn("__h", sample_hash(F.col(key_col), seed))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__h", "__rn"))


def token_budget_mix(df: DataFrame, budgets: dict[str, int],
                     domain_col: str = "source", token_col: str | None = None,
                     text_col: str = "text", id_col: str = "doc_id",
                     seed: int | str = 0) -> DataFrame:
    """Greedy per-domain prefix until each domain's token budget is reached.

    Documents are ordered inside each domain by their sample hash (a
    deterministic shuffle), then taken while the budget is not yet
    exhausted; the document that crosses the budget is the last one kept
    (budgets are met, not undershot). Domains without a budget are dropped.

    Output: ``id_col, domain_col, n_tokens, cum_tokens`` for kept rows.
    ``token_col`` names a precomputed token-count column; if None, tokens
    are counted with :func:`textstats.token_count` in the same projection.
    """
    from pypond_spark.datapipe.textstats import token_count

    n_tok = (F.col(token_col) if token_col
             else token_count(text_col)).alias("n_tokens")
    budget = F.lit(None).cast("long")
    for value, b in sorted(budgets.items()):
        budget = F.when(F.col(domain_col) == F.lit(value),
                        F.lit(int(b))).otherwise(budget)
    base = spread(df).select(
        F.col(id_col), F.col(domain_col), n_tok,
        budget.alias("__budget"),
        sample_hash(F.col(id_col), seed).alias("__h")) \
        .where(F.col("__budget").isNotNull())
    w = (Window.partitionBy(domain_col).orderBy("__h", id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .where(F.col("cum_tokens") - F.col("n_tokens")
                   < F.col("__budget"))
            .drop("__budget", "__h"))


def temperature_mix(df: DataFrame, total_tokens: int, alpha: float = 0.5,
                    domain_col: str = "source",
                    token_col: str | None = None, text_col: str = "text",
                    id_col: str = "doc_id", seed: int | str = 0) -> DataFrame:
    """Temperature-based source re-weighting: each source's token budget
    is ``total_tokens * n_s^alpha / sum_s n_s^alpha`` — ``alpha`` in
    (0, 1) upsamples tail sources relative to their natural share (the
    multilingual-LM mixing recipe: mC4 / XLM-R, Conneau et al. 2020,
    arXiv:1911.02116, alpha≈0.3), alpha=1 is proportional sampling.
    Selection within each source is the same deterministic hash-prefix
    take as :func:`token_budget_mix` (the crossing document is kept).

    Cross-engine note: ``alpha=0.5`` makes the weight ``sqrt(n)`` —
    IEEE-exact on every engine, so the budget boundary cannot drift an
    ulp; other alphas go through ``pow`` whose last ulp is
    implementation-defined (budgets are rounded to 6dp before flooring
    to absorb that, but 0.5 is the bit-reproducible choice).

    Shape at 100 TB: one groupBy on the (small) source dimension, the
    1-row normalizer broadcast back, then ONE window shuffle on
    ``domain_col`` — identical cost to token_budget_mix.

    Output: kept rows as ``id_col, domain_col, n_tokens, cum_tokens,
    budget_tokens, mix_share``.
    """
    from pypond_spark.datapipe.textstats import token_count

    n_tok = (F.col(token_col) if token_col
             else token_count(text_col)).alias("n_tokens")
    base = spread(df).select(
        F.col(id_col), F.col(domain_col), n_tok,
        sample_hash(F.col(id_col), seed).alias("__h"))
    per_src = (base.groupBy(domain_col)
               .agg(F.sum("n_tokens").alias("__n"))
               .withColumn("__w", F.pow(F.col("__n").cast("double"),
                                        F.lit(float(alpha)))))
    z = per_src.agg(F.sum("__w").alias("__z"))
    budgets = (per_src.join(F.broadcast(z))
               .select(domain_col,
                       F.floor(F.round(F.lit(int(total_tokens))
                                       * F.col("__w") / F.col("__z"), 6))
                       .cast("long").alias("__budget"),
                       F.round(F.col("__w") / F.col("__z"), 6)
                       .alias("mix_share")))
    w = (Window.partitionBy(domain_col).orderBy("__h", id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (base.join(F.broadcast(budgets), domain_col)
            .withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .where(F.col("cum_tokens") - F.col("n_tokens")
                   < F.col("__budget"))
            .withColumn("budget_tokens", F.col("__budget"))
            .drop("__budget", "__h"))


def dsir_weights(raw: DataFrame, target: DataFrame, n_buckets: int = 4096,
                 smoothing: float = 1.0, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023, arXiv:2302.03169): score every ``raw``
    document by how much more likely its hashed-n-gram bag is under the
    ``target`` distribution than under the raw distribution —
    ``log_weight = sum_g [ln p_target(bucket(g)) - ln p_raw(bucket(g))]``
    over the doc's unigrams+bigrams, each md5-hashed into ``n_buckets``
    (the paper's hashed n-gram generative model), probabilities
    add-``smoothing`` Laplace-estimated.  Feed the output to
    :func:`weighted_take` / :func:`sample_weighted` to select the
    target-like subset.

    Cross-engine determinism: per-bucket log-ratios are stored as
    MICRO-NAT INTEGERS (``round(lr * 1e6)``), so the per-document
    accumulation is an exact integer sum — immune to float summation
    order — and the final ``log_weight`` is one shared division.

    Shape at 100 TB: two corpus-sized explodes (the two "training"
    passes, one per side — shuffles on the uniform bucket key, count
    tables bounded by ``n_buckets``), one broadcast of the
    ``n_buckets``-row ratio table, and ONE scoring pass over the raw
    explode with a map-side join + per-doc groupBy.

    Output: ``id_col, n_grams, log_weight`` (raw docs with >=1 token).
    """
    from pypond_spark.datapipe.textstats import (gram_bucket,
                                                 hashed_gram_rows)

    def bucket(g: Column) -> Column:
        return gram_bucket(g, n_buckets)

    def bucket_counts(df: DataFrame, out: str) -> DataFrame:
        return (hashed_gram_rows(spread(df), text_col)
                .select(bucket(F.col("__g")).alias("__b"))
                .groupBy("__b").agg(F.count("*").alias(out)))

    # the two "training" passes are independent corpus scans — run them
    # concurrently (guide §2.6 overlap)
    tcounts, rcounts = overlap(
        lambda: bucket_counts(target, "__ct").localCheckpoint(),
        lambda: bucket_counts(raw, "__cr").localCheckpoint())
    n_t = tcounts.agg(F.sum("__ct")).first()[0] or 0
    n_r = rcounts.agg(F.sum("__cr")).first()[0] or 0
    s = float(smoothing)
    denom_t = float(n_t) + s * n_buckets
    denom_r = float(n_r) + s * n_buckets
    lr = (F.log((F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(s))
                / F.lit(denom_t))
          - F.log((F.col("__cr") + F.lit(s)) / F.lit(denom_r)))
    ratio = (rcounts.join(tcounts, "__b", "left")
             .select("__b", F.round(lr * F.lit(1e6)).cast("long")
                     .alias("__lr_micro")))
    scored = (hashed_gram_rows(spread(raw), text_col, keep=[id_col])
              .select(F.col(id_col), bucket(F.col("__g")).alias("__b"))
              .join(F.broadcast(ratio), "__b"))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_grams"),
                 (F.sum("__lr_micro") / F.lit(1e6)).alias("log_weight")))


def chunk_documents(df: DataFrame, chunk_tokens: int = 512,
                    overlap: int = 0, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Split each document into fixed-token-count chunks with optional
    overlap (the RAG/context-window prep step; the complement of
    :func:`pack_sequences`, which joins short docs instead of splitting
    long ones).

    Output: ``id_col, chunk_idx, chunk_text, chunk_n_tokens``. Chunk i
    covers whitespace tokens ``[i*(chunk_tokens-overlap),
    i*(chunk_tokens-overlap) + chunk_tokens)``; the final chunk may be
    short; an empty document yields one empty chunk (chunk_idx 0). Pure
    array expressions over the scan — per-row work is linear in document
    length and there is no shuffle at all.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}")

    step = chunk_tokens - overlap
    toks = word_tokens(text_col)
    n = F.size(toks)
    # ceil((n - overlap) / step), at least 1 chunk even for empty docs
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)) / F.lit(step)).cast("int"), F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * step + 1, chunk_tokens)))
    out = spread(df).select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
    return out.withColumn(
        "chunk_n_tokens",
        F.size(F.filter(F.split(F.col("chunk_text"), " "),
                        lambda t: t != F.lit(""))))


def pack_sequences(df: DataFrame, max_tokens: int, n_shards: int = 64,
                   token_col: str | None = None, text_col: str = "text",
                   id_col: str = "doc_id",
                   seed: int | str = 0) -> DataFrame:
    """Concat-and-chunk packing: assign every document a (shard, seq,
    offset) slot in a stream of fixed-``max_tokens`` training sequences.

    Documents are sharded by key hash (``n_shards`` independent streams —
    the unit of parallelism), deterministically ordered inside the shard,
    and concatenated; sequence boundaries fall every ``max_tokens`` tokens.
    A document starts in sequence ``seq`` at ``offset`` and MAY span into
    the following sequence(s) — the standard pretraining scheme where
    sequences are cut regardless of document boundaries (no padding waste;
    consumers mask across the cut if they care).

    Output: ``id_col, n_tokens, shard, seq, offset``; ``seq`` numbers are
    per-shard, ``offset`` is the in-sequence start position.
    """
    from pypond_spark.datapipe.textstats import token_count

    n_tok = (F.col(token_col) if token_col
             else token_count(text_col)).alias("n_tokens")
    key = F.col(id_col).cast("string")
    shard = F.pmod(F.conv(F.md5(F.concat_ws("|", F.lit(str(seed)), key))
                          .substr(1, 8), 16, 10).cast("long"),
                   F.lit(n_shards))
    base = spread(df).select(
        F.col(id_col), n_tok, shard.alias("shard"),
        sample_hash(F.col(id_col), seed).alias("__h"))
    w = (Window.partitionBy("shard").orderBy("__h", id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (base
            .withColumn("seq", F.floor(start / F.lit(max_tokens)))
            .withColumn("offset", start % F.lit(max_tokens))
            .drop("__h"))


def shuffle_shards(df: DataFrame, n_shards: int,
                   key_col: str = "doc_id",
                   seed: int | str = 0) -> DataFrame:
    """Deterministic global corpus shuffle into ``n_shards`` export shards
    — the training-export step: data loaders want the corpus in a fixed
    pseudorandom order, reproducible across reruns, with no coordination
    between shards.

    ``shard`` comes from one hash of the key, in-shard ``pos`` from an
    independent hash (separate seed derivations, so shard assignment does
    not bias in-shard order). One shuffle (hash-partition on the shard) +
    a per-shard rank window; shards are uniform by construction, so the
    sort is n_shards independent sorts of corpus/n_shards rows each —
    never a global sort.

    Output: input columns + ``shard`` (0-based) and ``pos`` (1-based
    position within the shard).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    hs = sample_hash(F.col(key_col), f"{seed}-shard")
    ho = sample_hash(F.col(key_col), f"{seed}-order")
    w = Window.partitionBy("shard").orderBy("__ho", key_col)
    return (df.withColumn("shard", F.floor(hs * n_shards).cast("int"))
            .withColumn("__ho", ho)
            .withColumn("pos", F.row_number().over(w))
            .drop("__ho"))


def upsample(df: DataFrame, repeats: Column | str,
             copy_col: str = "copy") -> DataFrame:
    """Weighted upsampling by row repetition: emit each row ``repeats``
    times with a 1-based ``copy_col`` index — how pretraining mixes give
    high-quality domains multiple epochs (e.g. Wikipedia x3) while the
    bulk crawl gets one.

    ``repeats`` is any integer column expression (quality tier, per-domain
    epoch count); non-positive repeats drop the row. Pure explode at scan
    speed — zero shuffles, and fan-out is per-row bounded by the repeat
    cap the caller encodes in the expression.
    """
    r = (F.col(repeats) if isinstance(repeats, str) else repeats).cast("int")
    # sequence(1, 0) is DESCENDING [1, 0], not empty — guard non-positive
    seq = F.when(r >= 1, F.sequence(F.lit(1), r)) \
        .otherwise(F.array().cast("array<int>"))
    return df.withColumn(copy_col, F.explode(seq))


def assign_splits(df: DataFrame, splits: dict[str, float],
                  key_col: str = "doc_id", seed: int | str = 0) -> DataFrame:
    """Deterministic train/val/test assignment: append a ``split`` column
    by cutting the ``sample_hash`` unit interval into the given
    proportions (e.g. ``{"train": 0.98, "val": 0.01, "test": 0.01}``).

    Hash-range assignment (never rand()) means the split is stable under
    reruns, repartitioning, engine, and corpus growth — a document keeps
    its split when new data arrives, the property that keeps eval sets
    uncontaminated across pipeline versions. Proportions must sum to 1
    (within 1e-9). Zero shuffles: one scan-level expression.
    """
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if any(v < 0 for v in splits.values()):
        raise ValueError(f"split fractions must be >= 0, got {splits}")
    h = sample_hash(F.col(key_col), seed)
    expr, acc = None, 0.0
    names = list(splits)
    for name in names[:-1]:
        acc += splits[name]
        cond = h < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def rrf_fusion(df: DataFrame, score_cols: list[str], k: int = 60,
               higher_is_better: bool = True, id_col: str = "doc_id",
               out_col: str = "rrf",
               quantize: int | None = None) -> DataFrame:
    """Reciprocal-rank fusion of heterogeneous quality signals
    (Cormack, Clarke & Buettcher 2009): ``rrf = Σ_s 1 / (k + rank_s)``.

    The standard way to ensemble quality scores whose SCALES don't agree
    (length, entropy, LM fluency, classifier logits): each signal
    contributes through its rank only, so no per-signal calibration is
    needed, and ``k`` (=60 in the original paper) damps the head so one
    signal can't dominate.  Rows where a signal is NULL/NaN contribute 0
    for that signal (the convention for missing annotators).

    Scale shape: per signal, ranks are COMPETITION ranks (ties share the
    min rank, so no tiebreak column is needed and the result is
    deterministic), computed as a cumulative count over the
    DISTINCT-value frame: one groupBy(value) per signal (map-side
    combinable), one ordered cumsum over that aggregate frame, and one
    join back per signal on the score value.  The cumsum window is
    unpartitioned, so its cost is bounded by the signal's DISTINCT-VALUE
    cardinality, not the row count — fine for integral or pre-rounded
    signals, but a continuous double (classifier logits) has ~one
    distinct value per row and would funnel the corpus through one task.
    For those, set ``quantize`` (decimal places) to round scores before
    ranking: ranks then follow the quantized order (documents within the
    same quantum tie), and the distinct-value frame is bounded by the
    score range x 10^quantize.
    """
    if not score_cols:
        raise ValueError("rrf_fusion needs at least one score column")

    def _ranked(s: str) -> DataFrame:
        col = F.col(s).cast("double")
        if quantize is not None:
            col = F.round(col, quantize)
        valid = col.isNotNull() & ~F.isnan(col)
        vc = (df.where(valid)
              .groupBy(col.alias("__v")).agg(F.count("*").alias("__c")))
        order = F.col("__v").desc() if higher_is_better else F.col("__v")
        # competition rank = exclusive prefix count + 1, computed with
        # the distributed two-pass prefix-sum (no single-task window
        # even when the distinct-value frame is corpus-sized)
        return (global_prefix_sums(vc, [order], ["__c"])
                .select(F.col("__v").alias(f"__v_{s}"),
                        (F.col("__pre___c") + 1)
                        .alias(f"__rank_{s}")))

    # each signal's rank build runs two eager driver actions (the
    # prefix-sum's localCheckpoint + per-partition-totals collect);
    # the signals are independent, so submit them concurrently (guide
    # §2.6) instead of paying the two small jobs once per signal
    # back to back — results are identical, only the driver-side
    # sequencing changes
    rank_dfs = (overlap(*[lambda s=s: _ranked(s) for s in score_cols])
                if len(score_cols) > 1 else [_ranked(score_cols[0])])
    out = df
    terms: list[Column] = []
    for s, ranked in zip(score_cols, rank_dfs):
        join_key = F.col(s).cast("double")
        if quantize is not None:
            join_key = F.round(join_key, quantize)
        out = out.join(ranked, join_key == F.col(f"__v_{s}"),
                       "left").drop(f"__v_{s}")
        terms.append(F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"__rank_{s}")),
            F.lit(0.0)))
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    return out.withColumn(out_col, score)


def pack_bins_ffd(df: DataFrame, max_tokens: int, n_shards: int = 64,
                  token_col: str | None = None, text_col: str = "text",
                  id_col: str = "doc_id", seed: int | str = 0) -> DataFrame:
    """Bin packing without document splitting: first-fit-decreasing into
    fixed-capacity bins (Krell & Kosec 2021-style padding-efficient
    packing for SFT/eval batches, where crossing document boundaries is
    NOT allowed and the waste is padding, unlike
    :func:`pack_sequences`'s boundary-free pretraining stream).

    Documents are hash-sharded (``n_shards`` independent packing streams
    — the unit of parallelism; packing quality is per shard, which is
    how production packers bound the sequential horizon anyway), sorted
    inside the shard by (tokens DESC, id) and first-fit-decreased:
    each doc lands in the lowest-numbered bin it fits, else opens a new
    bin.  Docs longer than ``max_tokens`` get a bin of their own with
    ``overflow=true`` (the caller truncates or splits those).

    Output: ``id_col, n_tokens, shard, bin, overflow``; bins are
    numbered per shard in creation order.  The per-shard fold runs as
    one Arrow batch per shard (``applyInPandas``) — a deliberate
    sequential-per-group algorithm whose group size is bounded by the
    shard count, exactly like the reference's per-series processors.
    Deterministic: same corpus, seed and shard count -> same packing.
    """
    import pandas as pd

    from pypond_spark.datapipe.textstats import token_count

    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    n_tok = (F.col(token_col).cast("long") if token_col
             else token_count(text_col)).alias("n_tokens")
    key = F.col(id_col).cast("string")
    shard = F.pmod(F.conv(F.md5(F.concat_ws("|", F.lit(str(seed)), key))
                          .substr(1, 8), 16, 10).cast("long"),
                   F.lit(n_shards))
    base = spread(df).select(F.col(id_col), n_tok, shard.alias("shard"))
    # id type derived from the input frame — string doc ids are
    # first-class everywhere else in datapipe (the shard hash above even
    # casts to string), so the output schema must not assume long
    from pyspark.sql import types as T
    out_schema = T.StructType([
        T.StructField(id_col, base.schema[id_col].dataType),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("shard", T.LongType()),
        T.StructField("bin", T.LongType()),
        T.StructField("overflow", T.BooleanType()),
    ])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", id_col],
                              ascending=[False, True], kind="mergesort")
        loads: list[int] = []
        bins, over = [], []
        for t in pdf["n_tokens"]:
            t = int(t)
            if t > max_tokens:
                loads.append(t)
                bins.append(len(loads))
                over.append(True)
                continue
            for i, ld in enumerate(loads):
                if ld + t <= max_tokens:
                    loads[i] = ld + t
                    bins.append(i + 1)
                    break
            else:
                loads.append(t)
                bins.append(len(loads))
            if len(over) < len(bins):
                over.append(False)
        pdf = pdf.assign(bin=bins, overflow=over)
        return pdf

    return base.groupBy("shard").applyInPandas(pack, out_schema)


def packing_report(packed: DataFrame, max_tokens: int,
                   shard_col: str = "shard", bin_col: str = "bin",
                   token_col: str = "n_tokens",
                   overflow_col: str = "overflow") -> DataFrame:
    """Padding-waste report for a :func:`pack_bins_ffd` packing — the
    number an ML engineer actually tunes against: what fraction of the
    (bins x capacity) token budget is padding.

    One row: total docs/bins/tokens, overflow-bin count, ``fill_frac``
    (filled share of non-overflow capacity; padding waste is
    ``1 - fill_frac``), min/max non-overflow bin load and mean docs per
    bin.  Two bounded aggregations (per-bin loads, then one global row);
    every metric derives from exact integer sums, so the single final
    divisions are IEEE-identical cross-engine (rounded 6dp anyway).
    """
    bins = (packed.groupBy(shard_col, bin_col)
            .agg(F.sum(F.col(token_col)).alias("__load"),
                 F.max(F.col(overflow_col)).alias("__over"),
                 F.count("*").alias("__n")))
    nonover = F.when(~F.col("__over"), F.col("__load"))
    return bins.agg(
        F.sum("__n").alias("n_docs"),
        F.count("*").alias("n_bins"),
        F.sum(F.when(F.col("__over"), 1).otherwise(0))
        .alias("n_overflow_bins"),
        F.sum("__load").alias("total_tokens"),
        F.round(F.sum(nonover)
                / (F.count(nonover) * F.lit(float(max_tokens))), 6)
        .alias("fill_frac"),
        F.min(nonover).alias("min_load"),
        F.max(nonover).alias("max_load"),
        F.round(F.sum("__n") / F.count("*"), 6).alias("docs_per_bin"))


def leakage_safe_splits(df: DataFrame, splits: dict[str, float],
                        seed: int | str = 0, text_col: str = "text",
                        id_col: str = "doc_id",
                        **dedup_kwargs) -> DataFrame:
    """Train/val/test assignment keyed on the NEAR-DUP CLUSTER instead of
    the document: run the end-to-end dedup chain
    (:func:`~pypond_spark.datapipe.dedup.dedup_documents` — LSH →
    Jaccard verify → connected components), then hash-split on
    ``cluster_id``, so every member of a near-dup cluster lands in the
    SAME split.  Splitting documents independently leaks train content
    into eval whenever near-duplicates exist — the contamination mode
    split_leakage/decontaminate DETECT; this op prevents it at
    assignment time (the "split by cluster, not by example" rule).

    Same determinism contract as :func:`assign_splits` (hash-range cut,
    stable under reruns/repartitioning/growth); singleton documents are
    their own cluster, so a corpus with no near-dups degrades to exactly
    ``assign_splits`` keyed on ``id_col``.

    Scale: the dedup chain's published shape (banded buckets, pair work
    Σ|bucket|², label propagation) plus ONE scan-level split expression.

    Output: the corpus with ``cluster_id, is_keeper, split`` appended.
    """
    from pypond_spark.datapipe.dedup import dedup_documents

    labeled = dedup_documents(df, text_col=text_col, id_col=id_col,
                              **dedup_kwargs)
    return assign_splits(labeled, splits, key_col="cluster_id", seed=seed)
