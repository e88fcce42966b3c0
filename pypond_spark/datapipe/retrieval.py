"""Okapi BM25 retrieval — query->document ranking joins.

The classic lexical-retrieval scorer (Robertson & Walker 1994; the
Lucene/Elasticsearch default), the standard tool two corpus jobs need
that ``textstats.tfidf_top_terms`` (keyword extraction) stops short
of: decontamination-by-retrieval (rank training docs against eval
queries, drop the top hits) and lexical hard-negative mining beside
the embedding-based ``similarity.hard_negatives``.

Scoring (the non-negative Lucene idf variant):

    idf(t)   = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
    tfnorm   = tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    bm25(q,d)= sum over distinct query terms of idf(t) * tfnorm

Tokenization matches :func:`textstats._match_tokens` (lowercase,
edge punctuation stripped) so oracles and the tfidf row share one
token law.

Scale contract (the 100-TB shape):

- postings are restricted to the QUERY vocabulary before any shuffle
  (broadcast semi-join on the exploded token stream) — the shuffled
  posting list is bounded by the query workload, never the corpus;
- one ``repartition(doc_id)`` feeds BOTH aggregations: hash
  partitioning on ``doc_id`` satisfies the clustering of
  ``groupBy(doc_id, term)`` and of ``groupBy(query_id, doc_id)``, so
  tf-counting and score-summing reuse a single exchange;
- vocabulary-global stats (df per term, N, avgdl) are driver-
  coordinated: the matched postings are localCheckpointed once, the
  per-term document frequency (vocab-sized) collects to the driver
  and returns as a literal idf map — the same driver-coordinated
  pattern as the tokenizer merge loop;
- final per-query top-k is one window exchange over scored
  (query, doc) pairs.  True shuffle count: repartition + vocab-agg +
  window = 3, of which the main plan shows repartition-descendant +
  window (the vocab agg is an auxiliary vocab-sized job).
- skew lever: a stopword-class query term ("the") matches every
  document; ``max_df_ratio`` drops query terms whose df exceeds the
  ratio (idf near zero — negligible score mass, unbounded postings),
  the standard stopword cap.

``round_to`` rounds the summed score before ranking with a doc-id
tiebreak, so the cut is reproducible cross-engine.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._util import overlap, spread
from .textstats import _match_tokens

__all__ = ["bm25_topk", "hard_negatives_bm25", "decontam_retrieval"]


def _tok_arr(text_col: str) -> Column:
    return F.filter(_match_tokens(text_col), lambda t: t != F.lit(""))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              k1: float = 1.2, b: float = 0.75,
              text_col: str = "text", id_col: str = "doc_id",
              query_col: str = "query", qid_col: str = "query_id",
              exclude_label: tuple[str, str] | None = None,
              max_df_ratio: float | None = None,
              round_to: int = 6) -> DataFrame:
    """Top-``k`` documents per query by BM25.

    ``exclude_label=(doc_label_col, query_label_col)`` drops
    candidates sharing the query's label (hard-negative mining) and
    candidates whose ``doc_id`` equals the query's ``query_id`` (the
    anchor itself, when queries are drawn from the corpus).

    Output: ``(query_id, rank, doc_id, bm25, n_matched)`` with rank
    1..k per query ordered by rounded score desc, doc_id asc.

    ``avgdl`` folds case for ASCII only: a whitespace run whose letters
    are all U+212A or U+0130 is a token (``k``, ``i``) but is not counted.
    """
    docs = spread(docs)
    doc_cols = [F.col(id_col), _tok_arr(text_col).alias("__toks")]
    if exclude_label:
        doc_cols.append(F.col(exclude_label[0]).alias("__dlabel"))
    base = docs.select(*doc_cols)

    q_cols = [F.col(qid_col),
              F.explode(F.array_distinct(_tok_arr(query_col)))
              .alias("__term")]
    if exclude_label:
        q_cols.insert(1, F.col(exclude_label[1]).alias("__qlabel"))
    qterms = queries.select(*q_cols)
    vocab = qterms.select("__term").distinct()

    # postings restricted to the query vocabulary BEFORE the shuffle;
    # one doc_id exchange feeds tf-count AND score-sum (subset rule)
    post_cols = [F.col(id_col), F.size("__toks").alias("__dl"),
                 F.explode("__toks").alias("__term")]
    tf_aggs = [F.count("*").alias("__tf"),
               F.first("__dl").alias("__dl")]
    if exclude_label:
        post_cols.append(F.col("__dlabel"))
        tf_aggs.append(F.first("__dlabel").alias("__dlabel"))
    posts = (base.select(*post_cols)
             .join(F.broadcast(vocab), "__term"))

    # the corpus-global scalar pass (exact-integer token total, so
    # avgdl is the correctly-rounded rational) and the tf build are
    # independent corpus passes — run them concurrently (guide §2.6).
    # r15: the scalar pass needs only the COUNT of normalized non-empty
    # tokens, which equals the count of whitespace-delimited runs
    # containing an alphanumeric (the edge-strip normalizer empties a
    # token iff it has no [A-Za-z0-9]) — one compiled regex scan of the
    # raw text instead of re-running the interpreted tokenize chain
    # (identical totals on ASCII text, see the docstring for the fold;
    # textstats._marker_hits_expr has the law notes)
    n_toks = F.regexp_count(F.col(text_col),
                            F.lit(r"\S*[A-Za-z0-9]\S*"))
    (scal_row,), tf = overlap(
        lambda: docs.agg(F.count("*"), F.sum(n_toks)).collect(),
        lambda: (posts.repartition(F.col(id_col))
                 .groupBy(id_col, "__term")
                 .agg(*tf_aggs)
                 .localCheckpoint()))
    n_docs, total_toks = scal_row
    if not n_docs:
        raise ValueError("bm25_topk over an empty corpus")
    avgdl = (total_toks or 0) / n_docs

    # vocab-sized driver round trip -> literal idf map (glibc log on
    # the driver; the oracle's ln is the same libm)
    dfreq = {r["__term"]: r["n"] for r in
             tf.groupBy("__term").agg(F.count("*").alias("n"))
             .collect()}
    if max_df_ratio is not None:
        cap = max_df_ratio * n_docs
        dfreq = {t: n for t, n in dfreq.items() if n <= cap}
        if not dfreq:
            raise ValueError("max_df_ratio dropped every query term")
    idf = {t: math.log(1.0 + (n_docs - n + 0.5) / (n + 0.5))
           for t, n in dfreq.items()}
    # vocab-sized idf table as a BROADCAST relation, not a create_map
    # literal (r15): a query workload of a few hundred terms made the
    # literal a ~1500-entry codegen map whose generated method paid
    # the janino/JIT tax on every fresh session (SCALE.md pitfall #3),
    # and at a real query workload's vocab size a map literal embeds
    # the whole vocabulary in the PLAN.  The broadcast join drops
    # non-vocab terms exactly like the old isNotNull filter (inner
    # join), same driver-computed idf doubles.
    idf_df = docs.sparkSession.createDataFrame(
        sorted(idf.items()), "__term string, __idf double")
    tff = (F.col("__tf") * (k1 + 1.0)) / (
        F.col("__tf")
        + k1 * (1.0 - b + b * (F.col("__dl") / F.lit(float(avgdl)))))
    scored = (tf.join(F.broadcast(idf_df), "__term")
              .join(F.broadcast(qterms), "__term"))
    if exclude_label:
        # NULL labels never pair (plain != is NULL -> filtered),
        # matching similarity.hard_negatives semantics
        scored = (scored.where(
            (F.col("__dlabel") != F.col("__qlabel"))
            & (F.col(id_col) != F.col(qid_col)))
            .drop("__dlabel", "__qlabel"))
    agg = (scored.groupBy(qid_col, id_col)
           .agg(F.round(F.sum(F.col("__idf") * tff), round_to)
                .alias("bm25"),
                F.count("*").cast("int").alias("n_matched")))
    w = Window.partitionBy(qid_col).orderBy(
        F.desc("bm25"), F.asc(id_col))
    return (agg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(qid_col, "rank", id_col, "bm25", "n_matched"))


def hard_negatives_bm25(docs: DataFrame, k: int = 5,
                        k1: float = 1.2, b: float = 0.75,
                        text_col: str = "text", id_col: str = "doc_id",
                        label_col: str = "lang",
                        query_tokens: int = 3,
                        round_to: int = 6,
                        anchor_filter: Column | None = None) -> DataFrame:
    """Lexical hard negatives: for each anchor document (rows passing
    ``anchor_filter``; default every 20th doc), the ``k`` highest-BM25
    documents with a DIFFERENT ``label_col`` — the lexical twin of
    ``similarity.hard_negatives`` (embedding-cosine).  The anchor's
    query is its first ``query_tokens`` normalized tokens (the
    retrieval-style proxy; a production pipeline would pass curated
    queries straight to :func:`bm25_topk`).

    Output: ``(anchor_id, neg_rank, neg_id, bm25, n_matched)``.
    """
    docs = spread(docs)
    if anchor_filter is None:
        anchor_filter = F.col(id_col) % 20 == 0
    queries = (docs.where(anchor_filter)
               .select(F.col(id_col).alias("__qid"),
                       F.col(label_col).alias("__lab"),
                       F.concat_ws(
                           " ", F.slice(_tok_arr(text_col), 1,
                                        query_tokens))
                       .alias("__query")))
    out = bm25_topk(docs, queries, k=k, k1=k1, b=b,
                    text_col=text_col, id_col=id_col,
                    query_col="__query", qid_col="__qid",
                    exclude_label=(label_col, "__lab"),
                    round_to=round_to)
    return out.select(F.col("__qid").alias("anchor_id"),
                      F.col("rank").alias("neg_rank"),
                      F.col(id_col).alias("neg_id"),
                      "bm25", "n_matched")


def decontam_retrieval(docs: DataFrame, queries: DataFrame,
                       k: int = 10, min_score: float = 0.0,
                       k1: float = 1.2, b: float = 0.75,
                       text_col: str = "text", id_col: str = "doc_id",
                       query_col: str = "query",
                       qid_col: str = "query_id",
                       max_df_ratio: float | None = None,
                       round_to: int = 6) -> DataFrame:
    """Decontamination-by-retrieval (the GPT-3/PaLM appendix recipe
    restated as ranking: run every EVAL item as a BM25 query over the
    training corpus and drop whatever ranks): one row per CONTAMINATED
    training document — any doc in some query's top-``k`` with
    ``bm25 >= min_score`` — with how many eval items hit it and the
    strongest hit.  The complement of this frame is the clean corpus;
    the n-gram-overlap duals live in ``datapipe/decontam.py`` (this
    is the ranked lexical variant that catches paraphrase-level
    contamination n-gram matching misses at equal cost).

    Output: ``(doc_id, n_queries_hit, max_bm25, top_query_id)`` with
    ``top_query_id`` = the qid of the strongest hit (ties -> smaller
    qid).  Scale shape: bm25_topk's envelope plus one doc_id groupBy
    over top-k-bounded rows.
    """
    hits = bm25_topk(docs, queries, k=k, k1=k1, b=b,
                     text_col=text_col, id_col=id_col,
                     query_col=query_col, qid_col=qid_col,
                     max_df_ratio=max_df_ratio, round_to=round_to)
    hits = hits.where(F.col("bm25") >= min_score)
    return (hits.groupBy(id_col)
            .agg(F.count("*").cast("int").alias("n_queries_hit"),
                 F.max("bm25").alias("max_bm25"),
                 F.min_by(qid_col, F.struct(
                     (-F.col("bm25")).alias("s"),
                     F.col(qid_col).alias("q")))
                 .alias("top_query_id")))
