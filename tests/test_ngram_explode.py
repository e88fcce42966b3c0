"""Focused tests for the zip-explode n-gram helpers (_util.ngram_explode /
pair_rows) that replaced the interpreted per-element transform() gram
builders (r14 optimization): the emitted row multisets must be IDENTICAL
to the classic sequence+transform formulation on every edge the old code
handled — short docs, empty docs, NULL text, empty-string tokens."""

import pytest
from pyspark.sql import functions as F

from pypond_spark.datapipe._util import ngram_explode, pair_rows


def _old_strict(df, arr, n, keep, out):
    """The pre-r14 formulation: transform over sequence(1, size-n+1)."""
    count = F.size(arr) - (n - 1)
    idx = F.when(count > 0, F.sequence(F.lit(1), count)) \
        .otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(arr, i, n)))
    return df.select(*[F.col(c) for c in keep],
                     F.explode(grams).alias(out))


def _old_min_one(df, arr, n, keep, out):
    """The pre-r14 word_shingles formulation under the NULL-text law: at
    least one shingle, none for a NULL token array."""
    count = F.greatest(F.size(arr) - (n - 1), F.lit(1))
    grams = F.when(arr.isNotNull(), F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", F.slice(arr, i, n))))
    return df.select(*[F.col(c) for c in keep],
                     F.explode(grams).alias(out))


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "one two"),                       # shorter than trigram
        (3, "solo"),                          # single token
        (4, ""),                              # empty text
        (5, None),                            # NULL text
        (6, "x  y   z"),                      # runs of whitespace
        (7, "a b a b a"),                     # repeats
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _toks():
    return F.filter(F.split(F.trim(F.col("text")), r"\s+"),
                    lambda t: t != F.lit(""))


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_strict_matches_old_formulation(edge_docs, n):
    new = ngram_explode(edge_docs, _toks(), n, keep=["doc_id"], out="g")
    old = _old_strict(edge_docs, _toks(), n, ["doc_id"], "g")
    assert _multiset(new) == _multiset(old)


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_min_one_matches_old_formulation(edge_docs, n):
    new = ngram_explode(edge_docs, _toks(), n, keep=["doc_id"],
                        out="g", min_one=True)
    old = _old_min_one(edge_docs, _toks(), n, ["doc_id"], "g")
    assert _multiset(new) == _multiset(old)


def test_min_one_empty_emits_one_empty_gram_null_none(edge_docs):
    out = ngram_explode(edge_docs.where("doc_id in (4, 5)"), _toks(),
                        3, keep=["doc_id"], out="g", min_one=True)
    assert _multiset(out) == [(4, "")]


def test_strict_pos_offsets(edge_docs):
    out = ngram_explode(edge_docs.where("doc_id = 1"), _toks(), 2,
                        keep=["doc_id"], out="g", pos="p")
    assert _multiset(out) == [
        (1, 0, "alpha beta"), (1, 1, "beta gamma"), (1, 2, "gamma delta")]


def test_pos_rejected_with_min_one(edge_docs):
    with pytest.raises(ValueError):
        ngram_explode(edge_docs, _toks(), 2, pos="p", min_one=True)


def test_pair_rows_adjacent_pairs(edge_docs):
    out = pair_rows(edge_docs.select("doc_id", _toks().alias("a")),
                    F.col("a"), keep=["doc_id"])
    got = _multiset(out)
    assert (1, "alpha", "beta") in got
    assert (1, "gamma", "delta") in got
    # single-token and empty docs emit nothing
    assert not [r for r in got if r[0] in (3, 4, 5)]
    # repeats keep their multiplicity
    assert got.count((7, "a", "b")) == 2


def test_unfiltered_tokens_keep_empty_string_semantics(spark):
    # ngram_top builds grams over UNFILTERED _match_tokens (may contain
    # ""): concat_ws must keep empty strings (adjacent separators), only
    # NULL padding is skipped
    df = spark.createDataFrame([(1,)], "doc_id int")
    arr = F.array(F.lit("a"), F.lit(""), F.lit("b"))
    out = ngram_explode(df, arr, 2, keep=["doc_id"], out="g")
    assert _multiset(out) == sorted([(1, "a "), (1, " b")])
