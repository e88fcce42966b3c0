"""BPE tokenization at corpus scale — merge-table inference and training.

The trick that keeps BOTH stages JVM-side (no Python in the hot path) is
the separator-string encoding of a symbol sequence: every symbol is
individually bracketed with the unit separator ``\\x1f`` (never part of
any symbol) — ``"aba"`` is ``␟a␟␟b␟␟a␟`` — so applying merge
``(x, y) -> xy`` is ONE literal ``replace`` of ``␟x␟␟y␟`` with
``␟xy␟``.  Each symbol owning BOTH its separators matters: a match
consumes nothing the next pair needs, so replace-all's left-to-right
non-overlapping scan is exactly the classic greedy single pass
(``aaaa`` + ``(a,a)`` → ``aa aa``, not ``aa a a``).  SQL ``replace``
has the same scan semantics, so a DuckDB oracle replays tokenization
verbatim.

- :func:`bpe_apply`: inference over a fixed merge table = a chain of
  ``n_merges`` nested literal replaces — pure scan-level codegen
  expressions, no shuffle, stream-safe.
- :func:`bpe_train`: Sennrich et al. 2016 training loop — each rank is
  ONE adjacent-pair count aggregate over the corpus (shuffle on the
  pair key, map-side combinable) + a 1-row argmax pulled to the driver,
  then a scan-level rewrite; ``n_merges`` iterations total.  State per
  iteration is bounded by the distinct-pair vocabulary, never O(corpus).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pypond_spark.datapipe._util import WS, pair_rows, spread, word_tokens

SEP = "\x1f"


def _check_merges(merges: list[tuple[str, str]]) -> None:
    for m in merges:
        if len(m) != 2 or not m[0] or not m[1] or SEP in m[0] + m[1]:
            raise ValueError(f"invalid merge {m!r}: need two non-empty "
                             f"symbols without the \\x1f separator")


def symbolize(text_col: str = "text") -> Column:
    """Initial symbol string: every character becomes a bracketed symbol
    (``"ab"`` → ``"␟a␟␟b␟"``).  ``(?s)`` so newline characters are
    symbols like any other."""
    return F.regexp_replace(F.col(text_col), "(?s)(.)", SEP + "$1" + SEP)


def _merge_pat(x: str, y: str) -> tuple[str, str]:
    return SEP + x + SEP + SEP + y + SEP, SEP + x + y + SEP


def _tokens_from_symbols(s: Column) -> Column:
    # whitespace symbols separate words but are not tokens
    return F.filter(F.split(s, SEP),
                    lambda t: (t != F.lit("")) & (F.trim(t) != F.lit("")))


def bpe_apply(df: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Tokenize with a fixed BPE merge table: one left-to-right literal
    replace pass per merge, in rank order (see module docstring for why
    this is both the classic greedy semantics and SQL-replayable).

    Merges never cross words because whitespace characters are ordinary
    symbols that no merge contains — they end up dropped from the token
    list, not merged over.

    Output: ``id_col, tokens (array<string>), n_tokens``.
    """
    _check_merges(merges)
    s = symbolize(text_col)
    for x, y in merges:
        pat, rep = _merge_pat(x, y)
        s = F.replace(s, F.lit(pat), F.lit(rep))
    toks = _tokens_from_symbols(s)
    return spread(df).select(F.col(id_col), toks.alias("tokens"),
                             F.size(toks).alias("n_tokens"))


def bpe_train(df: DataFrame, n_merges: int = 8,
              text_col: str = "text") -> list[tuple[str, str, int]]:
    """Learn a BPE merge table from the corpus (Sennrich et al. 2016):
    repeat ``n_merges`` times — count adjacent symbol pairs (whitespace
    symbols excluded, so pairs never span words), pick the most frequent
    (ties: lexicographic (left, right) — deterministic across engines),
    rewrite the corpus with that merge.

    Runs on the DISTINCT space-separated-segment frame weighted by
    corpus frequency (the classic word-frequency formulation — see the
    in-body note for why the counts are identical to the corpus form).
    Each iteration is one pair-count shuffle (map-side combinable,
    state bounded by the pair vocabulary) + an O(1) driver argmax +
    a vocab-level rewrite pinned with ``localCheckpoint`` so plans stay
    flat.  Returns ``[(left, right, pair_count), ...]`` in rank order.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    # Sennrich's word-frequency formulation: the pair filter below strips
    # exactly the space-adjacent pairs (trim() removes 0x20), so no
    # counted pair — and hence no merged symbol — ever spans or contains
    # a space.  Counting adjacent pairs inside DISTINCT space-separated
    # segments, weighted by segment frequency, therefore yields the
    # IDENTICAL per-rank (pair, count) table (the oracle replays the
    # corpus form and hash-matches), while every iteration runs over the
    # segment VOCABULARY instead of the corpus.
    words = (spread(df)
             .select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
             .where(F.col("w") != "")
             .groupBy("w").agg(F.count("*").alias("wc")))
    cur = words.select(symbolize("w").alias("s"), "wc").localCheckpoint()
    out: list[tuple[str, str, int]] = []
    for _ in range(int(n_merges)):
        arr = F.filter(F.split(F.col("s"), SEP), lambda t: t != F.lit(""))
        pair = (pair_rows(cur.select(arr.alias("a"), "wc"), F.col("a"),
                          keep=["wc"])
                .where((F.trim("l") != "") & (F.trim("r") != ""))
                .groupBy("l", "r").agg(F.sum("wc").alias("c"))
                .orderBy(F.desc("c"), "l", "r").limit(1).collect())
        if not pair:
            break
        l, r, c = pair[0]["l"], pair[0]["r"], pair[0]["c"]
        out.append((l, r, int(c)))
        pat, rep = _merge_pat(l, r)
        # checkpoint every rank: the count job references the symbol
        # array 3x (the zip-explode slices), and CollapseProject
        # inlines a lazy replace chain into every reference — measured
        # 3x slower lazily at 8 ranks, so materializing here is cheaper
        cur = cur.select(F.replace("s", F.lit(pat), F.lit(rep))
                         .alias("s"), "wc").localCheckpoint()
    return out


# ---------------------------------------------------------------------------
# Byte-level BPE (the GPT-2 family, Radford et al. 2019)
# ---------------------------------------------------------------------------

def _bytes_to_unicode() -> dict[int, str]:
    """GPT-2's bytes-to-unicode bijection (the public encoder recipe):
    visibly-printable latin-1 bytes map to themselves; the other 68
    bytes map to U+0100.. in order, so EVERY byte is a visible,
    standalone character and merge symbols never contain whitespace or
    control characters.  Fixed 256-entry table, identical everywhere."""
    bs = (list(range(0x21, 0x7F)) + list(range(0xA1, 0xAD))
          + list(range(0xAE, 0x100)))
    cs = list(bs)
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(0x100 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


BYTE_UNICODE = _bytes_to_unicode()
#: the 256 mapped characters ordered by byte value — ONE string literal,
#: so the byte->char lookup is substr(alphabet, byte+1, 1) on any engine
#: (no 512-literal map construct, no quote-escaping risk in oracles)
BYTE_ALPHABET = "".join(BYTE_UNICODE[b] for b in range(256))
UNICODE_BYTE = {c: b for b, c in BYTE_UNICODE.items()}

#: simplified GPT-2 pre-tokenizer: a chunk is an optionally
#: space-prefixed letter run, digit run, or punctuation run, or a
#: whitespace run — merges apply WITHIN a chunk and never across, the
#: property that keeps GPT-2 merge tables word-aligned.  (The reference
#: pattern's apostrophe-contraction alternatives are folded into the
#: punctuation branch — documented simplification.)  Same regex
#: dialect meaning in Java and RE2, so oracles replay the split.
BYTE_CHUNK_PATTERN = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def byte_symbolize(col: Column) -> Column:
    """UTF-8 bytes of a string as a bracketed byte-level symbol string:
    encode -> hex -> per-byte lookup in the 256-char alphabet ->
    ``␟c␟`` brackets.  The hex detour keeps everything expression-only
    (binary has no element iteration in SQL); the per-element lambda is
    an interpreted HOF by contract run on the DISTINCT-chunk frame, so
    its volume is vocabulary-bounded, never corpus-bounded."""
    hx = F.hex(F.encode(col, "UTF-8"))
    pairs = F.filter(F.split(F.regexp_replace(hx, "(..)", "$1,"), ","),
                     lambda p: p != F.lit(""))
    alpha = F.lit(BYTE_ALPHABET)
    return F.concat_ws("", F.transform(
        pairs,
        lambda h: F.concat(
            F.lit(SEP),
            alpha.substr(F.conv(h, 16, 10).cast("int") + 1, F.lit(1)),
            F.lit(SEP))))


def bpe_bytes_apply(df: DataFrame, merges: list[tuple[str, str]],
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Byte-level BPE inference — the fourth tokenizer family, and the
    production-relevant one: unlike char-level :func:`bpe_apply`, ANY
    input tokenizes (multibyte characters, emoji, binary-ish junk)
    because the base vocabulary is the 256 byte symbols, and the mapped
    token stream is losslessly invertible back to the original bytes.

    Shape: pre-tokenize into GPT-2-style chunks
    (:data:`BYTE_CHUNK_PATTERN`, posexplode), tokenize each DISTINCT
    chunk once (byte symbolize + the rank-ordered literal replace chain
    of :func:`bpe_apply` — merges are pairs of MAPPED-space symbols
    like ``('Ġ', 't')``), then join back and reassemble per doc in
    chunk order.  The distinct-chunk frame is the same
    per-DISTINCT-word cost contract as the WordPiece/unigram operators:
    the merge chain runs on the chunk vocabulary, not the corpus.

    Output: ``id_col, tokens (array<string>, mapped space), n_tokens``.
    """
    _check_merges(merges)
    ch = spread(df).select(
        F.col(id_col),
        F.posexplode_outer(
            F.regexp_extract_all(F.col(text_col),
                                 F.lit(BYTE_CHUNK_PATTERN), 0))
        .alias("__pos", "__chunk"))
    dc = (ch.select("__chunk")
          .where(F.col("__chunk").isNotNull()).distinct())
    s = byte_symbolize(F.col("__chunk"))
    for x, y in merges:
        pat, rep = _merge_pat(x, y)
        s = F.replace(s, F.lit(pat), F.lit(rep))
    # byte-level keeps every token (whitespace bytes are real symbols —
    # Ġ etc. — and belong to tokens), unlike the char-level trim filter
    toks = F.filter(F.split(s, SEP), lambda t: t != F.lit(""))
    dtok = dc.select("__chunk", toks.alias("__toks"))
    joined = ch.join(dtok, "__chunk", "left")
    tokens = F.flatten(F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("__pos"),
                                             F.col("__toks")))),
        lambda st: F.coalesce(st["__toks"],
                              F.array().cast("array<string>"))))
    return (joined.groupBy(id_col)
            .agg(tokens.alias("tokens"))
            .select(F.col(id_col), "tokens",
                    F.size("tokens").alias("n_tokens")))


def bpe_bytes_train(df: DataFrame, n_merges: int = 8,
                    text_col: str = "text") -> list[tuple[str, str, int]]:
    """Learn a byte-level BPE merge table (the GPT-2 training loop):
    chunk pre-tokenize, byte-symbolize each DISTINCT chunk once with
    its corpus count, then repeat ``n_merges`` times — count adjacent
    symbol pairs WEIGHTED by chunk frequency (the classic word-frequency
    formulation), pick the most frequent (ties: lexicographic (left,
    right) in mapped space — deterministic across engines), rewrite the
    chunk vocabulary with that merge.

    Pairs never cross chunks by construction, so learned merges respect
    word boundaries exactly as the reference pre-tokenizer guarantees.
    Each iteration is one pair-count shuffle over the CHUNK VOCABULARY
    (not the corpus — the per-distinct-chunk contract makes training
    sublinear in corpus size) + an O(1) driver argmax + a scan-level
    rewrite pinned with ``localCheckpoint``.  Returns ``[(left, right,
    weighted_count), ...]`` in rank order, symbols in mapped space.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    chunks = (spread(df)
              .select(F.explode(
                  F.regexp_extract_all(F.col(text_col),
                                       F.lit(BYTE_CHUNK_PATTERN), 0))
                  .alias("__chunk"))
              .groupBy("__chunk").agg(F.count("*").alias("wc")))
    cur = chunks.select(byte_symbolize(F.col("__chunk")).alias("s"),
                        "wc").localCheckpoint()
    out: list[tuple[str, str, int]] = []
    for _ in range(int(n_merges)):
        arr = F.filter(F.split(F.col("s"), SEP), lambda t: t != F.lit(""))
        pair = (pair_rows(cur.select(arr.alias("a"), "wc"), F.col("a"),
                          keep=["wc"])
                .groupBy("l", "r").agg(F.sum("wc").alias("c"))
                .orderBy(F.desc("c"), "l", "r").limit(1).collect())
        if not pair:
            break
        l, r, c = pair[0]["l"], pair[0]["r"], pair[0]["c"]
        out.append((l, r, int(c)))
        pat, rep = _merge_pat(l, r)
        # checkpoint every rank (see bpe_train: lazy replace chains
        # re-inline into every zip-explode slice reference)
        cur = cur.select(F.replace("s", F.lit(pat), F.lit(rep))
                         .alias("s"), "wc").localCheckpoint()
    return out


def bytes_detokenize(tokens: list[str]) -> str:
    """Client-side inverse of :func:`bpe_bytes_apply`: mapped token
    chars -> bytes -> UTF-8 text.  The lossless-roundtrip property the
    byte-level family exists for (tests pin it)."""
    return bytes(UNICODE_BYTE[c] for t in tokens for c in t) \
        .decode("utf-8")


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018) — the other production tokenizer family
# ---------------------------------------------------------------------------

_UNK_SCORE = -20_000_000  # micro-nats; well below any ln(p) seen in practice


def _corpus_words(df: DataFrame, text_col: str,
                  max_word_len: int) -> DataFrame:
    """Distinct-word frame ``(w, wc)`` — whitespace tokens truncated to
    ``max_word_len`` chars, counted over the corpus.  Bounded by the
    word vocabulary, the frame every later stage runs on (never the
    corpus)."""
    return (spread(df)
            .select(F.explode(F.split(F.trim(F.col(text_col)), f"[{WS}]+"))
                    .alias("w0"))
            .where(F.col("w0") != "")
            .select(F.substring("w0", 1, int(max_word_len)).alias("w"))
            .groupBy("w").agg(F.count("*").alias("wc")))


def _viterbi_segments(words: DataFrame, scores: DataFrame,
                      max_piece_len: int,
                      unk_score: int = _UNK_SCORE) -> DataFrame:
    """Viterbi-best segmentation of each distinct word under integer
    piece scores: maximize ``sum(score(piece))`` with pieces drawn from
    ``scores (piece, s)``; unknown single chars fall back to
    ``unk_score`` so every word is segmentable (the unigram-LM totality
    guarantee).  Tie-break: the LONGER piece wins an exact score tie
    (explicit, so a SQL replay can mirror it).

    Plan shape (the dtw/kleinberg scan-level-DP pattern): one bounded
    (word x position x piece-length) explode, one broadcast join against
    the piece table, one per-word lookup-array collect, then the whole
    DP as ONE ``aggregate`` fold carrying ``D`` and the best
    segmentation string — no Python, no driver loop, cost linear in
    total word-vocab characters times ``max_piece_len``.

    Returns ``(w, seg)`` with ``seg`` the ``\\x1f``-joined best pieces
    (leading separator, same encoding as the BPE stages above).
    """
    L = int(max_piece_len)
    if L < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    pos = (words.select("w", F.length("w").alias("n"))
           .select("w", "n",
                   F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"))
           .select("w", "n", "i",
                   F.explode(F.sequence(F.lit(1), F.lit(L))).alias("l"))
           .withColumn("piece",
                       F.expr("IF(l <= i, substring(w, i - l + 1, l), "
                              "NULL)")))
    sc = scores.select(F.col("piece").alias("__p"), F.col("s"))
    looked = (pos.join(F.broadcast(sc), pos["piece"] == F.col("__p"),
                       "left")
              .select("w", "n", "i", "l",
                      F.when(F.col("l") == 1,
                             F.coalesce(F.col("s"),
                                        F.lit(int(unk_score))))
                      .otherwise(F.col("s")).alias("s")))
    # full n x L lookup array per word, index (i-1)*L + l; entries for
    # l > i stay NULL and are skipped by the fold
    arr = (looked.groupBy("w", "n")
           .agg(F.array_sort(F.collect_list(F.struct("i", "l", "s")))
                .alias("g"))
           .withColumn("sarr", F.expr("transform(g, x -> x.s)"))
           .drop("g"))

    def _sc(length: int) -> str:
        return f"element_at(sarr, (i - 1) * {L} + {length})"

    # best (d, l) at position i; evaluated l ascending with >= so the
    # longest piece wins exact ties — D[k] lives at element_at(ds, k+1)
    best = (f"named_struct('d', element_at(acc.ds, i) + {_sc(1)}, "
            f"'l', 1)")
    for length in range(2, L + 1):
        cand = (f"(element_at(acc.ds, i - {length} + 1) "
                f"+ {_sc(length)})")
        best = (f"IF({length} <= i AND {_sc(length)} IS NOT NULL "
                f"AND {cand} >= ({best}).d, "
                f"named_struct('d', {cand}, 'l', {length}), {best})")
    fold = f"""
      aggregate(
        sequence(1, n),
        named_struct('ds', array(0L), 'segs', array('')),
        (acc, i) -> named_struct(
          'ds', concat(acc.ds, array(({best}).d)),
          'segs', concat(acc.segs, array(concat(
              element_at(acc.segs, i - ({best}).l + 1),
              '{SEP}', substring(w, i - ({best}).l + 1, ({best}).l))))),
        acc -> element_at(acc.segs, -1))
    """
    return arr.select("w", F.expr(fold).alias("seg"))


def _rescore(pieces: DataFrame) -> DataFrame:
    """Integer log-prob scores over a ``(piece, c)`` frame:
    ``s = round(ln(c / total) * 1e6)`` micro-nat BIGINTs — ONE double
    division and one ``ln`` per piece, deterministic cross-engine (the
    MI/NB discipline)."""
    tot = pieces.agg(F.sum("c").alias("__t"))
    return (pieces.crossJoin(F.broadcast(tot))
            .select("piece", "c",
                    F.round(F.log(F.col("c") / F.col("__t")) * 1e6)
                    .cast("long").alias("s")))


def unigram_train(df: DataFrame, vocab_size: int = 40,
                  max_piece_len: int = 3, iters: int = 2,
                  max_word_len: int = 12,
                  unk_score: int = _UNK_SCORE,
                  text_col: str = "text") -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018, *Subword
    Regularization* §3 — the SentencePiece ``unigram`` model), as hard
    (Viterbi) EM with explicit deterministic tie-breaks so the whole
    loop replays as generated SQL:

    1. **Seed**: candidate pieces = every substring of length
       ``1..max_piece_len`` of the (truncated) distinct words — all
       single chars plus the top ``2 * vocab_size`` multi-char
       candidates by corpus-weighted count (ties: lexicographic).
       Initial scores ``round(ln(c / total) * 1e6)`` micro-nats.
    2. **EM** (``iters`` rounds): E-step = Viterbi-best segmentation of
       each distinct word (:func:`_viterbi_segments`; longer piece wins
       score ties); M-step = recount pieces over best segmentations
       weighted by word counts, re-score.  Pieces that win no
       segmentation drop out (their mass flows to the survivors —
       Kudo's prune, made deterministic).
    3. **Prune**: keep the top ``vocab_size`` pieces by final count
       (ties: lexicographic).

    Every stage is bounded by the word/piece vocabulary — the corpus is
    touched exactly once (the word count).  Returns
    ``(piece, count, score)``; ``score`` is the final micro-nat
    log-prob, the input :func:`unigram_apply` expects.
    """
    if vocab_size < 1 or iters < 1:
        raise ValueError(f"need vocab_size >= 1 and iters >= 1, got "
                         f"{vocab_size}, {iters}")
    words = _corpus_words(df, text_col, max_word_len).localCheckpoint()
    L = int(max_piece_len)
    subs = (words
            .select("w", "wc",
                    F.explode(F.sequence(F.lit(1), F.length("w")))
                    .alias("i"))
            .select("wc", "i",
                    F.explode(F.sequence(F.lit(1),
                                         F.least(F.lit(L), F.col("i"))))
                    .alias("l"),
                    F.col("w"))
            .select(F.expr("substring(w, i - l + 1, l)").alias("piece"),
                    "wc"))
    cnt = subs.groupBy("piece").agg(F.sum("wc").alias("c"))
    chars = cnt.where(F.length("piece") == 1)
    multi = (cnt.where(F.length("piece") >= 2)
             .orderBy(F.desc("c"), "piece").limit(2 * int(vocab_size)))
    scores = _rescore(chars.unionByName(multi))
    counts = None
    for _ in range(int(iters)):
        segs = _viterbi_segments(words.select("w"),
                                 scores.select("piece", "s"),
                                 L, unk_score)
        counts = (segs.join(words, "w")
                  .select(F.explode(F.expr(
                      f"filter(split(seg, '{SEP}'), t -> t != '')"))
                      .alias("piece"), "wc")
                  .groupBy("piece").agg(F.sum("wc").alias("c")))
        scores = _rescore(counts)
    return (scores.orderBy(F.desc("c"), "piece").limit(int(vocab_size))
            .select("piece", F.col("c").alias("count"),
                    F.col("s").alias("score")))


def unigram_apply(df: DataFrame, vocab, text_col: str = "text",
                  id_col: str = "doc_id", max_piece_len: int | None = None,
                  max_word_len: int = 12,
                  unk_score: int = _UNK_SCORE) -> DataFrame:
    """Tokenize with a fixed unigram-LM vocabulary: Viterbi-best
    segmentation per distinct word (:func:`_viterbi_segments`), then
    reassembly in document word order — the word-vocab frame does the
    expensive work once per distinct word, not once per occurrence.

    ``vocab``: ``{piece: score}`` / ``[(piece, score), ...]`` with
    integer micro-nat scores (the :func:`unigram_train` output), or a
    DataFrame with ``piece``/``score`` columns.  Unknown single chars
    fall back to ``unk_score`` — segmentation is total.

    Output: ``id_col, tokens (array<string>), n_tokens`` — the
    :func:`bpe_apply` shape.
    """
    if isinstance(vocab, DataFrame):
        items = [(r["piece"], int(r["score"])) for r in vocab.collect()]
    elif isinstance(vocab, dict):
        items = sorted(vocab.items())
    else:
        items = [(p, int(s)) for p, s in vocab]
    if not items:
        raise ValueError("vocab must be non-empty")
    L = int(max_piece_len if max_piece_len is not None
            else max(len(p) for p, _ in items))
    spark = df.sparkSession
    scores = spark.createDataFrame(items, "piece string, s long")
    wp = (spread(df)
          .select(F.col(id_col),
                  F.posexplode(word_tokens(text_col)).alias("pos", "w0"))
          .select(F.col(id_col), "pos",
                  F.substring("w0", 1, int(max_word_len)).alias("w")))
    segs = _viterbi_segments(wp.select("w").distinct(), scores, L,
                             unk_score)
    per_doc = (wp.join(segs, "w")
               .groupBy(id_col)
               .agg(F.array_sort(F.collect_list(F.struct("pos", "seg")))
                    .alias("g"))
               .select(F.col(id_col),
                       F.expr(f"filter(flatten(transform(g, "
                              f"x -> split(x.seg, '{SEP}'))), "
                              "t -> t != '')").alias("tokens")))
    # docs with no words keep an empty token list (bpe_apply contract)
    return (spread(df).select(id_col)
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("tokens", F.array().cast("array<string>"))
                    .alias("tokens"))
            .withColumn("n_tokens", F.size("tokens")))


def wordpiece_apply(df: DataFrame, vocab, text_col: str = "text",
                    id_col: str = "doc_id",
                    max_piece_len: int | None = None,
                    max_word_len: int = 12,
                    unk_token: str = "[UNK]") -> DataFrame:
    """WordPiece inference (Wu et al. 2016 §4.1 / the BERT tokenizer):
    greedy longest-match-first segmentation — at each position take the
    LONGEST vocabulary piece, continuation pieces carry the ``##``
    prefix, and a word with any unmatchable position becomes one
    ``unk_token`` (whole-word UNK, the BERT contract; contrast
    :func:`unigram_apply`, which optimizes a global objective and
    falls back per character).

    Same engine shape as the unigram Viterbi: work per DISTINCT word —
    a bounded (word × pos × len) explode joined (broadcast) against
    the vocabulary builds a presence lookup array, and the greedy scan
    folds over it with O(1) state ``(pos, seg, bad)``; each fold step
    consumes >= 1 characters, so ``length(w)`` iterations always
    suffice.  Deterministic by construction (longest match is unique).

    ``vocab``: iterable of piece strings (continuations ``##``-prefixed)
    or a DataFrame with a ``piece`` column.  Output: ``(id_col, tokens,
    n_tokens)`` — the :func:`bpe_apply` shape.
    """
    if isinstance(vocab, DataFrame):
        pieces = [r["piece"] for r in vocab.collect()]
    else:
        pieces = list(vocab)
    if not pieces:
        raise ValueError("vocab must be non-empty")
    L = int(max_piece_len if max_piece_len is not None
            else max(len(p) - (2 if p.startswith("##") else 0)
                     for p in pieces))
    if L < 1:
        raise ValueError("vocab has no usable piece")
    spark = df.sparkSession
    vdf = spark.createDataFrame([(p,) for p in sorted(set(pieces))],
                                "piece string")
    wp = (spread(df)
          .select(F.col(id_col),
                  F.posexplode(word_tokens(text_col)).alias("pos", "w0"))
          .select(F.col(id_col), "pos",
                  F.substring("w0", 1, int(max_word_len)).alias("w")))
    words = wp.select("w").distinct()
    grid = (words.select("w", F.length("w").alias("n"))
            .select("w", "n",
                    F.explode(F.sequence(F.lit(1), F.col("n")))
                    .alias("i"))
            .select("w", "n", "i",
                    F.explode(F.sequence(F.lit(1), F.lit(L)))
                    .alias("l"))
            .withColumn("key", F.expr(
                "IF(i + l - 1 <= n, "
                "IF(i = 1, substring(w, i, l), "
                "concat('##', substring(w, i, l))), NULL)")))
    looked = (grid.join(F.broadcast(vdf),
                        grid["key"] == vdf["piece"], "left")
              .select("w", "n", "i", "l",
                      F.col("piece").isNotNull().alias("ok")))
    arr = (looked.groupBy("w", "n")
           .agg(F.array_sort(F.collect_list(F.struct("i", "l", "ok")))
                .alias("g"))
           .withColumn("parr", F.expr("transform(g, x -> x.ok)"))
           .drop("g"))
    # greedy longest-first: nested IFs from l = L down to 1
    pick = "named_struct('l', 0, 'hit', false)"
    for length in range(1, L + 1):
        pick = (f"IF(element_at(parr, (acc.pos - 1) * {L} + {length}), "
                f"named_struct('l', {length}, 'hit', true), {pick})")
    sepu = SEP + unk_token.replace("'", "''")
    fold = f"""
      aggregate(
        sequence(1, n),
        named_struct('pos', 1, 'seg', '', 'bad', false),
        (acc, i) -> IF(acc.bad OR acc.pos > n, acc,
          IF(NOT ({pick}).hit,
             named_struct('pos', n + 1, 'seg', '', 'bad', true),
             named_struct(
               'pos', acc.pos + ({pick}).l,
               'seg', concat(acc.seg, '{SEP}',
                             IF(acc.pos = 1, '', '##'),
                             substring(w, acc.pos, ({pick}).l)),
               'bad', false))),
        acc -> IF(acc.bad, '{sepu}', acc.seg))
    """
    segs = arr.select("w", F.expr(fold).alias("seg"))
    per_doc = (wp.join(segs, "w")
               .groupBy(id_col)
               .agg(F.array_sort(F.collect_list(F.struct("pos", "seg")))
                    .alias("g"))
               .select(F.col(id_col),
                       F.expr(f"filter(flatten(transform(g, "
                              f"x -> split(x.seg, '{SEP}'))), "
                              "t -> t != '')").alias("tokens")))
    return (spread(df).select(id_col)
            .join(per_doc, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("tokens", F.array().cast("array<string>"))
                    .alias("tokens"))
            .withColumn("n_tokens", F.size("tokens")))


def wordpiece_train(df: DataFrame, n_merges: int = 8,
                    text_col: str = "text",
                    max_word_len: int = 12) -> list[tuple]:
    """Learn a WordPiece vocabulary (Schuster & Nakajima 2012; the BERT
    recipe): like BPE training, but each rank merges the adjacent pair
    maximizing the unigram-LM LIKELIHOOD GAIN ``count(xy) / (count(x)
    · count(y))`` instead of the raw pair count — rare-but-cohesive
    pairs win over merely-frequent ones.  Symbols carry the ``##``
    continuation marker from the start (word ``the`` seeds as ``t``,
    ``##h``, ``##e``; merging ``(t, ##h)`` yields ``th``), so the
    learned pieces feed :func:`wordpiece_apply` directly.

    Each iteration: ONE tagged explode over the DISTINCT-word frame
    counts pairs (k=1) and unit symbols (k=0) in the same shuffle,
    weighted by word frequency; the argmax orders by the IEEE ratio of
    exact integer counts (identical doubles on any engine), ties
    breaking lexicographically — fully replayable.  Cost is bounded by
    the word vocabulary, never the corpus.

    Returns ``[(left, right, merged, pair_count, left_count,
    right_count), ...]`` in rank order — all-integer evidence, the
    ratio is only the ordering key.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    words = _corpus_words(df, text_col, max_word_len)
    first = F.concat(F.lit(SEP), F.substring("w", 1, 1), F.lit(SEP))
    idx = F.when(F.length("w") >= 2,
                 F.sequence(F.lit(2), F.length("w"))) \
        .otherwise(F.array().cast("array<int>"))
    rest = F.concat_ws("", F.transform(
        idx, lambda i: F.concat(F.lit(SEP + "##"),
                                F.col("w").substr(i, F.lit(1)),
                                F.lit(SEP))))
    from pyspark.sql import Window

    cur = words.select(F.concat(first, rest).alias("s"),
                       "wc").localCheckpoint()
    out: list[tuple] = []
    for _ in range(int(n_merges)):
        arr = F.filter(F.split(F.col("s"), SEP),
                       lambda t: t != F.lit(""))
        sym = cur.select("wc", arr.alias("a"))
        # unit rows carry the symbol in BOTH l and r so the unit count
        # attaches to pair rows through two windows on the count frame
        # — one collect job per rank instead of a checkpoint + two
        # broadcast-build jobs + the collect (guide §1.2: driver-job
        # latency dominates vocab-sized rounds)
        tagged = (pair_rows(sym, F.col("a"), keep=["wc"])
                  .select("wc", F.lit(1).alias("k"), "l", "r")
                  .unionByName(
                      sym.select("wc", F.explode("a").alias("l"))
                      .select("wc", F.lit(0).alias("k"), "l",
                              F.col("l").alias("r"))))
        cnt = (tagged.groupBy("k", "l", "r")
               .agg(F.sum("wc").alias("c")))
        unit_c = F.max(F.when(F.col("k") == 0, F.col("c")))
        pick = (cnt
                .withColumn("cl", unit_c.over(Window.partitionBy("l")))
                .withColumn("cr", unit_c.over(Window.partitionBy("r")))
                .where(F.col("k") == 1)
                .select("l", "r", F.col("c").alias("cp"), "cl", "cr",
                        # cast BOTH unit counts to double BEFORE the
                        # product: a BIGINT*BIGINT wraps silently in
                        # Spark's default non-ANSI mode at extreme
                        # corpus scale while DuckDB raises; the double
                        # product keeps the argmax an IEEE computation
                        # on both engines (oracle mirrors the casts)
                        (F.col("c") / (F.col("cl").cast("double")
                                       * F.col("cr").cast("double")))
                        .alias("ratio"))
                .orderBy(F.desc("ratio"), "l", "r").limit(1).collect())
        if not pick:
            break
        row = pick[0]
        l, r = row["l"], row["r"]
        merged = l + (r[2:] if r.startswith("##") else r)
        out.append((l, r, merged, int(row["cp"]), int(row["cl"]),
                    int(row["cr"])))
        pat = SEP + l + SEP + SEP + r + SEP
        # checkpoint every rank (see bpe_train: lazy replace chains
        # re-inline into every zip-explode slice reference)
        cur = cur.select(F.replace("s", F.lit(pat),
                                   F.lit(SEP + merged + SEP))
                         .alias("s"), "wc").localCheckpoint()
    return out
