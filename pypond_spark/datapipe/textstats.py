"""Text analysis: quality scoring, language ID, token counting, fingerprints.

Everything here is built-in column expressions (JVM-side, codegen) — a
deliberate choice so these run at scan speed on 100 TB of documents. The
functions are also chosen to be SQL-portable (md5, length, regexp) so the
DuckDB oracle can verify them value-for-value.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pypond_spark.datapipe._util import (WS, ngram_explode, overlap, spread,
                                          word_tokens)
from pypond_spark.session import shuffle_width

TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# tiny marker-word lists for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of", "a"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "que", "y"],
}

STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def _match_tokens(text_col: str) -> Column:
    """Tokens normalized for marker/stopword matching: lowercased with
    leading/trailing punctuation stripped ('The' / 'the,' both match 'the')."""
    return F.transform(
        word_tokens(text_col),
        lambda t: F.regexp_replace(F.lower(t),
                                   "(^[^a-z0-9]+)|([^a-z0-9]+$)", ""))


def token_count(text_col: str = "text") -> Column:
    """BPE-ish token count: letter runs, digit runs, and single symbols."""
    return F.regexp_count(F.col(text_col), F.lit(TOKEN_RE))


def _word_count_expr(text_col: str) -> Column:
    """``size(word_tokens(text_col))`` as ONE compiled regex scan: every
    maximal non-whitespace run is one token of the split/filter law
    (r15 — the interpreted HOF filter evaluated per token; see
    SCALE.md 'interpreted lambdas are the scan-level cost to fear')."""
    return F.regexp_count(F.col(text_col), F.lit(r"\S+"))


def _alpha_word_count_expr(text_col: str) -> Column:
    """``size(filter(word_tokens(c), t -> t rlike '[A-Za-z]'))`` as one
    compiled scan: a maximal non-whitespace run matches exactly once
    iff it contains a letter (leftmost match anchors at the run start,
    greedy ``\\S*`` consumes the rest of the run)."""
    return F.regexp_count(F.col(text_col), F.lit(r"\S*[A-Za-z]\S*"))


def _marker_hits_expr(text_col: str, markers: Sequence[str]) -> Column:
    """``size(filter(_match_tokens(c), t -> t.isin(*markers)))`` as one
    compiled case-insensitive scan.  A normalized token equals a marker
    iff the whitespace-delimited run is junk* marker junk* where junk =
    non-whitespace non-alphanumeric (the edge-strip law: internal junk
    is KEPT by the normalizer, so it must not appear inside the match;
    the run boundary is start-of-string or the ASCII whitespace class).
    Markers must be plain ``[a-z]+`` words (they are: stopword/marker
    tables) — no regex metachars to escape.  Case folds for ASCII only
    (Java ``(?i)`` without UNICODE_CASE), while the normalizer's ``lower``
    folds Unicode: U+212A (Kelvin sign) is a ``k`` to the token law but
    not to this scan, and U+0130 is not an ``i`` to either."""
    alt = "|".join(markers)
    junk = f"[^{WS}a-zA-Z0-9]*"
    pat = (f"(?i)(^|(?<=[{WS}]))"
           f"{junk}(?:{alt}){junk}(?=[{WS}]|$)")
    return F.regexp_count(F.col(text_col), F.lit(pat))


def _nospace_len_expr(text_col: str) -> Column:
    """``length(regexp_replace(text, r'\\s+', ''))`` without building
    the stripped copy: char length minus the count of single
    whitespace chars (both count CHARACTERS, so the difference is
    exact)."""
    return (F.length(text_col)
            - F.regexp_count(F.col(text_col), F.lit(r"\s")))


def _line_count_expr(text_col: str) -> Column:
    """``size(split(text, '\\n'))``: one more than the newline count
    (split always yields n+1 elements; '' -> ['']  -> 1)."""
    return F.regexp_count(F.col(text_col), F.lit("\n")) + F.lit(1)


def _bullet_line_count_expr(text_col: str) -> Column:
    """``size(filter(lines, l -> trim(l) rlike '^[-*•‣▪]'))`` as one
    compiled scan.  Spark ``trim`` strips SPACES only (not tabs/CR),
    so a line counts iff its first non-space char is a bullet; the
    anchor is start-of-string or just-after-newline (NOT ``(?m)^``,
    whose Java line-terminator rules differ around ``\\r``)."""
    return F.regexp_count(
        F.col(text_col), F.lit("(^|(?<=\n)) *[-*•‣▪]"))


def _ellipsis_line_count_expr(text_col: str) -> Column:
    """``size(filter(lines, l -> rtrim(l) rlike '(\\\\.\\\\.\\\\.|…)$'))``
    as one compiled scan.  The replayed law: ``rtrim`` strips trailing
    SPACES only, then Java ``$`` accepts one final ``\\r`` terminator —
    so a line counts iff it ends ellipsis, then at most one ``\\r``,
    then spaces.  ``(?=\\n|\\z)`` (absolute end) avoids Java ``$``'s
    match before the ``\\r`` of ``\\r\\n``, which would wrongly accept
    'ellipsis SPACE \\r'."""
    return F.regexp_count(
        F.col(text_col), F.lit("(\\.\\.\\.|…)\r? *(?=\n|\\z)"))


def hashed_grams(text_col: str = "text") -> Column:
    """Unigram + bigram bag over normalized tokens — the hashed-n-gram
    feature set shared by :func:`pypond_spark.datapipe.sampling.dsir_weights`
    and :func:`nb_quality_classifier` (the DSIR paper's generative-model
    features, Xie et al. 2023 §3).  Array-valued form; corpus-scale
    consumers explode :func:`hashed_gram_rows` instead (same bag, fully
    code-generated)."""
    arr = F.filter(_match_tokens(text_col), lambda t: t != F.lit(""))
    n = F.size(arr)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(" ", F.element_at(arr, i),
                              F.element_at(arr, i + 1)))) \
        .otherwise(F.array().cast("array<string>"))
    return F.concat(arr, bigrams)


def hashed_gram_rows(df: DataFrame, text_col: str = "text",
                     keep: list[str] | None = None,
                     out: str = "__g") -> DataFrame:
    """Row-level twin of ``explode(hashed_grams(...))``: unigram rows
    unioned with zip-exploded bigram rows — the identical (keep, gram)
    multiset without the interpreted per-element transform (see
    :func:`~pypond_spark.datapipe._util.ngram_explode`)."""
    keep = list(keep or [])
    arr = F.filter(_match_tokens(text_col), lambda t: t != F.lit(""))
    uni = df.select(*[F.col(c) for c in keep], F.explode(arr).alias(out))
    return uni.unionByName(
        ngram_explode(df, arr, 2, keep=keep, out=out))


def gram_bucket(g: Column, n_buckets: int) -> Column:
    """md5-hash a gram into ``[0, n_buckets)`` — SQL-portable (DuckDB
    replays it as ``('0x' || substr(md5(g), 1, 8))::BIGINT % n``)."""
    return (F.conv(F.md5(g).substr(1, 8), 16, 10).cast("long")
            % F.lit(int(n_buckets)))


def quality_stats(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features: length, words, punct & stopword ratios.

    The word count is referenced by three output columns (itself and
    two ratio denominators), so the scalar counts ride a 1:1
    inline(array(struct)) Generate (the :func:`_repetition_struct`
    trick) and every reference reads a materialized attribute.  r15:
    the token split + per-token normalize/filter HOF passes are gone —
    word count and stopword hits are each ONE compiled regex scan
    (:func:`_word_count_expr` / :func:`_marker_hits_expr`, identical
    values by the token-law replay in their docstrings)."""
    raw = {
        "n_chars": F.length(text_col),
        "n_words": _word_count_expr(text_col),
        "n_tokens": token_count(text_col),
        "nospace_len": F.length(
            F.regexp_replace(text_col, r"\s+", "")),
        "n_punct": F.regexp_count(F.col(text_col),
                                  F.lit("[^A-Za-z0-9\\s]")),
        "stop_hits": _marker_hits_expr(text_col, STOPWORDS),
    }
    base = spread(df).select(F.col(id_col), F.inline(F.array(F.struct(
        *[raw[k].alias(f"__{k}") for k in raw]))))
    n_words = F.col("__n_words")
    denom_w = F.greatest(n_words, F.lit(1))
    return base.select(
        F.col(id_col),
        F.col("__n_chars").alias("n_chars"),
        n_words.alias("n_words"),
        F.col("__n_tokens").alias("n_tokens"),
        (F.col("__nospace_len") / denom_w).alias("avg_word_len"),
        (F.col("__n_punct").cast("double") /
         F.greatest(F.col("__n_chars"), F.lit(1))).alias("punct_ratio"),
        (F.col("__stop_hits").cast("double") / denom_w)
        .alias("stopword_ratio"),
    )


def _language_id_fields(text_col: str) -> list[Column]:
    """Per-language marker-score struct fields, each ONE compiled
    regex scan over the raw text (:func:`_marker_hits_expr` — r15;
    previously an interpreted token-filter pass per language over a
    staged normalized-token array, which also forced the split+
    normalize staging itself).  Still staged behind a 1:1
    inline(array(struct)) Generate by the callers so the argmax
    chain's ~2 references per score read plain attributes."""
    return [_marker_hits_expr(text_col, markers).alias(f"__s_{lang}")
            for lang, markers in LANG_MARKERS.items()]


def _language_id_pred() -> tuple[Column, Column]:
    """(lang_pred, lang_score) argmax chain over the ``__s_<lang>``
    attributes emitted by :func:`_language_id_fields`'s Generate."""
    scores = {lang: F.col(f"__s_{lang}") for lang in LANG_MARKERS}
    langs = list(LANG_MARKERS)
    # earlier languages win ties: lang_i is picked iff its score is >= every
    # later language's score and > 0
    best = F.lit("und")
    for i in range(len(langs) - 1, -1, -1):
        lang = langs[i]
        later = [scores[l] for l in langs[i + 1:]]
        cond = (scores[lang] > 0)
        if later:
            cond = cond & (scores[lang] >= F.greatest(*later) if len(later) > 1
                           else scores[lang] >= later[0])
        best = F.when(cond, F.lit(lang)).otherwise(best)
    return best, F.greatest(*scores.values())


def language_id(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Marker-word language heuristic: count marker hits per language,
    argmax wins (ties resolved in LANG_MARKERS order, 'und' if all zero).

    One staged Generate (r15 — down from two: the normalized-token
    array no longer exists, each score is a compiled regex scan over
    the raw text): the per-language scores, so the argmax chain reads
    attributes instead of re-running the scan per reference."""
    base = df.select(F.col(id_col),
                     F.inline(F.array(F.struct(
                         *_language_id_fields(text_col)))))
    best, best_score = _language_id_pred()
    return base.select(F.col(id_col), best.alias("lang_pred"),
                       best_score.alias("lang_score"))


#: named HTML entities :func:`strip_html` decodes (the high-frequency
#: set; arbitrary numeric entities need a char-decode UDF — documented
#: scope cut, they survive as literals)
HTML_ENTITIES = (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                 ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
                 ("&amp;", "&"))  # &amp; LAST: single-pass decode


def strip_html_expr(text_col: str = "text") -> Column:
    """HTML -> text as a pure JVM expression chain (regexp_replace,
    whole-stage codegen — no UDF in the hot path): drop
    ``<script>``/``<style>`` subtrees and comments, turn the block-level
    closers (``</p>``, ``</div>``, ``</li>``, ``</tr>``, headings) and
    ``<br>`` into newlines so words from different blocks never glue
    together, strip every remaining tag, decode the high-frequency
    named entities (:data:`HTML_ENTITIES`), collapse runs of
    blanks/newlines. The simplified trafilatura-class extraction stage
    every crawl pipeline runs before quality/dedup — each pattern is
    RE2-and-Java compatible ((?is) inline flags, non-greedy subtree
    bodies), so the oracle replays the chain verbatim."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(
        c, r"(?i)<br\b[^>]*>|</(p|div|li|tr|h[1-6])\s*>", "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, rep in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t\r]+", " ")
    c = F.regexp_replace(c, r" ?\n[ \n]*", "\n")
    # F.trim strips only spaces: take newlines off the edges explicitly
    # so '<p>hi</p>' is 'hi', not 'hi\n' (digest-poisoning otherwise)
    return F.regexp_replace(c, r"^[\n ]+|[\n ]+$", "")


def strip_html(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Frame form of :func:`strip_html_expr` — rewrite ``text_col`` in
    place so the extraction stage feeds quality scoring, dedup and
    tokenization directly. Scan-level, zero shuffle, zero Python."""
    return df.withColumn(text_col, strip_html_expr(text_col))


def strip_markdown_expr(text_col: str = "text") -> Column:
    """Markdown -> text as a pure JVM expression chain (r14) — the
    GitHub/README/docs slice of a crawl corpus, same contract as
    :func:`strip_html_expr`: keep the human-readable content, drop
    the markup.  Rules, in order: fenced code blocks keep their body,
    inline code keeps its body, images and inline/reference links
    keep their alt/anchor text, link definitions drop, ATX ``#``
    prefixes and setext ``===``/``---`` underlines drop, blockquote
    ``>`` prefixes drop, horizontal rules drop, ``**``/``*``/``__``/
    ``~~`` emphasis keeps its body, table separator rows drop and
    pipe borders become single spaces, list markers drop, blank runs
    collapse.  Every pattern is RE2-and-Java compatible (no
    lookaround — the single-underscore italic form is a documented
    scope cut, it is intra-word too often in real corpora anyway);
    the oracle replays the chain with ``\\1`` in place of ``$1``."""
    c = F.col(text_col)
    c = F.regexp_replace(c, r"(?s)```[^\n]*\n(.*?)```", r"$1")
    c = F.regexp_replace(c, r"`([^`\n]+)`", r"$1")
    c = F.regexp_replace(c, r"!\[([^\]]*)\]\([^)]*\)", r"$1")
    c = F.regexp_replace(c, r"\[([^\]]*)\]\([^)]*\)", r"$1")
    c = F.regexp_replace(c, r"\[([^\]]*)\]\[[^\]]*\]", r"$1")
    c = F.regexp_replace(c, r"(?m)^[ \t]{0,3}\[[^\]]+\]:[ \t]*\S.*$", "")
    c = F.regexp_replace(c, r"(?m)^[ \t]{0,3}#{1,6}[ \t]+", "")
    c = F.regexp_replace(c, r"(?m)^[ \t]{0,3}(={3,}|-{3,})[ \t]*$", "")
    c = F.regexp_replace(c, r"(?m)^[ \t]{0,3}(>[ \t]?)+", "")
    c = F.regexp_replace(c, r"(?m)^[ \t]{0,3}([*_-][ \t]*){3,}$", "")
    c = F.regexp_replace(c, r"\*\*([^*\n]+)\*\*", r"$1")
    c = F.regexp_replace(c, r"__([^_\n]+)__", r"$1")
    c = F.regexp_replace(c, r"\*([^*\n]+)\*", r"$1")
    c = F.regexp_replace(c, r"~~([^~\n]+)~~", r"$1")
    c = F.regexp_replace(c, r"(?m)^[ \t]*\|[-:| ]+\|?[ \t]*$", "")
    c = F.regexp_replace(c, r"(?m)^[ \t]*\||\|[ \t]*$", "")
    c = F.regexp_replace(c, r"[ \t]*\|[ \t]*", " ")
    c = F.regexp_replace(c, r"(?m)^[ \t]{0,3}([-*+]|[0-9]+\.)[ \t]+", "")
    c = F.regexp_replace(c, r"[ \t\r]+", " ")
    c = F.regexp_replace(c, r" ?\n[ \n]*", "\n")
    return F.regexp_replace(c, r"^[\n ]+|[\n ]+$", "")


def strip_markdown(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Frame form of :func:`strip_markdown_expr` — scan-level, zero
    shuffle, zero Python."""
    return df.withColumn(text_col, strip_markdown_expr(text_col))


#: macros whose brace argument IS readable text — the keep-arg rule
#: unwraps ``\emph{x}`` -> ``x``; applied three times so three levels
#: of nesting resolve before the generic command drop
LATEX_KEEP_ARG = ("section|subsection|subsubsection|chapter|part"
                  "|paragraph|subparagraph|title|author|date|thanks"
                  "|textbf|textit|texttt|textsc|textsf|textrm|textmd"
                  "|textup|textsl|emph|underline|caption|footnote"
                  "|mbox|hbox|text|textsuperscript|textsubscript")

#: macros whose brace argument is machinery, not text — dropped whole
#: (with an optional ``[...]`` argument)
LATEX_DROP_ARG = ("cite|citet|citep|citeauthor|citeyear|ref|eqref"
                  "|pageref|autoref|cref|label|url|input|include"
                  "|includegraphics|usepackage|documentclass"
                  "|bibliography|bibliographystyle|vspace|hspace"
                  "|setlength|newcommand|renewcommand|pagestyle"
                  "|thispagestyle")

#: math environments stripped whole (starred variants included); both
#: ends use the same non-capturing alternation because RE2 — the
#: oracle's engine — has no pattern backreferences
LATEX_MATH_ENVS = ("equation|align|alignat|gather|eqnarray|multline"
                   "|math|displaymath")


def strip_latex_expr(text_col: str = "text") -> Column:
    """LaTeX -> text as a pure JVM expression chain (r14) — the arXiv
    slice of a pretraining corpus, same contract as
    :func:`strip_markdown_expr`: keep the human-readable prose, drop
    the markup and the math.  Rules, in order: ``verbatim`` bodies are
    inlined (and then flow through the rest of the chain, the same
    treatment markdown gives fenced code); escaped ``\\$`` ``\\{``
    ``\\}`` are protected behind control-char placeholders so the math
    and brace rules cannot eat them; ``%`` comments drop (``\\%`` is
    guarded by a ``[^\\\\]`` class, not lookbehind — RE2 has none);
    display math (``$$..$$``, ``\\[..\\]``, ``\\(..\\)``, the
    :data:`LATEX_MATH_ENVS` environments) and inline ``$..$`` drop
    whole; ``\\href{u}{t}`` keeps ``t``; :data:`LATEX_KEEP_ARG` macros
    unwrap their argument (three passes, so three nesting levels);
    :data:`LATEX_DROP_ARG` macros drop with their arguments;
    ``\\begin``/``\\end`` drop with env name + args; ``\\item``
    markers drop; ``\\\\`` line breaks become newlines; ``\\'e``-style
    accents keep the letter; ``\\&``-style escapes unescape; ``~``
    becomes a space; every remaining ``\\command`` drops bare (its
    brace args' text survives the brace cleanup); braces drop;
    whitespace collapses exactly like the markdown chain.  Every
    pattern is RE2-and-Java compatible (no lookaround, no pattern
    backreferences) so the DuckDB oracle replays the chain verbatim
    with ``\\1`` replacements."""
    c = F.col(text_col)
    c = F.regexp_replace(
        c, r"(?s)\\begin\{verbatim\}\n?(.*?)\\end\{verbatim\}", r"$1")
    # protect escaped $ { } behind placeholders (restored at the end)
    c = F.replace(c, F.lit("\\$"), F.lit("\x01"))
    c = F.replace(c, F.lit("\\{"), F.lit("\x02"))
    c = F.replace(c, F.lit("\\}"), F.lit("\x03"))
    c = F.regexp_replace(c, r"(?m)(^|[^\\])%[^\n]*$", r"$1")
    c = F.regexp_replace(c, r"(?s)\$\$.*?\$\$", "")
    c = F.regexp_replace(c, r"(?s)\\\[.*?\\\]", "")
    c = F.regexp_replace(c, r"(?s)\\\(.*?\\\)", "")
    c = F.regexp_replace(
        c, r"(?s)\\begin\{(?:" + LATEX_MATH_ENVS + r")\*?\}.*?"
        r"\\end\{(?:" + LATEX_MATH_ENVS + r")\*?\}", "")
    c = F.regexp_replace(c, r"\$[^$\n]*\$", "")
    c = F.regexp_replace(c, r"\\href\{[^{}]*\}\{([^{}]*)\}", r"$1")
    keep = r"\\(?:" + LATEX_KEEP_ARG + r")\*?\{([^{}]*)\}"
    for _ in range(3):
        c = F.regexp_replace(c, keep, r"$1")
    c = F.regexp_replace(
        c, r"\\(?:" + LATEX_DROP_ARG + r")\*?(?:\[[^\]]*\])?"
        r"\{[^{}]*\}", "")
    c = F.regexp_replace(
        c, r"\\(?:begin|end)\{[^{}]*\}(?:\[[^\]]*\])?(?:\{[^{}]*\})*",
        "")
    c = F.regexp_replace(c, r"\\item(?:\[[^\]]*\])?[ \t]*", "")
    c = F.regexp_replace(c, r"\\\\\*?(?:\[[^\]]*\])?", "\n")
    c = F.regexp_replace(c, "\\\\['`^\"]\\{?([A-Za-z])\\}?", r"$1")
    c = F.regexp_replace(c, r"\\([&%_#])", r"$1")
    c = F.regexp_replace(c, r"~", " ")
    c = F.regexp_replace(c, r"\\[A-Za-z]+\*?", "")
    c = F.regexp_replace(c, r"\\[ ,;!]", " ")
    c = F.regexp_replace(c, r"[{}]", "")
    c = F.regexp_replace(c, r"[ \t\r]+", " ")
    c = F.regexp_replace(c, r" ?\n[ \n]*", "\n")
    c = F.regexp_replace(c, r"^[\n ]+|[\n ]+$", "")
    c = F.replace(c, F.lit("\x01"), F.lit("$"))
    c = F.replace(c, F.lit("\x02"), F.lit("{"))
    return F.replace(c, F.lit("\x03"), F.lit("}"))


def strip_latex(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Frame form of :func:`strip_latex_expr` — scan-level, zero
    shuffle, zero Python."""
    return df.withColumn(text_col, strip_latex_expr(text_col))


#: block-level HTML elements whose open OR close tag starts a new text
#: block for :func:`html_blocks` (the jusText/trafilatura block split)
BLOCK_TAGS = ("p|div|li|tr|td|th|h[1-6]|section|article|main|header"
              "|footer|nav|aside|ul|ol|table|blockquote|form|figure|pre")
_BLOCK_BOUNDARY = rf"(?i)</?(?:{BLOCK_TAGS})\b[^>]*>"


def _block_text_expr(col: Column) -> Column:
    """Inline-HTML -> plain text for ONE block fragment: strip tags,
    decode :data:`HTML_ENTITIES` (&amp; last), collapse whitespace."""
    c = F.regexp_replace(col, r"(?s)<[^>]*>", " ")
    for ent, rep in HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_blocks(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", min_words: int = 3,
                min_chars: int = 80) -> DataFrame:
    """Block-level HTML segmentation with jusText-class content
    classification (Pomikalek 2011 "Removing boilerplate and duplicate
    content from web corpora" §3; the same block heuristics behind
    trafilatura/jusText): :func:`strip_html` keeps navigation, footers
    and cookie banners — this scores each block and labels the chrome.

    Pipeline (all JVM expressions until the one explode):
    script/style/comment subtrees dropped, the document split at every
    block-tag boundary (:data:`BLOCK_TAGS`), one row per block with

    - ``block_text`` — tags stripped, entities decoded, whitespace
      collapsed;
    - ``link_chars`` — plain-text length inside ``<a>`` anchors (the
      link-density numerator);
    - ``n_chars`` / ``n_words`` / ``stop_hits`` — size + stopword
      signals over :func:`_match_tokens`.

    Classification, ALL-INTEGER comparisons (cross-multiplied ratios,
    so the SQL twin is exact with no float anywhere):

    - ``n_words < min_words``           -> ``short`` (boilerplate)
    - ``3 * link_chars > n_chars``      -> ``link``  (density > 1/3 —
      navigation, related-links lists, footers)
    - ``4 * stop_hits >= n_words``      -> ``content`` (stopword share
      >= 1/4: natural prose in a stopword-bearing language)
    - ``n_chars >= min_chars``          -> ``content`` (long block
      without stopword evidence — the jusText "near-good" rule, which
      keeps prose in languages outside the stopword list)
    - otherwise                         -> ``low``   (boilerplate)

    Scale: the split/explode is corpus-sized (inherent — every block is
    scored), all scoring stays scan-level per block; no shuffle in this
    frame at all.  Output: ``(id_col, block_pos, block_text, n_chars,
    n_words, stop_hits, link_chars, label)``.
    """
    if min_words < 1 or min_chars < 1:
        raise ValueError(f"min_words/min_chars must be >= 1, got "
                         f"{min_words}/{min_chars}")
    pre = F.col(text_col)
    pre = F.regexp_replace(pre, r"(?is)<script\b[^>]*>.*?</script\s*>",
                           " ")
    pre = F.regexp_replace(pre, r"(?is)<style\b[^>]*>.*?</style\s*>",
                           " ")
    pre = F.regexp_replace(pre, r"(?s)<!--.*?-->", " ")
    base = spread(df).select(
        F.col(id_col),
        F.posexplode(F.split(pre, _BLOCK_BOUNDARY))
        .alias("block_pos", "__raw"))
    anchors = F.regexp_extract_all(
        F.col("__raw"), F.lit(r"(?is)<a\b[^>]*>(.*?)</a\s*>"), 1)
    link_chars = F.aggregate(
        F.transform(anchors, lambda a: F.length(_block_text_expr(a))),
        F.lit(0), lambda acc, x: acc + x)
    scored = base.select(
        id_col, "block_pos",
        _block_text_expr(F.col("__raw")).alias("block_text"),
        link_chars.alias("link_chars"))
    toks = F.filter(_match_tokens("block_text"),
                    lambda t: t != F.lit(""))
    n_words = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n_chars = F.length("block_text")
    scored = scored.select(
        id_col, "block_pos", "block_text",
        n_chars.alias("n_chars"), n_words.alias("n_words"),
        stop_hits.alias("stop_hits"), "link_chars")
    label = (F.when(F.col("n_words") < min_words, "short")
             .when(3 * F.col("link_chars") > F.col("n_chars"), "link")
             .when(4 * F.col("stop_hits") >= F.col("n_words"),
                   "content")
             .when(F.col("n_chars") >= min_chars, "content")
             .otherwise("low"))
    return scored.withColumn("label", label)


def extract_content(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", min_words: int = 3,
                    min_chars: int = 80) -> DataFrame:
    """Main-content extraction: keep the :func:`html_blocks` blocks
    labeled ``content`` and rewrite ``text_col`` to their
    newline-joined text (empty string when no block survives — the
    all-chrome page), adding ``n_blocks`` / ``n_content`` so the
    quality tier can score extraction yield.  One groupBy(id) shuffle
    to reassemble blocks in document order (array_sort over the
    collected (pos, text) structs — no window, no global sort)."""
    blocks = html_blocks(df, text_col, id_col, min_words, min_chars)
    agg = (blocks.groupBy(id_col)
           .agg(F.count("*").alias("n_blocks"),
                F.sum(F.when(F.col("label") == "content", 1)
                      .otherwise(0)).alias("n_content"),
                F.concat_ws("\n", F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("label") == "content",
                               F.struct("block_pos", "block_text")))),
                    lambda s: s["block_text"])).alias("__content")))
    return (df.drop(text_col)
            .join(agg, id_col, "left")
            .withColumn(text_col, F.coalesce("__content", F.lit("")))
            .drop("__content"))


#: default-ignorable characters stripped by :func:`normalize_unicode`:
#: zero-width space/non-joiner/joiner, word joiner, BOM/ZWNBSP, soft
#: hyphen — the invisible codepoints real crawls hide inside words,
#: silently defeating exact dedup and decontamination gram matches
ZERO_WIDTH = "\u200b\u200c\u200d\u2060\ufeff\u00ad"

#: curated homoglyph fold (Unicode TR39 confusables, the spam-relevant
#: Cyrillic subset): lowercase Cyrillic letters visually identical to
#: Latin in most fonts, folded to their Latin look-alikes.  DESTRUCTIVE
#: on genuine Cyrillic text by construction (which is why
#: ``fold_confusables`` defaults to False) — the use case is
#: mixed-script spoofing ("раypal" with a Cyrillic р) in predominantly
#: Latin corpora, applied AFTER casefold so one lowercase table
#: suffices.
CONFUSABLES = {
    "а": "a", "е": "e", "о": "o", "р": "p",
    "с": "c", "у": "y", "х": "x", "і": "i",
    "ѕ": "s", "ј": "j", "һ": "h", "ԁ": "d",
    "ԛ": "q", "ԝ": "w",
}


def unicode_normalize_expr(text_col: str = "text", form: str = "NFKC",
                           casefold: bool = True,
                           strip_zero_width: bool = True,
                           fold_confusables: bool = False) -> Column:
    """Arrow-batched Unicode normalization column (the NFKC_Casefold
    ladder of UAX #31 identifier caseless matching): ``form``-normalize
    -> ``str.casefold`` -> strip default-ignorables (:data:`ZERO_WIDTH`)
    -> optional :data:`CONFUSABLES` homoglyph fold -> final
    re-normalize (composition can reopen after the translations).

    Python ``unicodedata`` (the Unicode reference tables shipped with
    CPython) inside a pandas_udf rather than ``java.text.Normalizer``
    in a JVM expression: the two normalizers track different Unicode
    versions, and a silent Java-vs-Python divergence here would poison
    every digest downstream — one implementation, Arrow-vectorized, is
    the deterministic choice (the oracle replays it on hand-derived
    expected literals, not by re-running it).
    """
    import unicodedata
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"form must be NFC/NFKC/NFD/NFKD, got {form!r}")
    zw_table = {ord(c): None for c in ZERO_WIDTH}
    conf_table = {ord(k): v for k, v in CONFUSABLES.items()}

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            y = unicodedata.normalize(form, x)
            if casefold:
                y = y.casefold()
            if strip_zero_width:
                y = y.translate(zw_table)
            if fold_confusables:
                y = y.translate(conf_table)
            return unicodedata.normalize(form, y)
        return s.map(one)

    return _norm(F.col(text_col))


def normalize_unicode(df: DataFrame, text_col: str = "text",
                      form: str = "NFKC", casefold: bool = True,
                      strip_zero_width: bool = True,
                      fold_confusables: bool = False) -> DataFrame:
    """Frame form of :func:`unicode_normalize_expr` — rewrite
    ``text_col`` in place so the result feeds the existing
    ``normalize=`` paths (decontam gram matching) and the digest-keyed
    dedup operators directly: NFC/NFD-divergent clones, zero-width
    stuffing, and (opt-in) mixed-script homoglyphs all collapse to one
    digest.  Scan-level (one Arrow stage, no shuffle)."""
    return df.withColumn(text_col,
                         unicode_normalize_expr(text_col, form, casefold,
                                                strip_zero_width,
                                                fold_confusables))


def char_ngram_buckets(text_col: str = "text", n: int = 3,
                       n_buckets: int = 4096) -> Column:
    """Hashed character n-gram bag for language ID: lowercase, collapse
    whitespace runs to single spaces (so the SPACE-adjacent grams that
    carry most language signal are stable), slide an ``n``-char window,
    md5-bucket each gram (the SQL-portable :func:`gram_bucket`). Docs
    shorter than ``n`` chars produce an empty array."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                            r"\s+", " ")
    grams = F.when(
        F.length(norm) >= n,
        F.transform(F.sequence(F.lit(1), F.length(norm) - (n - 1)),
                    lambda i: norm.substr(i, F.lit(n)))) \
        .otherwise(F.array().cast("array<string>"))
    return F.transform(grams, lambda g: gram_bucket(g, n_buckets))


def char_ngram_bucket_rows(df: DataFrame, text_col: str, n: int,
                           n_buckets: int,
                           keep: list[str] | None = None,
                           out: str = "__b") -> DataFrame:
    """Row-level twin of ``explode(char_ngram_buckets(...))``: explode
    gram POSITIONS and substring+md5-bucket each gram row-wise in
    generated code, instead of bucketing every position through an
    interpreted per-element ``transform`` lambda.  Identical
    (keep, bucket) multiset; docs shorter than ``n`` chars emit
    nothing, as before."""
    keep = list(keep or [])
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))),
                            r"\s+", " ")
    return (df.select(*[F.col(c) for c in keep], norm.alias("__norm"))
            .where(F.length("__norm") >= n)
            .select(*[F.col(c) for c in keep], F.col("__norm"),
                    F.explode(F.sequence(
                        F.lit(1), F.length("__norm") - (n - 1)))
                    .alias("__i"))
            .select(*[F.col(c) for c in keep],
                    gram_bucket(F.col("__norm").substr(F.col("__i"),
                                                       F.lit(n)),
                                n_buckets).alias(out)))


def langid_ngram(train: DataFrame, corpus: DataFrame,
                 label_col: str = "lang", text_col: str = "text",
                 id_col: str = "doc_id", n: int = 3,
                 n_buckets: int = 4096,
                 smoothing: float = 1.0) -> DataFrame:
    """TRAINABLE character-n-gram language identifier: multinomial
    Naive Bayes over hashed char ``n``-grams (Cavnar & Trenkle 1994
    n-gram language categorization, in the closed-form hashed-NB
    discipline of :func:`nb_quality_classifier`) — the production
    replacement for the marker-word heuristic :func:`language_id`,
    which is brittle on short or non-European-language docs.

    Training is ONE shuffle: explode ``train`` into char-gram buckets,
    count per (bucket, label); the DENSE (bucket x label) log-likelihood
    table (``n_buckets * |labels|`` rows — broadcastable by
    construction, and dense so unseen buckets need no fallback branch)
    plus per-label doc priors come out Laplace-smoothed. Scoring is one
    pass over ``corpus``: gram explode, broadcast join, per-(doc,
    label) integer micro-nat sum, argmax (ties break to the
    lexicographically smallest label — deterministic cross-engine).

    Cross-engine determinism: per-cell log-likelihoods and priors are
    micro-nat integers (``round(ln(p) * 1e6)``), per-doc accumulation
    is an exact integer sum, one shared /1e6 at the end — the
    :func:`nb_quality_classifier` recipe, multiclass.

    Output: ``id_col, lang_pred, n_grams, score`` (mean-free total
    log-likelihood in nats; docs with no grams are absent — mirrored by
    the oracle).
    """
    import math
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    s = float(smoothing)
    if s <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    spark = train.sparkSession
    # NULL labels are unlabeled rows, not a class: drop them up front
    # (a None in the label set would crash sorted() and silently train
    # a ghost class — r10 review finding)
    train = spread(train).where(F.col(label_col).isNotNull())
    # per-label doc priors and the gram-count table are independent
    # training passes — run them concurrently (guide §2.6)
    dl_rows, counts = overlap(
        lambda: train.groupBy(F.col(label_col).alias("l"))
        .agg(F.count("*").alias("c")).collect(),
        lambda: (char_ngram_bucket_rows(
                     train.select(F.col(label_col).alias("__l"),
                                  F.col(text_col)),
                     text_col, n, n_buckets, keep=["__l"])
                 .groupBy("__l", "__b").agg(F.count("*").alias("__c"))
                 .localCheckpoint()))
    dl = {r["l"]: r["c"] for r in dl_rows}
    if not dl:
        raise ValueError("langid_ngram: no labeled training rows "
                         f"({label_col} all NULL or frame empty)")
    labels = sorted(dl)
    d_tot = sum(dl.values())
    n_l = {r["__l"]: r["t"] for r in
           counts.groupBy("__l").agg(F.sum("__c").alias("t")).collect()}
    priors = {lab: int(round(math.log((dl[lab] + s)
                                      / (d_tot + s * len(labels))) * 1e6))
              for lab in labels}
    denoms = {lab: float(n_l.get(lab, 0) + s * n_buckets) for lab in labels}
    # dense table as ONE row per bucket carrying the per-label
    # micro-nat array (labels in sorted order): the broadcast join then
    # emits ONE row per gram instead of |labels| rows, and the per-doc
    # aggregate is |labels| long-sums over gram rows instead of a
    # (doc x label)-keyed aggregate over |labels|x the gram table —
    # same integers, ~|labels|x fewer aggregated rows (guide §2.3)
    pivoted = counts.groupBy("__b").agg(
        *[F.max(F.when(F.col("__l") == lab, F.col("__c")))
          .alias(f"__c_{i}") for i, lab in enumerate(labels)])
    dense = (spark.range(n_buckets).select(F.col("id").alias("__b"))
             .join(pivoted, "__b", "left")
             .select("__b", F.array(
                 *[F.round(F.log((F.coalesce(F.col(f"__c_{i}"), F.lit(0))
                                  + F.lit(s)) / F.lit(denoms[lab]))
                           * 1e6).cast("long")
                   for i, lab in enumerate(labels)]).alias("__lls")))
    scored = (char_ngram_bucket_rows(spread(corpus), text_col, n,
                                     n_buckets, keep=[id_col])
              .join(F.broadcast(dense), "__b"))
    per = scored.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[(F.lit(priors[lab])
           + F.sum(F.element_at("__lls", i + 1))).alias(f"__sc_{i}")
          for i, lab in enumerate(labels)])
    scs = [F.col(f"__sc_{i}") for i in range(len(labels))]
    best_sc = F.greatest(*scs) if len(scs) > 1 else scs[0]
    # first label (sorted order) reaching the max == the old
    # min(struct(-sc, label)) tie-break to the smallest label
    pred = F.coalesce(*[F.when(scs[i] == best_sc, F.lit(lab))
                        for i, lab in enumerate(labels)])
    return per.select(F.col(id_col), pred.alias("lang_pred"),
                      F.col("__n").alias("n_grams"),
                      (best_sc / F.lit(1e6)).alias("score"))


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """Document fingerprint: min md5 digest over word n-gram shingles
    (a 1-hash MinHash — the winnowing idea reduced to one band), so the
    value is reproducible across engines.
    """
    toks = word_tokens(text_col)
    count = F.greatest(F.size(toks) - (shingle_n - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, shingle_n))))
    return spread(df).select(F.col(id_col),
                             F.array_min(shingles).alias("fingerprint"))


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document Shannon character entropy in bits — the classic
    cheap degeneracy signal in quality-filter stacks (boilerplate, ASCII
    art, key-mash and single-char spam all sit far below prose's ~4.0-4.5
    bits/char; compression-ratio filters approximate exactly this).

    Identity used: ``H = log2(T) - (Σ n_c·log2(n_c)) / T`` with ``n_c``
    the per-character counts and ``T`` their total, so ONE aggregate per
    doc suffices after the char explode.  Two shuffles, both map-side
    combinable and keyed by (doc, char) then doc — linear in corpus
    chars, skew-free (a doc's rows spread over its distinct chars).
    Docs with no characters (empty/NULL text) report 0.0.
    """
    ch = (df.select(F.col(id_col),
                    F.explode(F.split(F.col(text_col), "")).alias("__c"))
          .where(F.col("__c") != ""))
    cnt = (ch.groupBy(id_col, "__c")
           .agg(F.count("*").cast("double").alias("__n")))
    agg = (cnt.groupBy(id_col)
           .agg(F.sum("__n").alias("__t"),
                F.sum(F.col("__n") * F.log2("__n")).alias("__s")))
    ent = F.log2("__t") - F.col("__s") / F.col("__t")
    scored = agg.select(F.col(id_col),
                        (F.round(ent, 6) + F.lit(0.0)).alias("char_entropy"))
    return (df.select(id_col).join(scored, id_col, "left")
            .withColumn("char_entropy",
                        F.coalesce(F.col("char_entropy"), F.lit(0.0))))


# ---------------------------------------------------------------------------
# Training-data quality heuristics (public rule sets)
#
# gopher_quality: document-level rules from Rae et al. 2021 ("Scaling
#   Language Models: ... Gopher", §A1.1 quality filtering).
# c4_stats: document-level signals from Raffel et al. 2020 (C4 cleaning,
#   §2.2 of the T5 paper).
# repetition_stats: intra-document duplicate n-gram fractions (the Gopher
#   repetition signals, computed over gram counts rather than characters).
#
# All three are pure column expressions (scan-speed, no shuffle, no UDF).
# Thresholds are keyword arguments so callers can tighten them to their
# corpus; the defaults are the published values.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _lines(text_col: str) -> Column:
    return F.split(F.col(text_col), "\n")


def _staged_arrays(text_col: str) -> list[Column]:
    """The heavy per-row text intermediates (token split, normalized
    tokens, line split), aliased for staging behind a 1:1
    inline(array(struct)) Generate so downstream metric projections
    read the MATERIALIZED arrays instead of re-splitting per
    reference (``size`` on a materialized array is O(1))."""
    return [word_tokens(text_col).alias("__toks"),
            _match_tokens(text_col).alias("__mtoks"),
            _lines(text_col).alias("__lines")]


def _gopher_metrics(text_col: str, toks: Column, mtoks: Column,
                    lines: Column,
                    nospace_len: Column | None = None) -> dict[str, Column]:
    """The UNROUNDED Gopher metric expressions over caller-supplied
    token/line arrays — staged attributes (:func:`gopher_quality`,
    ``corpus.preprocess_corpus``) or inline splits
    (:func:`_gopher_raw`); identical arithmetic either way.
    ``nospace_len`` optionally substitutes a staged whitespace-stripped
    length for the inline regexp (same value) where the consumer
    references ``avg_word_len`` more than once."""
    n_words = F.size(toks)
    denom_w = F.greatest(n_words, F.lit(1))
    if nospace_len is None:
        nospace_len = F.length(F.regexp_replace(text_col, r"\s+", ""))
    avg_word_len = nospace_len / denom_w
    n_symbols = (F.regexp_count(F.col(text_col), F.lit("#")) +
                 F.regexp_count(F.col(text_col), F.lit("…|\\.\\.\\.")))
    symbol_ratio = n_symbols.cast("double") / denom_w
    alpha_word_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]"))).cast("double")
        / denom_w)
    stopword_hits = F.size(F.filter(mtoks,
                                    lambda t: t.isin(*GOPHER_STOPWORDS)))
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(F.filter(lines, lambda l: F.trim(l).rlike("^[-*•‣▪]")))
        .cast("double") / n_lines)
    ellipsis_frac = (
        F.size(F.filter(lines,
                        lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$")))
        .cast("double") / n_lines)
    return {"n_words": n_words, "avg_word_len": avg_word_len,
            "symbol_ratio": symbol_ratio,
            "alpha_word_frac": alpha_word_frac,
            "stopword_hits": stopword_hits, "bullet_frac": bullet_frac,
            "ellipsis_frac": ellipsis_frac}


def _gopher_raw(text_col: str) -> dict[str, Column]:
    """The Gopher metrics with inline (per-reference) splits — the
    single-projection form :func:`gopher_exprs` composes from."""
    return _gopher_metrics(text_col, word_tokens(text_col),
                           _match_tokens(text_col), _lines(text_col))


#: the Rae et al. 2021 §A1.1 thresholds — single source for
#: :func:`gopher_exprs`, :func:`gopher_quality` and
#: ``corpus.preprocess_corpus``
GOPHER_DEFAULTS = dict(min_words=50, max_words=100_000,
                       min_avg_word_len=3.0, max_avg_word_len=10.0,
                       max_symbol_ratio=0.1, min_alpha_word_frac=0.80,
                       min_stopword_hits=2, max_bullet_frac=0.90,
                       max_ellipsis_frac=0.30)


def _gopher_pass(m: dict[str, Column], *, min_words: int,
                 max_words: int, min_avg_word_len: float,
                 max_avg_word_len: float, max_symbol_ratio: float,
                 min_alpha_word_frac: float, min_stopword_hits: int,
                 max_bullet_frac: float,
                 max_ellipsis_frac: float) -> Column:
    """The Gopher verdict over UNROUNDED metric expressions/attributes."""
    return (
        m["n_words"].between(min_words, max_words)
        & m["avg_word_len"].between(min_avg_word_len, max_avg_word_len)
        & (m["symbol_ratio"] < max_symbol_ratio)
        & (m["alpha_word_frac"] > min_alpha_word_frac)
        & (m["stopword_hits"] >= min_stopword_hits)
        & (m["bullet_frac"] < max_bullet_frac)
        & (m["ellipsis_frac"] < max_ellipsis_frac))


def gopher_exprs(text_col: str = "text", *,
                 min_words: int = 50, max_words: int = 100_000,
                 min_avg_word_len: float = 3.0,
                 max_avg_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_word_frac: float = 0.80,
                 min_stopword_hits: int = 2,
                 max_bullet_frac: float = 0.90,
                 max_ellipsis_frac: float = 0.30) -> list[Column]:
    """Column expressions for the Gopher rules (shared by
    :func:`gopher_quality` and :func:`corpus.filter_corpus` so composed
    pipelines stay a single projection instead of joining metric tables).

    Returns aliased metric columns ending with ``gopher_pass``.
    """
    m = _gopher_raw(text_col)
    gopher_pass = _gopher_pass(
        m, min_words=min_words, max_words=max_words,
        min_avg_word_len=min_avg_word_len,
        max_avg_word_len=max_avg_word_len,
        max_symbol_ratio=max_symbol_ratio,
        min_alpha_word_frac=min_alpha_word_frac,
        min_stopword_hits=min_stopword_hits,
        max_bullet_frac=max_bullet_frac,
        max_ellipsis_frac=max_ellipsis_frac)
    return [
        m["n_words"].alias("n_words"),
        F.round(m["avg_word_len"], 6).alias("avg_word_len"),
        F.round(m["symbol_ratio"], 6).alias("symbol_ratio"),
        F.round(m["alpha_word_frac"], 6).alias("alpha_word_frac"),
        m["stopword_hits"].alias("stopword_hits"),
        F.round(m["bullet_frac"], 6).alias("bullet_line_frac"),
        F.round(m["ellipsis_frac"], 6).alias("ellipsis_line_frac"),
        gopher_pass.alias("gopher_pass"),
    ]


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", **thresholds) -> DataFrame:
    """Gopher quality-filter metrics and verdict, one row per document.

    Emits every rule's underlying metric plus ``gopher_pass`` (all rules
    hold). Rules (Rae et al. 2021 §A1.1): word count in
    [min_words, max_words]; mean word length in [min_avg_word_len,
    max_avg_word_len]; symbol-to-word ratio ('#', '…', '...') below
    max_symbol_ratio; fraction of words with at least one alphabetic char
    above min_alpha_word_frac; at least min_stopword_hits occurrences of
    GOPHER_STOPWORDS; bullet-start and ellipsis-end line fractions below
    their maxima. Threshold keywords are those of :func:`gopher_exprs`.

    Each interpreted token/line-filter metric is referenced by its
    output column AND by ``gopher_pass``, so the single-projection form
    evaluated every filter twice per row; here the UNROUNDED metrics
    ride a 1:1 inline(array(struct)) Generate (the _repetition_struct
    trick) and both consumers read plain attributes — the verdict
    still compares the raw values, rounding happens only in the output
    projection.  Column-level composition (:func:`corpus.filter_corpus`
    takes only the pass flag, evaluated once) keeps using
    :func:`gopher_exprs`.
    """
    kw = dict(GOPHER_DEFAULTS)
    kw.update(thresholds)
    # level 1: stage the token/line ARRAYS (one split each per row —
    # the metric projection would otherwise re-split per reference);
    # level 2: stage the scalar metrics the verdict AND the output
    # columns both read.  Each Generate is a CollapseProject boundary.
    arrays = spread(df).select(F.col(id_col), F.col(text_col),
                               F.inline(F.array(F.struct(
                                   *_staged_arrays(text_col)))))
    m = _gopher_metrics(text_col, F.col("__toks"), F.col("__mtoks"),
                        F.col("__lines"))
    base = arrays.select(F.col(id_col), F.inline(F.array(F.struct(
        *[m[k].alias(f"__{k}") for k in m]))))
    attrs = {k: F.col(f"__{k}") for k in m}
    return base.select(
        F.col(id_col),
        attrs["n_words"].alias("n_words"),
        F.round(attrs["avg_word_len"], 6).alias("avg_word_len"),
        F.round(attrs["symbol_ratio"], 6).alias("symbol_ratio"),
        F.round(attrs["alpha_word_frac"], 6).alias("alpha_word_frac"),
        attrs["stopword_hits"].alias("stopword_hits"),
        F.round(attrs["bullet_frac"], 6).alias("bullet_line_frac"),
        F.round(attrs["ellipsis_frac"], 6).alias("ellipsis_line_frac"),
        _gopher_pass(attrs, **kw).alias("gopher_pass"))


def _c4_raw(text_col: str, min_line_words: int) -> dict[str, Column]:
    """RAW C4 signals (un-rounded, un-divided), each evaluated exactly
    once per row when staged behind a Generate (see :func:`c4_stats`)."""
    lines = _lines(text_col)
    lowered = F.lower(F.col(text_col))
    return {
        "n_sentences": F.regexp_count(F.col(text_col),
                                      F.lit("[.!?]+(\\s|$)")),
        "n_lines": F.size(lines),
        "short_cnt": F.size(F.filter(
            lines,
            lambda l: F.size(word_tokens(l)) < F.lit(min_line_words))),
        "term_cnt": F.size(F.filter(
            lines, lambda l: F.rtrim(l).rlike("[.!?\"']$"))),
        "has_curly": F.col(text_col).contains("{"),
        "has_lorem": lowered.contains("lorem ipsum"),
        "has_javascript": lowered.contains("javascript"),
    }


def _c4_cols(m: dict[str, Column], min_sentences: int) -> list[Column]:
    """Output projection over the raw C4 signals (attribute references
    when ``m`` comes off a Generate, inline expressions otherwise) —
    identical arithmetic either way."""
    n_lines = F.greatest(m["n_lines"], F.lit(1))
    c4_pass = ((m["n_sentences"] >= min_sentences)
               & ~m["has_curly"] & ~m["has_lorem"]
               & ~m["has_javascript"])
    return [
        m["n_sentences"].alias("n_sentences"),
        m["n_lines"].alias("n_lines"),
        F.round(m["short_cnt"].cast("double") / n_lines,
                6).alias("short_line_frac"),
        F.round(m["term_cnt"].cast("double") / n_lines,
                6).alias("terminal_line_frac"),
        m["has_curly"].alias("has_curly"),
        m["has_lorem"].alias("has_lorem"),
        m["has_javascript"].alias("has_javascript"),
        c4_pass.alias("c4_pass"),
    ]


def c4_exprs(text_col: str = "text", *,
             min_sentences: int = 3,
             min_line_words: int = 5) -> list[Column]:
    """Column expressions for the C4 signals (shared by :func:`c4_stats`
    and :func:`corpus.filter_corpus`). Returns metric/flag columns ending
    with ``c4_pass``.

    Single-projection form for column-level composition — consumers that
    emit every metric column should prefer :func:`c4_stats`'s staged
    form, which evaluates each line/regex pass once per row.
    """
    return _c4_cols(_c4_raw(text_col, min_line_words), min_sentences)


def c4_stats(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id", **thresholds) -> DataFrame:
    """C4 cleaning signals, one row per document.

    Emits sentence count (terminal-punctuation runs), line stats (count,
    fraction shorter than min_line_words words, fraction ending in
    terminal punctuation), the C4 blocklist triggers (curly brace,
    'lorem ipsum', 'javascript'), and ``c4_pass``: at least min_sentences
    sentences and no blocklist trigger (Raffel et al. 2020 §2.2).
    Threshold keywords are those of :func:`c4_exprs`.

    The line-split and lowered-text passes are referenced by several
    output columns AND by ``c4_pass``; a single projection re-evaluates
    them per reference (Catalyst inlines shared subtrees), so the heavy
    intermediates ride a 1:1 inline(array(struct)) Generate (the
    :func:`_repetition_struct` trick): the LINE ARRAY itself is staged
    (one split per row — the three line metrics read the materialized
    array; ``size`` on it is O(1)), alongside the scalar signals that
    two output columns reference (sentence regex, blocklist flags).
    """
    kw = dict(min_sentences=3, min_line_words=5)
    kw.update(thresholds)
    lowered = F.lower(F.col(text_col))
    staged = {
        "n_sentences": F.regexp_count(F.col(text_col),
                                      F.lit("[.!?]+(\\s|$)")),
        "lines": _lines(text_col),
        "has_curly": F.col(text_col).contains("{"),
        "has_lorem": lowered.contains("lorem ipsum"),
        "has_javascript": lowered.contains("javascript"),
    }
    base = spread(df).select(F.col(id_col), F.inline(F.array(F.struct(
        *[staged[k].alias(f"__{k}") for k in staged]))))
    lines = F.col("__lines")
    m = {
        "n_sentences": F.col("__n_sentences"),
        "n_lines": F.size(lines),
        "short_cnt": F.size(F.filter(
            lines,
            lambda l: F.size(word_tokens(l)) < F.lit(kw["min_line_words"]))),
        "term_cnt": F.size(F.filter(
            lines, lambda l: F.rtrim(l).rlike("[.!?\"']$"))),
        "has_curly": F.col("__has_curly"),
        "has_lorem": F.col("__has_lorem"),
        "has_javascript": F.col("__has_javascript"),
    }
    return base.select(F.col(id_col),
                       *_c4_cols(m, kw["min_sentences"]))


def _gram_fold(grams: Column) -> Column:
    """One fold over the sorted gram array yielding (max run, distinct
    count) — i.e. the count of the most frequent gram and the number of
    distinct grams — without exploding rows or shuffling."""
    sorted_grams = F.array_sort(grams)
    return F.aggregate(
        sorted_grams,
        F.struct(F.lit(None).cast("string").alias("prev"),
                 F.lit(0).alias("cur"), F.lit(0).alias("best"),
                 F.lit(0).alias("dist")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(acc.prev.eqNullSafe(x), acc.cur + 1)
             .otherwise(F.lit(1)).alias("cur"),
            F.greatest(F.when(acc.prev.eqNullSafe(x), acc.cur + 1)
                        .otherwise(F.lit(1)), acc.best).alias("best"),
            (acc.dist + F.when(acc.prev.eqNullSafe(x), 0)
                         .otherwise(F.lit(1))).alias("dist")),
        lambda acc: F.struct(acc.best.alias("best"), acc.dist.alias("dist")))


def _rep_params(ns: tuple = (2, 3),
                max_dup_frac: dict | None = None,
                max_top_frac: dict | None = None):
    dup_default = {2: 0.20, 3: 0.18, 4: 0.16}
    top_default = {2: 0.20, 3: 0.18, 4: 0.16}
    return (tuple(ns), {**dup_default, **(max_dup_frac or {})},
            {**top_default, **(max_top_frac or {})})


def _repetition_struct(text_col: str, ns: tuple) -> Column:
    """ONE struct holding, per n, the gram fold (``f{n}``: best run +
    distinct count) and the gram count (``t{n}``).  Consumers that emit
    several metric columns run this through a 1:1 Generate boundary —
    ``inline(array(struct))``, which emits the fields as TOP-LEVEL
    columns — so each O(g log g) interpreted fold is evaluated once per
    row instead of once per referencing metric column (measured:
    repetition_stats 6.4s -> 1.8s at sf0.1).  ``explode`` of the struct
    does NOT work here: GeneratorNestedColumnAliasing pushes the field
    extractions back into the generator child, re-duplicating the fold
    (measured 13s); inline's flat output leaves nothing to alias."""
    toks = word_tokens(text_col)
    fields = []
    for n in ns:
        count = F.size(toks) - (n - 1)
        # sequence(1, 0) is DESCENDING [1, 0], not empty — guard short docs
        idx = F.when(count > 0, F.sequence(F.lit(1), count)) \
               .otherwise(F.array().cast("array<int>"))
        # NB: a second lambda param would be bound to the array *index* by
        # F.transform, so n must be captured by closure (evaluated eagerly).
        grams = F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))))
        fields.append(_gram_fold(grams).alias(f"f{n}"))
        # gram count == size(idx): count when positive, else 0 — no
        # second gram build just to measure its length
        fields.append(F.when(count > 0, count).otherwise(F.lit(0))
                      .alias(f"t{n}"))
    return F.struct(*fields)


def _repetition_cols(r: Column, ns: tuple, max_dup_frac: dict,
                     max_top_frac: dict) -> list[Column]:
    """The public metric columns from a :func:`_repetition_struct`
    value: per-n dup/top fractions ending with ``repetition_pass``
    (identical formulas to the pre-r14 single-projection form)."""
    cols = []
    pass_expr = F.lit(True)
    for n in ns:
        fold, total = r[f"f{n}"], r[f"t{n}"]
        dup_frac = F.when(
            total > 0,
            F.lit(1.0) - fold["dist"].cast("double") / total).otherwise(0.0)
        top_frac = F.when(
            total > 0,
            fold["best"].cast("double") / total).otherwise(0.0)
        cols.append(F.round(dup_frac, 6).alias(f"dup_{n}gram_frac"))
        cols.append(F.round(top_frac, 6).alias(f"top_{n}gram_frac"))
        pass_expr = (pass_expr
                     & (dup_frac <= max_dup_frac.get(n, 1.0))
                     & (top_frac <= max_top_frac.get(n, 1.0)))
    cols.append(pass_expr.alias("repetition_pass"))
    return cols


def repetition_exprs(text_col: str = "text", *,
                     ns: tuple = (2, 3),
                     max_dup_frac: dict | None = None,
                     max_top_frac: dict | None = None) -> list[Column]:
    """Column expressions for the repetition signals. Returns per-n
    dup/top fraction columns ending with ``repetition_pass``.

    NOTE: as plain columns in one projection, Catalyst inlines the
    per-n gram fold into EVERY referencing column (the struct fields
    cannot be shared inside a single Project) — fine for small frames.
    Corpus-scale consumers (:func:`repetition_stats`,
    :func:`corpus.filter_corpus`) extract the same formulas from
    :func:`_repetition_struct` behind a Generate boundary so the fold
    runs once per row.
    """
    ns, dup, top = _rep_params(ns, max_dup_frac, max_top_frac)
    return _repetition_cols(_repetition_struct(text_col, ns), ns, dup, top)


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", **kwargs) -> DataFrame:
    """Duplicate word-n-gram fractions per document (Gopher repetition
    signals). For each n in ``ns`` emits ``dup_{n}gram_frac`` (fraction of
    n-gram slots occupied by a repeat: 1 - distinct/total) and
    ``top_{n}gram_frac`` (count of the most frequent n-gram / total),
    plus ``repetition_pass``. Keywords are those of
    :func:`repetition_exprs`.

    Default thresholds follow Gopher §A1.1 (dup 2-gram 0.20, 3-gram 0.18,
    4-gram 0.16; top likewise), applied to gram-count fractions rather
    than the paper's character fractions.

    Scale note: everything stays scan-level (projection + a 1:1
    Generate) — the fold in `_gram_fold` is O(g log g) per document in
    the document's own gram count, so cost is bounded by row width,
    never corpus size.  The fold struct is computed once per (row, n)
    behind the Generate boundary (see :func:`_repetition_struct`);
    emitting it as plain projection columns re-evaluated it per metric
    column, ~10x (r14).
    """
    ns, dup, top = _rep_params(**kwargs)
    base = spread(df).select(
        F.col(id_col),
        F.inline(F.array(_repetition_struct(text_col, ns))))
    r = F.struct(*[F.col(c).alias(c) for n in ns
                   for c in (f"f{n}", f"t{n}")])
    return base.select(F.col(id_col), *_repetition_cols(r, ns, dup, top))


def unigram_logprob(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    alpha: float = 1.0) -> DataFrame:
    """Per-document mean unigram log2-probability under the corpus's own
    token distribution — the cheapest corpus-relative fluency score
    (a document of rare/garbage tokens scores very negative; natural
    prose scores near the corpus mode). The same two-pass shape scales to
    a real n-gram LM score.

    Pass 1 aggregates token counts (one shuffle on the token — the
    "training" pass); pass 2 joins tokens back to their counts (shuffle
    join on the same key; at warehouse scale both passes co-partition on
    the token, and a small vocabulary would broadcast) and averages
    ``log2 p_alpha(tok)`` per document, with add-``alpha`` smoothing over
    the observed vocabulary.

    Output: ``id_col, n_tokens, mean_logprob``.
    """
    toks = spread(df).select(
        F.col(id_col),
        F.explode(_match_tokens(text_col)).alias("tok")) \
        .where(F.col("tok") != "")
    # only the vocabulary-sized count table is materialized; the corpus-scale
    # token explode is recomputed from the scan for the scoring join (a scan
    # is cheaper than corpus-sized executor-local checkpoint disk at 100 TB)
    counts = toks.groupBy("tok").agg(F.count("*").alias("__c"))
    counts = counts.localCheckpoint()
    # scalar "training" constants in ONE action: total tokens = sum of the
    # per-token counts, vocab = number of count rows
    tot, vocab = counts.agg(F.sum("__c"), F.count("*")).first()
    denom = float(tot + alpha * vocab)
    lp = F.log2((F.col("__c") + F.lit(float(alpha))) / F.lit(denom))
    return (toks.join(counts, "tok")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.avg(lp).alias("mean_logprob")))


def tfidf_top_terms(df: DataFrame, k: int = 5, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (keyword extraction for topic tagging / cluster labeling).

    ``idf = ln((1 + N) / (1 + df)) + 1`` (the sklearn smoothing, so terms
    present in every document still score > 0), ``score = tf * idf``.
    Ties break by term text ascending — fully deterministic, so the DuckDB
    oracle reproduces the exact top-k.

    Three bounded shuffles: (doc, term) counts, per-term document
    frequency, and the top-k window partitioned by document. All keys are
    term or document ids — uniform, skew-free at corpus scale. ``N`` is the
    document count of the *input* table (one metadata-cheap count over the
    doc-level scan — never a distinct over the exploded token table, which
    is the corpus's largest intermediate).
    """
    n_docs = spread(df).count()
    toks = spread(df).select(
        F.col(id_col),
        F.explode(_match_tokens(text_col)).alias("tok")) \
        .where(F.col("tok") != "")
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("__tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("__df"))
    idf = F.log((1.0 + F.lit(float(n_docs)))
                / (1.0 + F.col("__df"))) + F.lit(1.0)
    scored = tf.join(dfreq, "tok") \
        .withColumn("tfidf", F.col("__tf") * idf)
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("tok"))
    return (scored.withColumn("__rank", F.row_number().over(w))
            .where(F.col("__rank") <= k)
            .select(F.col(id_col), F.col("__rank").alias("rank"),
                    F.col("tok").alias("term"), F.col("tfidf")))


def ngram_top(df: DataFrame, n: int = 2, k: int = 20,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Global top-k word n-grams with corpus counts — vocabulary / phrase
    analysis over the whole corpus (and the aggregate side of n-gram LM
    training for n > 1; see :func:`unigram_logprob` for n = 1 scoring).

    Grams build per document inside one projection (same array transform
    as :func:`repetition_exprs`), explode once, then ONE partial-agg
    shuffle on the gram key; the final top-k is a per-partition heap merge
    (``TakeOrderedAndProject``) — no global sort, no second shuffle. Ties
    break by gram text ascending, so the result is fully deterministic.
    """
    return (ngram_explode(spread(df), _match_tokens(text_col), n,
                          keep=[], out="gram")
            .where(F.col("gram") != "")
            .groupBy("gram").agg(F.count("*").alias("n_gram"))
            .orderBy(F.desc("n_gram"), F.asc("gram"))
            .limit(k))


def ccnet_buckets(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", alpha: float = 1.0) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020, the CommonCrawl
    head/middle/tail split): score every document with the corpus-relative
    unigram fluency, cut the corpus at the 1/3 and 2/3 score quantiles,
    and label each document head (most fluent), middle, or tail.

    Scores are rounded to 6 decimals BEFORE the quantile so both the cut
    points and every comparison are computed from cross-engine-identical
    doubles (mean-of-logs is summation-order sensitive in the last ulp).
    Boundary docs (score == cut) go to the better bucket.

    Scale: on top of ``unigram_logprob``'s two passes this adds one
    percentile aggregation over doc-level rows (corpus/1000s smaller than
    tokens) and a map-side label assignment — the cut points travel to the
    driver as two floats, never a global sort. At extreme scale swap the
    exact percentile for ``approx_percentile`` (sketch state, same shape).
    """
    scored = (unigram_logprob(df, text_col, id_col, alpha)
              .select(F.col(id_col), "n_tokens",
                      F.round("mean_logprob", 6).alias("score")))
    scored = scored.localCheckpoint()  # doc-level rows; reused by 2 passes
    c1, c2 = scored.agg(
        F.percentile("score", F.lit(1.0 / 3)),
        F.percentile("score", F.lit(2.0 / 3))).first()
    if c1 is None or c2 is None:
        # empty corpus, or every document scored NULL (no tokens): there
        # is no distribution to cut — bucket is NULL rather than a crash
        bucket = F.lit(None).cast("string")
    else:
        bucket = (F.when(F.col("score") >= F.lit(float(c2)), "head")
                  .when(F.col("score") >= F.lit(float(c1)), "middle")
                  .otherwise("tail"))
    return scored.select(id_col, "n_tokens", "score",
                         bucket.alias("bucket"))


def bigram_logprob(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", alpha: float = 1.0) -> DataFrame:
    """Per-document mean bigram log2-probability under the corpus's own
    bigram distribution — the n-gram step up from
    :func:`unigram_logprob`, proving out the same two-pass shape:

    ``p(w2 | w1) = (c(w1 w2) + alpha) / (ctx(w1) + alpha * V)`` with
    ``ctx(w1)`` = bigrams starting with ``w1`` and ``V`` = corpus
    vocabulary size; score = mean log2 p over the document's bigrams.
    Documents with fewer than two tokens have no bigrams and are absent
    from the output (mirrored by the oracle).

    Shuffle inventory (all uniform keys): ONE training pass whose explode
    carries both the bigrams and the tokens (tagged), so the bigram
    counts AND the vocabulary size come out of a single corpus-sized
    shuffle; context counts + the per-bigram probability table (both
    vocabulary-bounded); and ONE corpus-sized scoring join — the
    probability is attached to the count table first, so the scoring
    explode shuffles once, not once per statistic. Training constants
    travel as one scalar action off the checkpointed count table.
    """
    arr = _match_tokens(text_col)
    arr = F.filter(arr, lambda t: t != F.lit(""))
    bg = ngram_explode(spread(df), arr, 2, keep=[id_col], out="bg")
    # training pass: bigram rows (k=1) unioned with token rows (k=0) so
    # ONE groupBy still yields both count tables; two codegen explodes
    # over the scan replace the old tagged interpreted-transform explode
    # (the scan is the cheap part — the per-element lambdas were not;
    # see _util.ngram_explode).  Docs with <2 tokens emit no bigrams but
    # still ship their tokens for the vocabulary, as before.
    tagged = (ngram_explode(spread(df), arr, 2, keep=[], out="g")
              .select(F.lit(1).alias("k"), "g")
              .unionByName(spread(df)
                           .select(F.explode(arr).alias("g"))
                           .select(F.lit(0).alias("k"), "g")))
    kcounts = (tagged.groupBy("k", "g")
               .agg(F.count("*").alias("__cb"))
               .localCheckpoint())  # vocab + vocab^2 bounded, reused 3x
    vocab = kcounts.where(F.col("k") == 0).count()
    counts = kcounts.where(F.col("k") == 1) \
        .select(F.col("g").alias("bg"), "__cb")
    ctx = (counts
           .groupBy(F.split_part(F.col("bg"), F.lit(" "), F.lit(1))
                    .alias("__w1"))
           .agg(F.sum("__cb").alias("__cc")))
    lp = F.log2((F.col("__cb") + F.lit(float(alpha)))
                / (F.col("__cc") + F.lit(float(alpha * vocab))))
    # vocabulary-bounded join: probability lands on the count table, so
    # the corpus-sized bigram explode shuffles exactly once (the join
    # below), not once for counts and again for contexts
    lp_tab = (counts
              .withColumn("__w1",
                          F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
              .join(ctx, "__w1")
              .select("bg", lp.alias("__lp")))
    return (bg.join(lp_tab, "bg")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.avg("__lp").alias("mean_logprob")))


def _kn3_trigrams(frame: DataFrame, text_col: str,
                  id_col: str) -> DataFrame:
    """(id, tg) trigram explode over normalized tokens — the single
    tokenization both KN operators (and their oracles) mirror; docs
    with <3 tokens are absent."""
    arr = F.filter(_match_tokens(text_col), lambda t: t != F.lit(""))
    # zip-explode (see _util.ngram_explode): docs with <3 tokens emit no
    # grams, exactly like the old sequence(1, n-2) bound under where(n>=3)
    return ngram_explode(spread(frame), arr, 3, keep=[id_col], out="tg")


def _kn3_stats(tg: DataFrame, min_count: int = 1):
    """Every KN statistic from ONE distinct-trigram count table (unique
    on (w1,w2,w3), so COUNT(*) of any grouping is a distinct-type
    count): returns ``(c3, ctx12, mid, mid2, end3, ntypes, n_end)``.
    ``c3`` and ``mid`` are checkpointed (each feeds 2+ downstream
    aggs); the two scalars come out of one action."""
    c3 = (tg.groupBy("tg").agg(F.count("*").alias("__c3"))
          .where(F.col("__c3") >= F.lit(int(min_count)))
          .select(F.split_part("tg", F.lit(" "), F.lit(1)).alias("w1"),
                  F.split_part("tg", F.lit(" "), F.lit(2)).alias("w2"),
                  F.split_part("tg", F.lit(" "), F.lit(3)).alias("w3"),
                  "tg", "__c3")
          .localCheckpoint())
    ctx12 = c3.groupBy("w1", "w2").agg(
        F.sum("__c3").alias("__c12"),       # trigram-marginal c(w1 w2)
        F.count("*").alias("__n1p12"))      # N1+(w1 w2 ·)
    mid = (c3.groupBy("w2", "w3")
           .agg(F.count("*").alias("__nc23"))   # N1+(· w2 w3)
           .localCheckpoint())
    mid2 = mid.groupBy("w2").agg(
        F.sum("__nc23").alias("__nmid2"),   # N1+(· w2 ·)
        F.count("*").alias("__n1pfw2"))     # N1+(w2 ·)
    end3 = mid.groupBy("w3").agg(
        F.count("*").alias("__nend3"))      # N1+(· w3)
    scal = mid.agg(F.count("*").alias("nt"),
                   F.countDistinct("w3").alias("ne")).collect()[0]
    return (c3, ctx12, mid, mid2, end3, int(scal["nt"]),
            int(scal["ne"] or 0))


def kn3_logprob(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                discount: float = 0.75,
                min_count: int = 1) -> DataFrame:
    """Per-document mean trigram log2-probability under an interpolated
    Kneser-Ney LM trained on the corpus itself — the actual
    CCNet/KenLM-style fluency filter, completing the
    unigram/bigram/KN-trigram ladder.  Chen & Goodman 1998 interpolated
    KN with a single fixed ``discount`` D (default 0.75 — DYADIC, so
    every discounted numerator is exact in doubles on any engine):

    - ``p(w3|w1w2) = (c3 - D)/c12 + D·N1+(w1w2·)/c12 · p(w3|w2)``
    - ``p(w3|w2) = (N1+(·w2w3) - D)/N1+(·w2·)
      + D·N1+(w2·)/N1+(·w2·) · p_cont(w3)``
    - ``p_cont(w3) = N1+(·w3) / |bigram types|``

    with every denominator a marginal of the distinct-trigram count
    table, so the model is properly normalized (Σ_w3 p = 1 — the unit
    test asserts it) and self-training guarantees every scored trigram
    has nonzero counts (no backoff-only branches).  Per-trigram scores
    pin to integer micro-nats (one ``round(log2(p)·1e6)``), per-doc
    sums are order-free BIGINT adds, and the mean uses the
    round-half-away integer division of float-parity recipe #5 — the
    whole score replays hash-exact in SQL.

    Shuffle inventory: ONE corpus-sized trigram explode + count (the
    training pass, map-side combinable); every marginal
    (``c12``/``N1+``/continuation) is an agg of the VOCABULARY-bounded
    trigram-type table; ONE corpus-sized scoring join against the
    assembled probability table, co-partitioned on the trigram key.
    Docs with fewer than three tokens are absent (mirrored by the
    oracle).  Output: ``id_col, n_trigrams, mean_logprob``.

    ``min_count`` is the same SCALE lever :func:`kn3_score` has
    (trigram types below it drop before the marginals — what bounds
    the stat tables on adversarial low-reuse corpora, see the 100M
    stress tier in SCALE.md).  The self-scored form has no backoff
    ladder to route pruned mass through, so pruned trigram OCCURRENCES
    are simply excluded from the per-doc mean (``n_trigrams`` counts
    scored trigrams) and a doc whose every trigram was pruned is
    absent — the honest semantics of pruning a backoff-free model.
    Default 1 = no pruning.
    """
    if not 0 < discount < 1:
        raise ValueError(f"discount must be in (0,1), got {discount}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    dd = float(discount)
    tg = _kn3_trigrams(df, text_col, id_col)
    c3, ctx12, mid, mid2, end3, ntypes, _ = _kn3_stats(tg, min_count)
    # assemble p on the vocabulary-bounded table, ONE corpus join below.
    # Expression shape (parenthesization, operand order) is mirrored
    # verbatim by the oracle — same doubles, same log2 input.
    p2 = ((F.col("__nc23") - F.lit(dd)) / F.col("__nmid2")
          + (F.lit(dd) * F.col("__n1pfw2") / F.col("__nmid2"))
          * (F.col("__nend3") / F.lit(float(ntypes))))
    p3 = ((F.col("__c3") - F.lit(dd)) / F.col("__c12")
          + (F.lit(dd) * F.col("__n1p12") / F.col("__c12")) * p2)
    lp_tab = (c3.join(ctx12, ["w1", "w2"])
              .join(mid, ["w2", "w3"])
              .join(mid2, "w2")
              .join(end3, "w3")
              .select("tg", F.round(F.log2(p3) * 1e6)
                      .cast("long").alias("__mic")))
    # round-half-away mean of non-positive micro-nats (recipe #5): the
    # per-doc sum is an order-free integer add; DIV on the positive
    # operands (-2S >= 0) matches DuckDB's //
    return (tg.join(lp_tab, "tg")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_trigrams"),
                 (-F.expr("(-2 * sum(__mic) + count(*)) "
                          "DIV (2 * count(*))") / 1e6)
                 .alias("mean_logprob")))


def kn3_score(df: DataFrame, train_df: DataFrame,
              text_col: str = "text", id_col: str = "doc_id",
              discount: float = 0.75,
              min_count: int = 1) -> DataFrame:
    """HELD-OUT interpolated Kneser-Ney trigram scoring — the
    production form of :func:`kn3_logprob`: fit the KN statistics on
    ``train_df`` (yesterday's corpus), score ``df``'s documents with
    the FULL backoff ladder, so unseen trigrams/bigrams/words get
    principled probability mass instead of the self-trained guarantee:

    - unseen trigram context → back off to ``p(w3|w2)``;
    - ``w2`` never seen as a middle word → back off to the
      continuation unigram;
    - the continuation unigram itself is DISCOUNTED and interpolated
      with the uniform ``1/(V+1)`` distribution (``V`` = train
      vocabulary), so even an OOV ``w3`` scores a positive probability
      (this is where it deviates from :func:`kn3_logprob`'s undiscounted
      lowest level — mass must be reserved for OOV).

    Every branch of the ladder is exact integer statistics + the same
    micro-nat pinning, so the oracle replays the CASE ladder hash-exact.
    Scoring is ONE corpus-sized trigram explode left-joined against the
    five vocabulary-bounded stat tables (broadcast at sane vocab
    sizes).  Output: ``id_col, n_trigrams, n_unseen, mean_logprob``
    (``n_unseen`` = scored trigrams absent from training).

    ``min_count`` is the SCALE lever: trigram types with training count
    below it are dropped BEFORE the marginals (their mass routes
    through the backoff ladder like any unseen event — standard KN
    count pruning).  This is what bounds the stat tables on adversarial
    low-reuse corpora: the 100M-char random-text stress measured ~12M
    trigram TYPES (nearly all singletons) driving an 823s wall;
    ``min_count=2`` collapses exactly that singleton mass.  Natural
    Zipfian corpora barely move.  Default 1 = no pruning.
    """
    if not 0 < discount < 1:
        raise ValueError(f"discount must be in (0,1), got {discount}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    dd = float(discount)

    tg_train = _kn3_trigrams(train_df, text_col, id_col)
    # the KN stat build and the vocabulary count are independent passes
    # over the training corpus — run them concurrently (guide §2.6)
    stats, vocab = overlap(
        lambda: _kn3_stats(tg_train, min_count),
        lambda: (spread(train_df)
                 .select(F.explode(F.filter(_match_tokens(text_col),
                                            lambda t: t != F.lit("")))
                         .alias("t"))
                 .agg(F.countDistinct("t")).collect()[0][0]))
    c3, ctx12, mid, mid2, end3, ntypes, n_end = stats
    if ntypes == 0:
        raise ValueError("train_df yields no trigrams (need docs with "
                         ">= 3 tokens)")
    # continuation unigram with OOV mass: discounted seen types +
    # uniform interpolation over V+1 — identical shape in the oracle
    pc = (F.greatest(F.coalesce(F.col("__nend3"), F.lit(0))
                     - F.lit(dd), F.lit(0.0)) / F.lit(float(ntypes))
          + (F.lit(dd) * F.lit(float(n_end)) / F.lit(float(ntypes)))
          * (F.lit(1.0) / F.lit(float(vocab) + 1.0)))
    p2 = F.when(
        F.col("__nmid2").isNotNull(),
        F.greatest(F.coalesce(F.col("__nc23"), F.lit(0)) - F.lit(dd),
                   F.lit(0.0)) / F.col("__nmid2")
        + (F.lit(dd) * F.col("__n1pfw2") / F.col("__nmid2")) * pc
    ).otherwise(pc)
    p3 = F.when(
        F.col("__c12").isNotNull(),
        F.greatest(F.coalesce(F.col("__c3"), F.lit(0)) - F.lit(dd),
                   F.lit(0.0)) / F.col("__c12")
        + (F.lit(dd) * F.col("__n1p12") / F.col("__c12")) * p2
    ).otherwise(p2)
    score_tg = _kn3_trigrams(df, text_col, id_col).select(
        F.col(id_col), "tg",
        F.split_part("tg", F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part("tg", F.lit(" "), F.lit(2)).alias("w2"),
        F.split_part("tg", F.lit(" "), F.lit(3)).alias("w3"))
    scored = (score_tg
              .join(c3.select("tg", "__c3"), "tg", "left")
              .join(ctx12, ["w1", "w2"], "left")
              .join(mid, ["w2", "w3"], "left")
              .join(mid2, "w2", "left")
              .join(end3, "w3", "left")
              .select(F.col(id_col),
                      F.round(F.log2(p3) * 1e6).cast("long")
                      .alias("__mic"),
                      F.col("__c3").isNull().cast("int")
                      .alias("__unseen")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_trigrams"),
                 F.sum("__unseen").alias("n_unseen"),
                 (-F.expr("(-2 * sum(__mic) + count(*)) "
                          "DIV (2 * count(*))") / 1e6)
                 .alias("mean_logprob")))


def lexical_stats(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document lexical diversity: token count, vocabulary size,
    type-token ratio, and hapax share (types occurring once) — the
    classic richness signals (low TTR = template/boilerplate, high
    hapax = OCR noise or genuinely diverse prose).

    One token explode -> ONE shuffle on (doc, token) with map-side
    partial counts -> one doc-level aggregation that reuses the
    partitioning (doc is a prefix of the key). Never materializes a
    per-doc vocabulary in memory.
    """
    toks = _match_tokens(text_col)
    counts = (spread(df)
              .select(F.col(id_col), F.explode(toks).alias("tok"))
              .where(F.col("tok") != "")
              .groupBy(id_col, "tok")
              .agg(F.count("*").alias("__c")))
    return (counts.groupBy(id_col)
            .agg(F.sum("__c").alias("n_tokens"),
                 F.count("*").alias("n_types"),
                 F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
                 .alias("n_hapax"))
            .select(id_col, "n_tokens", "n_types",
                    (F.col("n_types") / F.col("n_tokens")).alias("ttr"),
                    F.try_divide(F.col("n_hapax"), F.col("n_types"))
                    .alias("hapax_share")))


def zipf_slope(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus Zipf fit: OLS slope of ln(freq) against ln(rank) over the
    global token frequency table (healthy natural-language corpora sit
    near -1; far-off slopes flag template spam or tokenizer damage).

    One corpus token explode -> vocabulary-bounded counts; ranks are
    assigned DISTRIBUTED (a web-scale corpus has a 10^8..10^9-token
    vocabulary — a global unpartitioned rank window would funnel it
    through one task): range-repartition the frequency table on the
    rank order (__f desc, tok — ties broken by token for determinism),
    materialize once so the sampled range boundaries are pinned for
    both passes, pull the O(partitions) per-partition counts to the
    driver, and add each partition's offset to its local row_number —
    the :meth:`~pypond_spark.series.TimeSeries.slice` zipWithIndex
    recipe.  The same bounded pull supplies n_tokens (sum of __f), so
    the fit needs no extra action.  Output: one row (slope, intercept,
    vocab, n_tokens).
    """
    from pyspark.sql import Window

    toks = _match_tokens(text_col)
    freq = (spread(df)
            .select(F.explode(toks).alias("tok"))
            .where(F.col("tok") != "")
            .groupBy("tok").agg(F.count("*").alias("__f")))
    n_parts = shuffle_width(df.sparkSession)
    part = (freq
            .repartitionByRange(n_parts, F.desc("__f"), F.asc("tok"))
            .localCheckpoint()
            .withColumn("__pid", F.spark_partition_id()))
    counts = sorted(
        (r["__pid"], r["__c"], r["__t"])
        for r in part.groupBy("__pid")
        .agg(F.count("*").alias("__c"), F.sum("__f").alias("__t"))
        .collect())
    total = sum(t for _, _, t in counts)
    offsets, acc = {}, 0
    for p, c, _ in counts:
        offsets[p] = acc
        acc += c
    off = (F.element_at(
        F.create_map(*[F.lit(v) for p, c, _ in counts
                       for v in (p, offsets[p])]),
        F.col("__pid")) if counts else F.lit(0))
    w = Window.partitionBy("__pid").orderBy(F.desc("__f"), F.col("tok"))
    pts = part.select(
        F.log((F.row_number().over(w) + off).cast("double")).alias("__lr"),
        F.log(F.col("__f").cast("double")).alias("__lf"))
    agg = pts.agg(F.count("*").alias("vocab"),
                  F.sum("__lr").alias("__sx"),
                  F.sum("__lf").alias("__sy"),
                  F.sum(F.col("__lr") * F.col("__lr")).alias("__sxx"),
                  F.sum(F.col("__lr") * F.col("__lf")).alias("__sxy"))
    n = F.col("vocab").cast("double")
    denom = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    slope = F.try_divide(n * F.col("__sxy")
                         - F.col("__sx") * F.col("__sy"), denom)
    intercept = (F.col("__sy") - slope * F.col("__sx")) / n
    return agg.select(slope.alias("slope"), intercept.alias("intercept"),
                      "vocab", F.lit(int(total)).alias("n_tokens"))


def nb_quality_classifier(train: DataFrame, corpus: DataFrame,
                          positive: Column | str, n_buckets: int = 4096,
                          smoothing: float = 1.0, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Multinomial Naive-Bayes quality classifier over hashed n-grams —
    the closed-form, one-pass-trainable counterpart of the fastText /
    logistic quality classifiers used by GPT-3 (Brown et al. 2020
    appendix A) and CCNet to rank web documents against a high-quality
    reference corpus.

    Training is a single shuffle: explode ``train`` into hashed
    unigram+bigram buckets (:func:`hashed_grams` / :func:`gram_bucket`),
    count per (bucket, class), Laplace-``smoothing`` the per-class
    likelihoods.  Scoring is one pass over ``corpus``: the
    ``n_buckets``-row log-likelihood-ratio table is broadcast, so

        ``log_odds = ln P(pos)/P(neg) + sum_g llr(bucket(g))``

    with buckets unseen in training falling back to the smoothing-only
    constant.  ``log_odds > 0`` means "looks like the positive class".

    Cross-engine determinism: per-bucket ratios, the prior, and the
    unseen-bucket fallback are MICRO-NAT INTEGERS (``round(x * 1e6)``),
    so the per-document accumulation is an exact integer sum — immune
    to float summation order — and the final ``log_odds`` is one shared
    division (the :func:`~pypond_spark.datapipe.sampling.dsir_weights`
    recipe).

    Shape at 100 TB: one training explode (shuffle on the uniform
    bucket key, count table bounded by ``n_buckets``), one broadcast of
    the ratio table, ONE scoring pass with a map-side join + per-doc
    groupBy.

    Output: ``id_col, n_grams, log_odds`` (corpus docs with >=1 gram).
    """
    import math

    pos = positive if isinstance(positive, Column) else F.expr(positive)
    t = spread(train).withColumn("__pos", pos.cast("boolean"))
    # class sizes and the bucket-count table are independent training
    # passes — run them concurrently (guide §2.6)
    row, counts = overlap(
        lambda: t.agg(
            F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("dp"),
            F.sum(F.when(F.col("__pos"), 0).otherwise(1)).alias("dn"))
        .first(),
        lambda: (hashed_gram_rows(t, text_col, keep=["__pos"])
                 .select("__pos", gram_bucket(F.col("__g"), n_buckets)
                         .alias("__b"))
                 .groupBy("__b")
                 .agg(F.sum(F.when(F.col("__pos"), 1).otherwise(0))
                      .alias("cp"),
                      F.sum(F.when(F.col("__pos"), 0).otherwise(1))
                      .alias("cn"))
                 .localCheckpoint()))
    dp, dn = row["dp"] or 0, row["dn"] or 0
    if not dp or not dn:
        raise ValueError(
            f"nb_quality_classifier: both classes must be non-empty in "
            f"train (positive={dp}, negative={dn})")
    tot = counts.agg(F.sum("cp"), F.sum("cn")).first()
    n_p, n_n = tot[0] or 0, tot[1] or 0
    s = float(smoothing)
    denom_p = float(n_p) + s * n_buckets
    denom_n = float(n_n) + s * n_buckets
    llr = (F.log((F.col("cp") + F.lit(s)) / F.lit(denom_p))
           - F.log((F.col("cn") + F.lit(s)) / F.lit(denom_n)))
    ratio = counts.select("__b", F.round(llr * F.lit(1e6)).cast("long")
                          .alias("__llr_micro"))
    prior_micro = int(round(math.log((dp + s) / (dn + s)) * 1e6))
    unseen_micro = int(round((math.log(s / denom_p)
                              - math.log(s / denom_n)) * 1e6))
    scored = (hashed_gram_rows(spread(corpus), text_col, keep=[id_col])
              .select(F.col(id_col), gram_bucket(F.col("__g"), n_buckets)
                      .alias("__b"))
              .join(F.broadcast(ratio), "__b", "left"))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_grams"),
                 ((F.lit(prior_micro)
                   + F.sum(F.coalesce(F.col("__llr_micro"),
                                      F.lit(unseen_micro))))
                  / F.lit(1e6)).alias("log_odds")))


def oov_stats(df: DataFrame, min_count: int = 5, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-document out-of-vocabulary rate against a frequency-built
    vocabulary: the tokenizer/embedding-coverage audit run before
    committing a vocab (docs with high OOV rate will train as <unk>
    soup).  The vocabulary is every normalized token with corpus
    frequency >= ``min_count``.

    Scale: one token-count shuffle builds the vocabulary (bounded by
    distinct tokens), which broadcasts into the scoring explode; the
    per-doc aggregate is the only other exchange — the same
    train-broadcast-score shape as :func:`nb_quality_classifier`.

    Output: ``id_col, n_tokens, n_oov, oov_rate`` (docs with >=1 token;
    rate rounded to 6 for cross-engine hashing).
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    toks = F.filter(_match_tokens(text_col), lambda t: t != F.lit(""))
    exploded = (spread(df).select(F.col(id_col),
                                  F.explode(toks).alias("__t")))
    vocab = (exploded.groupBy("__t").agg(F.count("*").alias("__n"))
             .where(F.col("__n") >= int(min_count))
             .select("__t", F.lit(True).alias("__in_vocab")))
    scored = exploded.join(F.broadcast(vocab), "__t", "left")
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("__in_vocab").isNull(), 1)
                       .otherwise(0)).alias("n_oov"))
            .withColumn("oov_rate",
                        F.round(F.col("n_oov") / F.col("n_tokens"), 6)
                        + F.lit(0.0)))


def heavy_hitters(df: DataFrame, phi_inv: int = 64, capacity: int = 127,
                  text_col: str = "text") -> DataFrame:
    """Exact heavy hitters (tokens with count*phi_inv >= N) via the
    two-pass candidate/recount scheme: per-partition Misra-Gries
    summaries (Misra & Gries 1982; batch-merged with the "subtract the
    (c+1)-th largest" rule of Agarwal et al. 2013's mergeable
    summaries) generate a candidate set of at most ``capacity`` tokens
    per partition, then ONE exact recount of only those candidates.

    The answer is EXACT, not approximate: Misra-Gries is one-sided
    (every token with partition share > 1/(capacity+1) survives, and a
    globally phi-heavy token is phi-heavy in at least one partition by
    pigeonhole, so ``capacity >= phi_inv`` guarantees zero false
    negatives), and the recount discards the false positives.  At
    100 TB this is the point: the full-vocabulary groupBy never
    happens — the only shuffle is over the candidate-bounded recount,
    with candidates broadcast.  Python cost is Arrow-batched
    ``mapInPandas`` with a dict of at most ``capacity`` counters.
    """
    import pandas as pd

    if capacity < phi_inv or phi_inv < 2:
        raise ValueError(f"need capacity >= phi_inv >= 2, got "
                         f"capacity={capacity} phi_inv={phi_inv}")
    toks = (spread(df)
            .select(F.explode(F.filter(_match_tokens(text_col),
                                       lambda t: t != F.lit("")))
                    .alias("token")))
    cap = int(capacity)

    def mg_partition(batches):
        counters: dict = {}
        for pdf in batches:
            for tok, c in pdf["token"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(c)
            if len(counters) > cap:
                # subtract the (cap+1)-th largest count; keep positives
                cut = sorted(counters.values(), reverse=True)[cap]
                counters = {t: v - cut for t, v in counters.items()
                            if v > cut}
        yield pd.DataFrame({"token": list(counters.keys())})

    cands = toks.mapInPandas(mg_partition, "token string").distinct()
    counted = (toks.join(F.broadcast(cands), "token")
               .groupBy("token").agg(F.count("*").alias("cnt")))
    total = toks.agg(F.count("*").alias("__n"))
    return (counted.crossJoin(F.broadcast(total))
            .where(F.col("cnt") * phi_inv >= F.col("__n"))
            .select("token", "cnt",
                    F.round(F.col("cnt") / F.col("__n"), 6)
                    .alias("share")))


def winnow_fingerprints(df: DataFrame, k: int = 3, window: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS plagiarism-detection algorithm): from every
    window of ``window`` consecutive word ``k``-gram hashes, keep the
    minimum (rightmost on ties), then dedupe selections — guaranteeing
    any shared run of ``k + window - 1`` tokens between two documents
    shares a selected fingerprint, with ~2/(window+1) selection density.

    The rightmost-minimum rule is encoded as ONE integer composite
    ``hash * 2^30 + (2^30-1 - pos)`` so a plain window ``min`` picks
    "min hash, then max position" — deterministic and replayable in any
    engine with integer windows (no struct-ordering support needed).
    The 30-bit position field bounds documents at 2^30-1 grams (~1G
    tokens — far above the 2^20 per-doc token caps elsewhere); beyond
    that the composite would corrupt silently, so a runtime
    ``assert_true`` fails loudly instead.  (32 bits would overflow: the
    hash itself is 32-bit, and 2^(32+32) exceeds BIGINT.)  Decode is
    shift/mask, not division — double division loses exactness above
    2^53 and the composite reaches 2^62.
    Plan: scan-level gram explode + one per-document window exchange +
    distinct — linear in corpus tokens, the fingerprint index then
    joins documents at Σ|shared-fp|² cost like any LSH bucket table.
    """
    if k < 1 or window < 1:
        raise ValueError(f"need k >= 1 and window >= 1, "
                         f"got k={k} window={window}")
    toks = word_tokens(text_col)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(-1))),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    g = (spread(df)
         .select(F.col(id_col), F.posexplode(grams).alias("pos", "gram")))
    h = F.conv(F.md5("gram").substr(1, 8), 16, 10).cast("long")
    lim = 1 << 30
    guard = F.assert_true(
        F.col("pos") < F.lit(lim),
        F.lit("winnow_fingerprints: document exceeds 2^30-1 grams; "
              "the packed position field would overflow"))
    comp = F.when(guard.isNull(),
                  h * F.lit(lim) + (F.lit(lim - 1) - F.col("pos")))
    w_starts = Window.partitionBy(id_col).orderBy("pos") \
        .rowsBetween(Window.currentRow, window - 1)
    n_grams = Window.partitionBy(id_col)
    sel = (g.select(F.col(id_col), "pos",
                    F.min(comp).over(w_starts).alias("__sel"),
                    F.count("*").over(n_grams).alias("__n"))
           .where(F.col("pos") <= F.greatest(F.col("__n") - window,
                                             F.lit(0))))
    return (sel.select(
        F.col(id_col),
        (F.lit(lim - 1) - F.col("__sel").bitwiseAND(F.lit(lim - 1)))
        .cast("int").alias("pos"),
        F.shiftright(F.col("__sel"), 30).alias("fp"))
        .distinct())


def winnow_overlap(df: DataFrame, k: int = 3, window: int = 4,
                   min_shared: int = 3, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """The MOSS comparison step over :func:`winnow_fingerprints`:
    document pairs ranked by shared selected fingerprints, with
    ``containment = shared / min(|fps_a|, |fps_b|)``.  By the winnowing
    guarantee a shared run of ``k + window - 1`` tokens forces a shared
    fingerprint, so plagiarism/near-dup candidates cannot hide; pair
    cost is Σ|fingerprint-bucket|² — the fingerprint table IS the LSH
    index, never corpus².
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    fps = (winnow_fingerprints(df, k, window, text_col, id_col)
           .select(F.col(id_col), "fp").distinct()
           .localCheckpoint())
    nf = fps.groupBy(id_col).agg(F.count("*").alias("__n"))
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    pairs = (a.join(b, ["fp"])
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("shared"))
             .where(F.col("shared") >= min_shared))
    na = nf.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = nf.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    # no broadcast hint: nf is corpus-sized (one row per doc); the
    # verified-pair side is the small one, and AQE picks the build side
    return (pairs.join(na, "id_a")
            .join(nb, "id_b")
            .select("id_a", "id_b", "shared",
                    F.round(F.col("shared")
                            / F.least("__na", "__nb"), 6)
                    .alias("containment")))


def rouge_pairs(df: DataFrame, pairs: DataFrame | None = None,
                text_col: str = "text", id_col: str = "doc_id",
                n: int = 2, **lsh_kwargs) -> DataFrame:
    """ROUGE-N overlap scoring between candidate document pairs (Lin
    2004, *ROUGE: A Package for Automatic Evaluation of Summaries*):
    clipped n-gram overlap ``sum(min(count_a, count_b))`` over the two
    documents' n-gram multisets, reported as recall against ``id_a``
    (the reference), precision against ``id_b`` (the candidate), and
    their F1 — the standard summarization/contamination metric, here
    turned into a corpus-scale pair scorer.

    Tokens are the engine's normalized match tokens (lowercased,
    edge-punctuation stripped, empties dropped); documents with fewer
    than ``n`` tokens have an empty gram multiset and score 0.

    Like :func:`~pypond_spark.datapipe.dedup.editdist_pairs`, the
    quadratic surface is avoided by scoring ONLY candidate pairs
    (default :func:`~pypond_spark.datapipe.dedup.lsh_candidate_pairs`)
    — cost is sum over pairs of |grams(id_a)|, never corpus². The gram
    tables themselves are one scan + one (id, gram) groupBy; the pair
    join carries the gram in its key so it stays a hash join. All
    arithmetic is exact integer counts until the final divisions, so
    the SQL twin hash-matches.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if pairs is None:
        from . import dedup as _dedup
        pairs = _dedup.lsh_candidate_pairs(df, text_col, id_col,
                                           **lsh_kwargs)
    toks = F.filter(_match_tokens(text_col), lambda t: t != F.lit(""))
    gc = (ngram_explode(spread(df), toks, n, keep=[id_col], out="__g")
          .groupBy(id_col, "__g").agg(F.count("*").alias("__c")))
    tot = gc.groupBy(id_col).agg(F.sum("__c").alias("__t"))
    ga = gc.select(F.col(id_col).alias("id_a"), "__g",
                   F.col("__c").alias("__ca"))
    gb = gc.select(F.col(id_col).alias("id_b"), "__g",
                   F.col("__c").alias("__cb"))
    key = pairs.select("id_a", "id_b")
    ov = (key.join(ga, "id_a").join(gb, ["id_b", "__g"])
          .groupBy("id_a", "id_b")
          .agg(F.sum(F.least("__ca", "__cb")).alias("__ov")))
    out = (key.join(ov, ["id_a", "id_b"], "left")
           .join(tot.select(F.col(id_col).alias("id_a"),
                            F.col("__t").alias("__ta")), "id_a", "left")
           .join(tot.select(F.col(id_col).alias("id_b"),
                            F.col("__t").alias("__tb")), "id_b", "left"))
    ov0 = F.coalesce("__ov", F.lit(0))
    rec = F.try_divide(ov0.cast("double"), F.col("__ta"))
    prec = F.try_divide(ov0.cast("double"), F.col("__tb"))
    f1 = F.try_divide(F.lit(2.0) * rec * prec, rec + prec)
    return out.select(
        "id_a", "id_b", ov0.alias("overlap"),
        F.coalesce(F.round(rec, 6), F.lit(0.0)).alias(f"rouge{n}_recall"),
        F.coalesce(F.round(prec, 6),
                   F.lit(0.0)).alias(f"rouge{n}_precision"),
        F.coalesce(F.round(f1, 6), F.lit(0.0)).alias(f"rouge{n}_f1"))


def ngram_novelty(df: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document novelty against the id-ordered corpus prefix: the
    share of a document's distinct word ``n``-grams whose FIRST corpus
    occurrence (minimum ``id_col``) is this document — the
    "contribution" curation signal (a doc whose grams all appeared in
    earlier documents adds nothing; boilerplate and quotes score near
    0, fresh text near 1).  The same first-occurrence frame that
    drives streaming ingestion dedup, used as a *score* instead of a
    gate.

    Two bounded shuffles: distinct (id, gram) pairs, then the
    gram-keyed min-id aggregate (map-side combinable) joined back on
    the gram key — cost linear in corpus grams, never corpus².
    Output: ``(id_col, n_grams, n_novel, novelty)`` with ``novelty``
    rounded to 6 (one integer division).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from pypond_spark.datapipe.dedup import word_shingles
    pairs = word_shingles(df, text_col, n, id_col) \
        .select(id_col, "shingle").distinct().localCheckpoint()
    first = pairs.groupBy("shingle").agg(F.min(id_col).alias("__first"))
    return (pairs.join(first, "shingle")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_grams"),
                 F.sum(F.when(F.col(id_col) == F.col("__first"), 1)
                       .otherwise(0)).alias("n_novel"))
            .withColumn("novelty",
                        F.round(F.col("n_novel") / F.col("n_grams"), 6)))


def script_stats(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document Unicode script composition — the script-mix signal
    language filters run before (or beside) marker-word language ID:
    wrong-script contamination (Cyrillic spam in an English crawl,
    mojibake runs) shows up as ratio anomalies even when marker words
    still match.

    Counts and ratios for five coarse classes over NON-whitespace
    characters: ``latin`` (A-Za-z), ``digit``, ``cyrillic``
    (U+0400-04FF), ``cjk`` (U+4E00-9FFF unified ideographs), and
    ``other`` (everything else — punctuation, symbols, all remaining
    scripts).  Explicit code-point ranges, not ``\\p{...}`` classes:
    Java and RE2 agree on literal ranges but diverge on property-name
    spellings, so ranges are what a cross-engine oracle can replay.
    Pure scan-level ``regexp_count`` expressions — no shuffle.
    """
    t = F.col(text_col)
    nonws = F.length(F.regexp_replace(t, r"\s+", ""))
    latin = F.regexp_count(t, F.lit("[A-Za-z]"))
    digit = F.regexp_count(t, F.lit("[0-9]"))
    cyr = F.regexp_count(t, F.lit("[Ѐ-ӿ]"))
    cjk = F.regexp_count(t, F.lit("[一-鿿]"))
    denom = F.greatest(nonws, F.lit(1))
    return spread(df).select(
        F.col(id_col),
        nonws.alias("n_chars"),
        latin.alias("n_latin"), digit.alias("n_digit"),
        cyr.alias("n_cyrillic"), cjk.alias("n_cjk"),
        (nonws - latin - digit - cyr - cjk).alias("n_other"),
        F.round(latin / denom, 6).alias("latin_ratio"),
        F.round(cyr / denom, 6).alias("cyrillic_ratio"),
        F.round(cjk / denom, 6).alias("cjk_ratio"))


def blocklist_stats(df: DataFrame, phrases, text_col: str = "text",
                    id_col: str = "doc_id",
                    min_hits: int = 1) -> DataFrame:
    """Caller-supplied phrase-blocklist filter — the C4 §2.2 word-filter
    rule generalized (Raffel et al. 2020 drop documents containing
    listed words; production stacks run the same machinery for spam
    markers, boilerplate CTAs, and policy lists the caller curates):
    case-insensitive whole-word occurrence counts per phrase, summed
    per document.

    ``phrases`` is the caller's list (plain words or multi-word
    phrases; regex metacharacters are escaped).  Word boundaries are
    ``\\b`` — ASCII-identical between Java and RE2, so a SQL oracle
    counts the same hits.  ``\\b`` requires a word character on the
    *inside* of the boundary, so it is emitted only when the phrase
    edge is a word char ``[A-Za-z0-9_]`` — phrases like ``c++`` or
    ``$100`` anchor the word-char edge only and still match
    (an unconditional ``\\b`` would make them silently never match).
    Scan-level ``regexp_count`` chain, one
    expression per phrase — no shuffle; at production list sizes
    (thousands), compile tiers of alternation groups instead of one
    per phrase (the expression stays scan-level either way).

    Output: ``(id_col, n_hits, n_phrases_hit, flagged)`` with
    ``flagged = n_hits >= min_hits``.
    """
    import re as _re
    plist = [p for p in phrases if p and p.strip()]
    if not plist:
        raise ValueError("phrases must contain at least one phrase")
    def _word_edge(ch: str) -> bool:
        # ASCII word class — the same [A-Za-z0-9_] Java's \b tests,
        # so the Python-side edge decision agrees with the engine's
        return ("a" <= ch <= "z" or "A" <= ch <= "Z"
                or "0" <= ch <= "9" or ch == "_")

    def _pattern(p: str) -> str:
        p = p.lower()
        head = r"\b" if _word_edge(p[0]) else ""
        tail = r"\b" if _word_edge(p[-1]) else ""
        return head + _re.escape(p) + tail

    low = F.lower(F.col(text_col))
    counts = [F.regexp_count(low, F.lit(_pattern(p))) for p in plist]
    total = counts[0]
    hit = F.when(counts[0] > 0, 1).otherwise(0)
    for c in counts[1:]:
        total = total + c
        hit = hit + F.when(c > 0, 1).otherwise(0)
    return spread(df).select(
        F.col(id_col),
        total.alias("n_hits"),
        hit.alias("n_phrases_hit"),
        (total >= F.lit(int(min_hits))).alias("flagged"))
