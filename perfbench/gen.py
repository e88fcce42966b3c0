"""Seeded input generator.

One seed yields a fixed set of shards.  Each shard is a directory in the
testdata layout (``events.parquet`` / ``documents.parquet`` with the
testdata schema), so the registry queries of ``__spark_entry__.py`` and
their DuckDB twins run on it unchanged.  Each shard also carries a stream
backlog: the same two tables cut into small files in arrival order, one
file per micro-batch.

Generation is single-process numpy + pyarrow; ``run.py`` caches it per
seed, outside every timed region.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bumped whenever the recipe changes, so a cached seed is rebuilt.
RECIPE_VERSION = 2

EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
#: Start of every shard's event time range (2024-01-01T00:00:00Z, in us).
T0_US = 1_704_067_200_000_000
#: Edge characters of the ~1 % messy documents, as crawled text has them:
#: C0 controls, the ASCII whitespace the tokenizers split on, and Unicode
#: whitespace.  U+000B is left out: DuckDB's RE2 ``\s`` lacks it while
#: Java's ``\s`` has it, so the DuckDB reference and the JVM law would
#: disagree on it for a reason that is not the library's.
EDGE_CHARS = ([chr(c) for c in range(0x01, 0x09)]
              + ["\t", "\n", "\f", "\r"]
              + [chr(c) for c in range(0x0e, 0x20)]
              + ["\u00a0", "\u2028", "\u3000", "\u0085"])


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    """Stopwords first (the top Zipf ranks, as in real text), then
    synthetic words of 2-4 syllables."""
    sylls = ["ka", "to", "ri", "ne", "mo", "sa", "lu", "pe", "di", "vo",
             "an", "er", "in", "os", "ul", "ex", "ba", "ce", "fi", "go"]
    head = ["the", "a", "and", "of", "to", "in", "is", "it", "be", "that",
            "have", "with"]
    words, seen = list(head), set(head)
    while len(words) < size:
        n = int(rng.integers(2, 5))
        w = "".join(sylls[i] for i in rng.integers(0, len(sylls), n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def make_events(rng: np.random.Generator, n: int, n_users: int,
                n_files: int) -> tuple[pa.Table, list[pa.Table]]:
    """Events in arrival order: time-ordered files, ~2 % of rows out of
    order inside their file, Zipf-skewed ``user_id``, ~3 % NULL value."""
    gaps = rng.exponential(60_000_000.0, n)  # mean 1 min between events
    ts = T0_US + np.cumsum(gaps).astype(np.int64)
    order = np.arange(n)
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        k = max(1, int(0.02 * (hi - lo)))
        idx = rng.choice(np.arange(lo, hi), size=2 * k, replace=False)
        a, b = idx[:k], idx[k:]
        order[a], order[b] = order[b], order[a].copy()
    ts = ts[order]
    users = rng.choice(np.arange(1, n_users + 1), size=n,
                       p=_zipf_probs(n_users, 1.1)).astype(np.int64)
    types = np.array(EVENT_TYPES, dtype=object)[
        rng.integers(0, len(EVENT_TYPES), n)]
    vals = np.round(rng.gamma(2.0, 25.0, n) + 0.01, 2)
    null = rng.random(n) < 0.03
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(list(types), type=pa.string()),
        "value": pa.array(vals, mask=null, type=pa.float64()),
        "props": pa.array(props, type=pa.string()),
    })
    files = [table.slice(lo, hi - lo)
             for lo, hi in zip(bounds[:-1], bounds[1:])]
    return table, files


def _edge_text(rng: np.random.Generator, text: str) -> str | None:
    kind = int(rng.integers(0, 5))
    if kind == 0:
        return None
    if kind == 1:
        return ""
    c1, c2 = (EDGE_CHARS[i] for i in rng.integers(0, len(EDGE_CHARS), 2))
    if kind == 2:
        return c1 + text
    if kind == 3:
        return text + c2
    return c1 + text + c2


def make_documents(rng: np.random.Generator, n: int, vocab_size: int,
                   n_files: int) -> tuple[pa.Table, list[pa.Table],
                                          list[int]]:
    """Documents with a Zipf vocabulary, ~10 % edited near-duplicates of
    earlier documents and ~1 % messy texts (edge controls, Unicode
    whitespace, empty, NULL).  Also returns the ids of the messy documents
    and of every near-duplicate related to one, in order.  Files hold
    ascending ``doc_id`` ranges."""
    vocab = np.array(_vocab(rng, vocab_size), dtype=object)
    probs = _zipf_probs(vocab_size, 1.05)
    texts: list[str | None] = []
    clean: list[str] = []
    family: list[int] = []  # the original a near-duplicate descends from
    messy: list[int] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.10:
            j = int(rng.integers(0, i))
            family.append(family[j])
            words = clean[j].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                j = int(rng.integers(0, len(words)))
                words[j] = str(vocab[int(rng.integers(0, vocab_size))])
        else:
            family.append(i)
            n_words = int(rng.integers(10, 100))
            words = list(vocab[rng.choice(vocab_size, n_words, p=probs)])
            for j in range(12, n_words, int(rng.integers(12, 30))):
                words[j] = words[j] + ("." if rng.random() < 0.7 else ",")
        text = " ".join(words)
        clean.append(text)
        if rng.random() < 0.01:
            messy.append(i)
            text = _edge_text(rng, text)
        texts.append(text)
    n_chars = [len(t) if t is not None else None for t in texts]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array([LANGS[i] for i in
                          rng.integers(0, len(LANGS), n)], type=pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           type=pa.string()),
        "n_chars": pa.array(n_chars, type=pa.int64()),
    })
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    files = [table.slice(lo, hi - lo)
             for lo, hi in zip(bounds[:-1], bounds[1:])]
    tainted = {family[i] for i in messy}
    return table, files, [i for i in range(n) if family[i] in tainted]


def write_shard(root: str, rng: np.random.Generator,
                sizes: dict) -> list[int]:
    """Write one shard; returns the ids of its messy documents and of
    their near-duplicates."""
    os.makedirs(os.path.join(root, "stream", "events"))
    os.makedirs(os.path.join(root, "stream", "docs"))
    events, ev_files = make_events(rng, sizes["events"], sizes["users"],
                                   sizes["stream_files"])
    docs, doc_files, messy = make_documents(rng, sizes["docs"],
                                            sizes["vocab"],
                                            sizes["stream_files"])
    pq.write_table(events, os.path.join(root, "events.parquet"))
    pq.write_table(docs, os.path.join(root, "documents.parquet"))
    for i, (ev, dc) in enumerate(zip(ev_files, doc_files)):
        pq.write_table(ev, os.path.join(root, "stream", "events",
                                        f"part-{i:04d}.parquet"))
        pq.write_table(dc, os.path.join(root, "stream", "docs",
                                        f"part-{i:04d}.parquet"))
    return messy


def generate(out_dir: str, seed: int,
             shards: dict[str, dict]) -> dict[str, list[int]]:
    """Write one shard per ``{name: sizes}`` entry for ``seed`` under
    ``out_dir`` (replaced if present); returns the ids of each shard's
    messy documents and of their near-duplicates."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    rng = np.random.default_rng([RECIPE_VERSION, seed])
    return {name: write_shard(os.path.join(out_dir, name), rng, sizes)
            for name, sizes in shards.items()}
