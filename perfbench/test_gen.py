"""Tests of the seeded input generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import glob
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SHARDS = {"a": {"events": 400, "users": 20, "docs": 300, "vocab": 200,
                "stream_files": 3},
          "b": {"events": 200, "users": 20, "docs": 100, "vocab": 200,
                "stream_files": 1}}


def _tables(root: str) -> dict[str, pa.Table]:
    return {os.path.relpath(p, root): pq.read_table(p)
            for p in sorted(glob.glob(f"{root}/**/*.parquet",
                                      recursive=True))}


def test_same_seed_gives_identical_inputs(tmp_path):
    gen.generate(str(tmp_path / "x"), 7, SHARDS)
    gen.generate(str(tmp_path / "y"), 7, SHARDS)
    x, y = _tables(str(tmp_path / "x")), _tables(str(tmp_path / "y"))
    assert list(x) == list(y)
    assert all(x[k].equals(y[k]) for k in x)


def test_other_seed_gives_other_inputs(tmp_path):
    gen.generate(str(tmp_path / "x"), 7, SHARDS)
    gen.generate(str(tmp_path / "y"), 8, SHARDS)
    x, y = _tables(str(tmp_path / "x")), _tables(str(tmp_path / "y"))
    assert list(x) == list(y)
    assert not any(x[k].equals(y[k]) for k in x)


def test_stream_backlog_is_the_shard_in_arrival_order(tmp_path):
    """The union of a shard's stream files is its batch table, so the
    batch twin over the table is the reference of the drains."""
    gen.generate(str(tmp_path), 3, SHARDS)
    shard = tmp_path / "a"
    for table, sub, key in (("events", "events", "ts"),
                            ("documents", "docs", "doc_id")):
        files = sorted(glob.glob(f"{shard}/stream/{sub}/*.parquet"))
        assert len(files) == SHARDS["a"]["stream_files"]
        parts = [pq.read_table(f) for f in files]
        assert pa.concat_tables(parts).equals(
            pq.read_table(f"{shard}/{table}.parquet"))
        # files arrive in key order: no row of a later file precedes
        # a row of an earlier one
        for early, late in zip(parts, parts[1:]):
            assert (max(early.column(key).to_pylist())
                    < min(late.column(key).to_pylist()))


def test_documents_carry_messy_texts(tmp_path):
    ids = gen.generate(str(tmp_path), 5,
                       {"d": {**SHARDS["a"], "docs": 2000}})["d"]
    texts = pq.read_table(f"{tmp_path}/d/documents.parquet") \
        .column("text").to_pylist()
    messy = [i for i, t in enumerate(texts) if not t
             or t[0] in gen.EDGE_CHARS or t[-1] in gen.EDGE_CHARS]
    # the returned ids add the messy documents' near-duplicates
    assert set(messy) <= set(ids) and len(ids) < 2 * len(messy)
    assert 5 <= len(messy) <= 60  # ~1 %
    assert None in texts and "" in texts
