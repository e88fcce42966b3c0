"""Deduplication operators for document corpora.

Scale design notes (100 TB):

- exact dedup is one hash-groupBy — map-side partial agg, one shuffle on the
  digest (uniform key, no skew);
- MinHash+LSH: shingle -> per-seed min-hash signature -> band buckets ->
  self-join *within buckets only* (never all-pairs). The band join key is a
  digest, so the shuffle is uniform; candidate verification joins back for
  exact Jaccard only on candidates;
- one sketch pass per call: ``_doc_sketch`` (one shingle explode, one
  groupBy) gives the signature and the distinct shingle set together.
  ``dedup_documents`` and ``dedup_against_neardup`` localCheckpoint it
  once and derive bands and Jaccard from it; ``minhash_jaccard_estimate``
  reads both from one lazy sketch (a checkpoint there measured flat).
  The checkpoints left: ``lsh_candidate_pairs``' band table (its
  self-join would recompute it per side), the ``max_bucket`` rank frame,
  ``dedup_against_neardup``'s candidates (``checkpoint=``), and
  ``dup_clusters``' edges and labels on its distributed path only;
- SimHash: 64 per-bit partial sums composed into one BIGINT — all map-side
  expression work, one groupBy per doc (no shuffle beyond the agg);
- md5 is the one token and shingle hash of the near-dup family (MinHash,
  LSH bands, SimHash, the persisted index) so results are reproducible
  across engines (the DuckDB oracle computes the same strings) and the
  stream twins replay the same law.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pypond_spark.datapipe._util import (ngram_explode, overlap, spread,
                                          word_tokens)
from pypond_spark.session import shuffle_width


# simhash token cap per document: bounds skew and guarantees the lane-packed
# bit counters in simhash64 cannot overflow a LONG (see comment there)
_SIMHASH_MAX_TOKENS = 1 << 20

# dup_clusters labels components on the driver (BFS) at or below this many
# pair rows, and by distributed label propagation above it
DRIVER_CC_MAX_EDGES = 500_000


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                  id_col: str = "doc_id") -> DataFrame:
    """One row per n-word shingle: (id, shingle).  Zip-exploded
    (:func:`~pypond_spark.datapipe._util.ngram_explode`, ``min_one`` —
    NULL text emits none, every other doc at least one, short docs the
    joined prefix): identical rows, fully code-generated."""
    return ngram_explode(spread(df), word_tokens(text_col), n,
                         keep=[id_col], out="shingle", min_one=True)


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: (digest, keeper id, duplicate count)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("digest"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_docs"))
    )


def minhash_signature(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 4,
                      shingle_n: int = 3) -> DataFrame:
    """MinHash signature: per seed k, min over shingles of a derived hash.

    Returns (id, m0..m{k-1}) BIGINT columns. One explode + one groupBy;
    signature columns are independent min aggregates (map-side combinable).

    Each shingle is hashed ONCE; the k per-seed hashes are derived from two
    32-bit halves of that single digest via the double-hashing scheme
    ``m_k = (h1 + k*h2) mod 2^32`` (Kirsch-Mitzenmacher composition — k
    universal-enough hash families from one strong hash, standard for Bloom
    filters and MinHash). This makes signature cost independent of
    ``num_hashes``: the dominant work at corpus scale is one digest per
    shingle, not k.

    The digest is md5, reproducible across engines (the DuckDB oracle
    derives identical values from the same md5 hex). All arithmetic
    stays in [0, 2^35] — safe under ANSI overflow checks.
    """
    return _doc_sketch(df, text_col, id_col, num_hashes, shingle_n, False)


def _doc_sketch(df: DataFrame, text_col: str, id_col: str, num_hashes: int,
                shingle_n: int, sets: bool) -> DataFrame:
    """The one per-doc pass of the near-dup family (module docstring):
    ``(id, m0..m{num_hashes-1})`` and, when ``sets``, ``sh``, the
    distinct shingle set every Jaccard consumer compares."""
    sh = word_shingles(df, text_col, shingle_n, id_col)
    aggs = []
    if num_hashes:
        two32 = F.lit(4294967296)
        d = F.md5(F.col("shingle"))
        h1 = F.conv(d.substr(1, 8), 16, 10).cast("long")
        h2 = F.conv(d.substr(9, 8), 16, 10).cast("long")
        aggs = [F.min(F.pmod(h1 + F.lit(k) * h2, two32)).alias(f"m{k}")
                for k in range(num_hashes)]
    if sets:
        aggs.append(F.collect_set("shingle").alias("sh"))
    return sh.groupBy(id_col).agg(*aggs)


def _bands(sketch: DataFrame, id_col: str, num_hashes: int,
           band_size: int) -> DataFrame:
    """(id, band) rows of a signature frame: each band of ``band_size``
    minhashes digested into one bucket key."""
    if num_hashes % band_size:
        raise ValueError("num_hashes must be a multiple of band_size")
    bands = F.array(*[
        F.md5(F.concat_ws("|", F.lit(str(b)),
                          *[F.col(f"m{b * band_size + i}").cast("string")
                            for i in range(band_size)]))
        for b in range(num_hashes // band_size)
    ])
    return sketch.select(F.col(id_col), F.explode(bands).alias("band"))


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 8,
                        band_size: int = 4, shingle_n: int = 3,
                        max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate candidate pairs via LSH banding.

    Bands of ``band_size`` minhashes are digested into bucket keys; docs
    sharing any band bucket become a candidate pair. The join is per-bucket,
    so cost is sum over buckets of |bucket|^2, not |corpus|^2.

    ``max_bucket`` is the adversarial-skew guard: real crawls contain
    mega-clusters (boilerplate shared by 10^6 documents) that make one
    band bucket — and its |bucket|^2 — huge.  With a cap, each bucket
    emits (a) the full clique over a deterministic ``max_bucket``-member
    sample (ordered by ``md5(band:id)``, so each band samples
    DIFFERENT members) and (b) one star edge from every overflow member
    to the bucket's first sampled representative.  Per-bucket cost
    drops from |bucket|² to ``max_bucket² + |bucket|`` while every
    member keeps at least one candidate edge, so connected-component
    labeling still reaches the whole cluster THROUGH the
    representatives.  The tradeoff is honest: overflow members are
    verified only against a representative, so a mega-cluster whose
    members are mutually similar but dissimilar to the sampled rep can
    shed edges at the Jaccard verify — the standard sample-and-cap
    recall concession, which exact-digest dedup upstream (identical
    boilerplate never reaches LSH) keeps small in practice.

    The (id, band) table is localCheckpointed once (blocks go with the
    frame), so the self-join's two sides share one signature pass;
    exchange reuse did not (each side recomputed it). At warehouse
    scale, write the signature table to storage once and join on that.
    """
    buckets = lsh_band_buckets(df, text_col, id_col, num_hashes, band_size,
                               shingle_n).localCheckpoint()
    return _band_pairs(buckets, id_col, max_bucket)


def _band_pairs(buckets: DataFrame, id_col: str,
                max_bucket: int | None) -> DataFrame:
    """(id_a < id_b) pairs sharing a band of the materialized (id, band)
    table ``buckets``, capped per bucket as :func:`lsh_candidate_pairs`
    describes when ``max_bucket`` is set."""
    def clique(t: DataFrame) -> DataFrame:
        a, b = t.alias("a"), t.alias("b")
        return (a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b")))

    if max_bucket is None:
        return clique(buckets).distinct()
    if max_bucket < 2:
        raise ValueError(f"max_bucket must be >= 2, got {max_bucket}")
    order = F.md5(F.concat_ws(":", F.col("band"),
                              F.col(id_col).cast("string")))
    w = Window.partitionBy("band").orderBy(order)
    ranked = (buckets
              .select(id_col, "band", F.row_number().over(w).alias("__rn"))
              .localCheckpoint())
    rep = (ranked.where(F.col("__rn") == 1)
           .select("band", F.col(id_col).alias("__rep")))
    star = (ranked.where(F.col("__rn") > max_bucket)
            .join(rep, "band")
            .select(F.least(F.col(id_col), F.col("__rep")).alias("id_a"),
                    F.greatest(F.col(id_col), F.col("__rep"))
                    .alias("id_b")))
    return (clique(ranked.where(F.col("__rn") <= max_bucket))
            .unionByName(star).distinct())


def lsh_band_buckets(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", num_hashes: int = 8,
                     band_size: int = 4, shingle_n: int = 3) -> DataFrame:
    """The (id, band-bucket) table LSH banding joins on — factored out of
    :func:`lsh_candidate_pairs` so scale audits can measure the bucket
    occupancy distribution (candidate-join cost is Σ|bucket|², the number
    this table bounds) without re-implementing the banding scheme."""
    return _bands(minhash_signature(df, text_col, id_col, num_hashes,
                                    shingle_n), id_col, num_hashes, band_size)


def _doc_shingle_sets(df: DataFrame, text_col: str, id_col: str,
                      shingle_n: int) -> DataFrame:
    """:func:`_doc_sketch`'s ``(id, sh)`` set frame, no signature."""
    return _doc_sketch(df, text_col, id_col, 0, shingle_n, True)


def _jaccard(a: str, b: str) -> Column:
    """|A ∩ B| / |A ∪ B| of two shingle-set columns."""
    return (F.size(F.array_intersect(a, b)).cast("double")
            / F.size(F.array_union(a, b)).cast("double"))


def _pair_sets(pairs: DataFrame, sets_df: DataFrame, id_col: str,
               cols: tuple = ("sh",)) -> DataFrame:
    """``pairs`` inner-joined with both sides' ``cols`` of ``sets_df``
    (column ``c`` lands as ``c_a`` / ``c_b``)."""
    def side(s):
        return sets_df.select(F.col(id_col).alias(f"id_{s}"),
                              *[F.col(c).alias(f"{c}_{s}") for c in cols])
    return pairs.join(side("a"), "id_a").join(side("b"), "id_b")


def ngram_jaccard(df: DataFrame, pairs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", shingle_n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: |A ∩ B| / |A ∪ B|.

    Joins shingle sets only for candidate pairs (post-LSH), never all pairs.
    """
    sets_df = _doc_shingle_sets(df, text_col, id_col, shingle_n)
    return (_pair_sets(pairs, sets_df, id_col)
            .select("id_a", "id_b", _jaccard("sh_a", "sh_b").alias("jaccard")))


def ngram_containment(df: DataFrame, pairs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      shingle_n: int = 3) -> DataFrame:
    """Directional n-gram containment for candidate pairs:
    ``containment(a in b) = |S(a) ∩ S(b)| / |S(a)|`` and its reverse.

    Catches subset duplication that symmetric Jaccard under-scores: a
    short document quoted whole inside a long one has containment ~1.0
    but Jaccard ~|a|/|b| (arbitrarily small). Same candidate-only join
    discipline as :func:`ngram_jaccard` — shingle sets are compared for
    LSH candidates, never all pairs.

    Output: ``id_a, id_b, containment_a, containment_b`` (fraction of
    each side's shingles found in the other). An empty document carries
    ``word_shingles``' single empty-string sentinel shingle (two empty
    docs therefore score containment 1.0 — they ARE exact duplicates);
    pairs referencing NULL-text docs (no shingle) or ids absent from
    ``df`` are dropped by the inner joins, exactly as in
    :func:`ngram_jaccard`.
    """
    sets_df = _doc_shingle_sets(df, text_col, id_col, shingle_n)
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return (_pair_sets(pairs, sets_df, id_col)
            .select("id_a", "id_b",
                    F.try_divide(inter, F.size("sh_a").cast("double"))
                    .alias("containment_a"),
                    F.try_divide(inter, F.size("sh_b").cast("double"))
                    .alias("containment_b")))


def dup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iter: int = 20, on_nonconverged: str = "raise",
                 stats: dict | None = None) -> DataFrame:
    """Connected components over duplicate pairs: (id, cluster_id) where
    cluster_id is the minimum id in the component.

    Iterative min-label propagation: each round joins labels across edges and
    keeps the per-node minimum; converges in O(diameter) rounds (bounded by
    ``max_iter``; near-dup components are shallow in practice). Each round is
    one shuffle on node id; label frames are tiny relative to the corpus
    (only nodes that appear in a pair).

    If labels are still changing after ``max_iter`` rounds (a component with
    diameter > max_iter), ``on_nonconverged='raise'`` (default) raises
    RuntimeError instead of silently returning split clusters; ``'ignore'``
    returns the partial labels (callers that only need a candidate grouping).

    Pass a dict as ``stats`` to receive ``{"rounds": <propagation rounds
    executed>}`` — scale audits use it to confirm near-dup components stay
    shallow (convergence in O(diameter) rounds).
    """
    if on_nonconverged not in ("raise", "ignore"):
        raise ValueError(
            f"on_nonconverged must be raise|ignore, got {on_nonconverged!r}")
    # A pair naming a NULL id is no edge, on both paths.
    ends = (pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
            .where(F.col("src").isNotNull() & F.col("dst").isNotNull()))
    # Driver fast path: each propagation round is 3+ jobs of pure stage
    # latency, and the dup-pair set is small relative to the corpus.
    # One bounded collect both counts and fetches the pairs; at or below
    # the cap, exact BFS components over the undirected adjacency give
    # the same (id, min-id) labels, and the max_iter contract holds:
    # min-label propagation moves one hop per round, so it converges
    # with `rounds = R+1` (R = max distance from a component's min
    # node) and fails max_iter <= R.  Past the cap the distributed path
    # runs; `on_nonconverged='ignore'` always takes it — its partial
    # labels ARE the r-hop propagation state.
    small = (ends.limit(DRIVER_CC_MAX_EDGES + 1).collect()
             if on_nonconverged == "raise" else None)
    if small is not None and len(small) <= DRIVER_CC_MAX_EDGES:
        adj: dict = {}
        for src, dst in small:
            adj.setdefault(src, set()).add(dst)
            adj.setdefault(dst, set()).add(src)
        # BFS from each component's min node (the first one met in id
        # order): a node's distance is the rounds it takes to converge
        dist: dict = {}
        labels_out = []
        for root in sorted(adj):
            if root in dist:
                continue
            dist[root] = 0
            frontier = [root]
            while frontier:
                nxt = []
                for node in frontier:
                    labels_out.append((node, root))
                    for nb in adj[node]:
                        if nb not in dist:
                            dist[nb] = dist[node] + 1
                            nxt.append(nb)
                frontier = nxt
        max_dist = max(dist.values(), default=0)
        if stats is not None:
            stats["rounds"] = min(max_dist + 1, max_iter)
        if max_dist >= max_iter:
            raise RuntimeError(
                f"dup_clusters did not converge in max_iter={max_iter} "
                "rounds (a duplicate component has diameter > max_iter); "
                "raise max_iter or pass on_nonconverged='ignore' for "
                "partial labels")
        id_type = pairs.schema[id_a].dataType
        schema = T.StructType([T.StructField("id", id_type),
                               T.StructField("cluster_id", id_type)])
        return pairs.sparkSession.createDataFrame(
            sorted(labels_out), schema)
    # localCheckpoint truncates lineage: without it every round's plan
    # re-derives the whole upstream LSH pipeline and planning cost grows
    # with iteration count (observed as hundreds of scans in the static plan)
    edges = (ends.union(ends.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
             .distinct()
             .localCheckpoint())
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("cluster_id", F.col("id"))
              .localCheckpoint())
    changed = 1
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # candidate label for each node: min over neighbors' labels + own.
        # The own row is tagged so the round's aggregate ALSO carries the
        # previous label — the convergence check then reads the already-
        # checkpointed frame instead of re-joining new labels against old
        # (one fewer join job per round; r14).
        neighbor = (edges.join(labels, edges.dst == labels.id)
                    .select(F.col("src").alias("id"),
                            F.col("cluster_id"),
                            F.lit(0).alias("__own")))
        merged = (labels.select("id", "cluster_id",
                                F.lit(1).alias("__own"))
                  .union(neighbor)
                  .groupBy("id")
                  .agg(F.min("cluster_id").alias("cluster_id"),
                       F.max(F.when(F.col("__own") == 1,
                                    F.col("cluster_id"))).alias("__old"))
                  .localCheckpoint())
        changed = (merged
                   .where(F.col("cluster_id") != F.col("__old"))
                   .limit(1).count())
        labels = merged.select("id", "cluster_id")
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    if changed != 0 and on_nonconverged == "raise":
        raise RuntimeError(
            f"dup_clusters did not converge in max_iter={max_iter} rounds "
            "(a duplicate component has diameter > max_iter); raise max_iter "
            "or pass on_nonconverged='ignore' for partial labels")
    return labels


def dedup_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", num_hashes: int = 8,
                    band_size: int = 4, shingle_n: int = 3,
                    jaccard_threshold: float = 0.8,
                    stats: dict | None = None,
                    keeper: str = "min_id",
                    keeper_col: str | None = None,
                    max_bucket: int | None = None) -> DataFrame:
    """End-to-end near-dup document dedup.

    exact-digest grouping -> MinHash+LSH candidates -> exact Jaccard verify
    -> connected components -> keeper selection. Returns the corpus with
    ``cluster_id`` and ``is_keeper`` columns. Every stage is a bounded
    join/agg; nothing is O(corpus^2).  ``stats`` (optional dict) is
    forwarded to :func:`dup_clusters`, which records the label-propagation
    round count in it.

    ``keeper`` picks which cluster member survives:

    - ``"min_id"`` (default): the cluster label itself — zero extra work.
    - ``"longest"``: the member with the longest text (production near-dup
      pipelines keep the most complete variant, not an arbitrary one);
      ties break to the min id, so the choice is deterministic.
    - ``"max_col"``: the member maximizing ``keeper_col`` (e.g. a quality
      score); ties break to the min id.

    Score-based keepers cost one argmax aggregate over the LABELED docs
    only (bounded by the duplicate set, not the corpus) plus one join back
    on cluster_id.

    ``max_bucket`` is :func:`lsh_candidate_pairs`' mega-bucket guard
    (clique over a sample plus star edges), with the same semantics.
    """
    if keeper not in ("min_id", "longest", "max_col"):
        raise ValueError(
            f"keeper must be min_id|longest|max_col, got {keeper!r}")
    if keeper == "max_col" and not keeper_col:
        raise ValueError("keeper='max_col' requires keeper_col")
    sketch = _doc_sketch(df, text_col, id_col, num_hashes, shingle_n,
                         True).localCheckpoint()
    pairs = _band_pairs(_bands(sketch, id_col, num_hashes, band_size),
                        id_col, max_bucket)
    verified = (_pair_sets(pairs, sketch, id_col)
                .where(_jaccard("sh_a", "sh_b") >= jaccard_threshold)
                .select("id_a", "id_b"))
    clusters = dup_clusters(verified, stats=stats)
    out = df.join(clusters.withColumnRenamed("id", id_col), id_col, "left")
    cluster = F.coalesce(F.col("cluster_id"), F.col(id_col))
    out = out.withColumn("cluster_id", cluster)
    if keeper == "min_id":
        return out.withColumn("is_keeper",
                              F.col(id_col) == F.col("cluster_id"))
    score = (F.length(F.col(text_col)).cast("long") if keeper == "longest"
             else F.col(keeper_col))
    # argmax over cluster MEMBERS (the labeled docs — dup-set-sized):
    # max score per cluster, then min id among the max-score members —
    # type-agnostic on the id (string ids can't be negated for a
    # mixed-direction struct ordering); one extra broadcast-sized join
    # over the dup set only
    members = (clusters.withColumnRenamed("id", id_col)
               .join(df.select(id_col, score.alias("__score")), id_col))
    best = members.groupBy("cluster_id").agg(F.max("__score").alias("__ms"))
    keepers = (members.join(best, "cluster_id")
               .where(F.col("__score").eqNullSafe(F.col("__ms")))
               .groupBy("cluster_id")
               .agg(F.min(F.col(id_col)).alias("__keeper")))
    return (out.join(keepers, "cluster_id", "left")
            .withColumn("is_keeper",
                        F.when(F.col("__keeper").isNull(), F.lit(True))
                        .otherwise(F.col(id_col) == F.col("__keeper")))
            .drop("__keeper"))


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", as_halves: bool = False) -> DataFrame:
    """64-bit SimHash per document.

    ``as_halves=True`` emits unsigned 32-bit columns ``sim_hi``/``sim_lo``
    instead of one ``simhash`` LONG: each half is a 32-term expression
    instead of 64, which keeps the generated code well under the JIT's
    huge-method threshold (the fused 64-term OR-chain was observed running
    interpreted), and sign-free halves are what cross-engine comparisons
    want anyway.

    Per token: a 64-bit hash, computed ONCE at explode time; per bit b: +1 if
    set else -1, summed per doc; simhash bit b = 1 iff sum > 0. The
    groupBy(doc) shuffles only (id, hash) longs with map-side partial
    sums — the scalable classic shape.

    The 64-bit token hash is the first 16 hex chars of md5 (two 32-bit
    halves, hi<<32 | lo), so a DuckDB oracle reproduces it exactly and
    the stream twin ``simhash_rowwise`` replays the same law.

    (A fully row-wise higher-order-function variant was measured 6x slower:
    Catalyst re-inlines the token-hash expression into each of the 64 bit
    filters, recomputing hashes 64x per row.)
    """
    d = F.md5(F.col("t"))
    hi = F.conv(d.substr(1, 8), 16, 10).cast("long")
    lo = F.conv(d.substr(9, 8), 16, 10).cast("long")
    # hash AFTER explode, not inside transform(): a lambda in transform()
    # is an interpreted HOF per element, while a post-explode column expr
    # is whole-stage-codegen — measured 2.3x end-to-end at sf0.1.
    # Tokens capped at 2^20 per doc: bounds worst-case skew AND makes the
    # lane packing below provably overflow-free.
    toks = spread(df).select(
        F.col(id_col),
        F.explode(F.slice(word_tokens(text_col), 1, _SIMHASH_MAX_TOKENS))
        .alias("t")) \
        .select(F.col(id_col), F.shiftleft(hi, 32).bitwiseOR(lo).alias("h"))
    # Lane-packed bit counting: accumulator i sums bits i, i+22, i+44 in
    # three 21-bit lanes of one LONG — 23 aggregate buffers instead of 65
    # (the agg buffer updates, not the token hashing, dominate simhash
    # cost; fewer/cheaper updates also keep the generated agg method small
    # enough that a 2-3 run session still gets it JIT-compiled). With
    # n <= 2^20 tokens the sum is < 2^20 * (1 + 2^21 + 2^42) < 2^63 —
    # lanes can't collide and ANSI can't overflow.
    # (assembled as SQL strings, not Column nodes: the ~700 py4j
    # round-trips of the composed form cost ~2s of driver time per query
    # build — same fix as similarity.ivf_assign; identical bit ops)
    packed = []
    for i in range(22):
        terms = []
        for lane in range(3):
            b = i + 22 * lane
            if b >= 64:
                break
            terms.append(f"shiftleft(shiftright(h, {b}) & 1, {21 * lane})")
        packed.append(F.expr(f"sum({' | '.join(terms)})").alias(f"p{i}"))
    agg = toks.groupBy(id_col).agg(*packed, F.count("h").alias("__n"))

    # bit b of the simhash: 1 iff the +-1 sum is positive <=> 2*count > n
    def _bit(b: int) -> str:
        return (f"(CASE WHEN (shiftright(p{b % 22}, {21 * (b // 22)}) & "
                f"{(1 << 21) - 1}) * 2 > __n THEN CAST(1 AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)")

    def _compose(bits: range) -> str:
        return " | ".join(
            f"shiftleft({_bit(b)}, {j})" for j, b in enumerate(bits))

    if as_halves:
        return agg.select(F.col(id_col),
                          F.expr(_compose(range(32, 64))).alias("sim_hi"),
                          F.expr(_compose(range(0, 32))).alias("sim_lo"))
    sim = F.expr(f"shiftleft({_compose(range(32, 64))}, 32) | "
                 f"({_compose(range(0, 32))})")
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    Block on 4 x 16-bit chunks (pigeonhole: any pair within hamming<=3 shares
    at least one exact chunk), join within blocks, verify with bit_count.
    """
    sh = simhash64(df, text_col, id_col)
    chunks = F.array(*[
        F.concat(F.lit(f"{c}:"),
                 F.shiftright(F.col("simhash"), c * 16)
                 .bitwiseAND(F.lit(0xFFFF)).cast("string"))
        for c in range(4)
    ])
    blocked = sh.select(id_col, "simhash", F.explode(chunks).alias("chunk"))
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .where(hamming <= max_hamming)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming.alias("hamming"))
        .distinct()
    )


def chunk_dedup(df: DataFrame, chunk_words: int = 20,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Chunk-level exact dedup with reassembly — the line/paragraph-dedup
    stage of C4/CCNet-style pretraining pipelines, on fixed word windows
    (the corpus has no newline structure; for newline-delimited text split
    on lines instead and the shape is identical).

    Every document is cut into ``chunk_words``-word chunks; a chunk
    instance survives iff it is the corpus-wide FIRST occurrence of its
    text (ordered by (doc_id, chunk_idx)); survivors are stitched back in
    original order. Documents whose every chunk was seen earlier disappear
    (their row would be empty text).

    Scale: the explode is map-side; the first-occurrence choice is one
    row_number window shuffled on the chunk text (uniform digest-like key —
    long common chunks ARE the duplicates being removed, and their group
    size equals the duplication factor); reassembly is one groupBy on the
    doc id. Two bounded shuffles total, no UDFs, no driver state.
    """
    k = int(chunk_words)
    if k <= 0:
        raise ValueError(f"chunk_words must be positive, got {chunk_words}")
    toks = word_tokens(text_col)
    n_chunks = F.greatest(F.ceil(F.size(toks) / F.lit(k)).cast("int"),
                          F.lit(1))
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * k + 1, k), " "))
    ex = spread(df).select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk"))
    w = Window.partitionBy("chunk").orderBy(id_col, "chunk_idx")
    kept = (ex.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1))
    return (kept.groupBy(id_col)
            .agg(F.count("*").alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("chunk_idx", "chunk"))),
                         lambda s: s["chunk"]),
                     " ").alias("text_dedup")))


def dedup_against(df: DataFrame, reference: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id"
                  ) -> DataFrame:
    """Incremental exact dedup: drop rows whose content digest already
    appears in an existing corpus (the "don't re-ingest what the last
    crawl already kept" stage).

    One left-anti hash join on the md5 digest. At 100 TB the reference
    side reduces to its distinct digest set first (a fraction of the
    corpus; Spark broadcasts it when small enough, else it's a uniform
    shuffled join on the digest). For repeated incremental runs, persist
    the digest set once and reuse it — the join then never rescans the
    reference corpus.
    """
    dig = F.md5(F.col(text_col))
    ref = reference.select(dig.alias("__dig")).distinct()
    return (df.withColumn("__dig", dig)
            .join(ref, "__dig", "left_anti")
            .drop("__dig"))


def _band_pfx(band: Column, prefix_chars: int = 2) -> Column:
    """Partition-prefix for a band key: ``prefix_chars`` hex chars of a
    RE-hash of the band string. The re-hash is part of the on-disk
    index layout: every index already written names its ``band_pfx``
    directories by ``md5(band)``, so the query side must derive the
    prefix the same way to find them. Write and query side both call this,
    so the derivation can never drift. The 'x' sentinel keeps every
    partition value non-numeric: a small index whose prefixes happen
    to be all digits would otherwise have Spark's partition-column
    type inference read band_pfx back as BIGINT and fail the string
    .isin() partition filter.

    Choosing ``prefix_chars`` is the small-batch pruning lever: a batch
    with B band keys touches an expected ``16^k * (1 - (1-16^-k)^B)``
    prefix directories — at k=2 any batch past ~1,500 bands touches
    ALL 256 directories and the scan degenerates to the whole index,
    while k=4 keeps a 2,000-band batch inside ~2,000 of 65,536
    directories (~3% of the index). The cost of larger k is write-side
    file count (16^k x files_per_prefix), which is why it is a knob
    and not a constant; both sides must use the SAME value (it is part
    of the index layout, like the banding parameters).

    MEASURED (SCALE.md round-11 stress): at a 100M-char index on a
    local filesystem k=4 is strictly WORSE than k=2 (build 360.5s vs
    32.6s, 1k-doc batch 29.9s vs 3.7s) — the 65,536-directory
    write/list fan-out dominates while pruning saves opens that cost
    ~nothing locally. k>2 only pays off when the index is large
    enough that per-prefix files stay chunky (multi-TB band tables)
    AND the store charges per open/list (S3-class); leave it at 2
    otherwise."""
    if not 1 <= prefix_chars <= 4:
        raise ValueError(
            f"prefix_chars must be 1..4, got {prefix_chars}")
    return F.concat(F.lit("x"),
                    F.substring(F.md5(band), 1, int(prefix_chars)))


#: name of the index-layout metadata file at the index root
_ND_META = "_layout.json"

#: "auto" layout switches flat -> partitioned at this estimated input
#: size (bytes). 256 MB of corpus text yields a band+shingle table far
#: below anything 256 directories help with; past it, per-prefix files
#: stay chunky and pruning starts paying for the directory fan-out.
_ND_FLAT_THRESHOLD = 256 * 1024 * 1024


def _nd_fs(spark, base: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(base).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _nd_write_meta(spark, base: str, meta: dict) -> None:
    """Write ``_layout.json`` at the index root (Hadoop FS so the same
    code serves local, HDFS and object-store paths)."""
    fs, hpath = _nd_fs(spark, base)
    out = fs.create(hpath(base + "/" + _ND_META), True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()


def _nd_read_meta(spark, base: str) -> dict | None:
    fs, hpath = _nd_fs(spark, base)
    p = hpath(base + "/" + _ND_META)
    if not fs.exists(p):
        return None
    inp = fs.open(p)
    try:
        # py4j can't round-trip a mutated byte[] out of readFully;
        # commons-io (on Spark's classpath) returns the bytes
        raw = bytes(spark._jvm.org.apache.commons.io.IOUtils
                    .toByteArray(inp))
    finally:
        inp.close()
    return json.loads(raw.decode("utf-8"))


def _nd_read(spark, base: str, meta: dict | None, table: str) -> DataFrame:
    """Index table ``table``, read with the schema ``_layout.json``
    records when it has one: no schema-inference job."""
    sch = (meta or {}).get("schemas", {}).get(table)
    return (spark.read.schema(T.StructType.fromJson(json.loads(sch)))
            if sch else spark.read).parquet(f"{base}/{table}")


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for ``df`` (no job is run): parquet
    footer sizes propagated through the plan. The same estimate the
    broadcast planner uses — coarse, but monotonic in input size, which
    is all the layout switch needs."""
    sz = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    # py4j returns small BigInts as python ints, large ones as objects.
    # Non-file sources (createDataFrame, RDD-backed frames) report
    # spark.sql.defaultSizeInBytes = Long.MaxValue — "auto" then falls
    # back to the conservative partitioned layout, which is the safe
    # direction for an input of unknown size.
    return sz if isinstance(sz, int) else int(sz.toString())


def _write_bands(bands: DataFrame, dest: str, layout: str, n_files: int,
                 files_per_prefix: int, mode: str) -> None:
    """Write a band table: ``flat`` as ``n_files`` files (a repartition,
    not a coalesce, keeps the band compute at full parallelism), else
    partitioned by ``band_pfx`` after a repartition on (prefix, salt).
    A bare write sprays every task into every prefix directory (tasks
    x 256 small files, measured as the dominant per-batch scan cost);
    the prefix alone funnels each prefix's slice through one writer;
    the salt keeps 256 x files_per_prefix writers and at most
    files_per_prefix files per directory."""
    if layout == "flat":
        bands.repartition(int(n_files)).write.mode(mode).parquet(dest)
        return
    salt = F.pmod(F.xxhash64("band"), F.lit(int(files_per_prefix)))
    (bands.repartition(F.col("band_pfx"), salt)
     .write.mode(mode).partitionBy("band_pfx").parquet(dest))


def write_neardup_index(df: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", num_hashes: int = 8,
                        band_size: int = 4, shingle_n: int = 3,
                        mode: str = "overwrite",
                        files_per_prefix: int = 4,
                        prefix_chars: int = 2,
                        layout: str = "partitioned") -> None:
    """Persist the corpus's MinHash band table (plus the shingle sets
    the Jaccard verify needs) so incremental ingest can ask "is this
    new document a near-duplicate of ANYTHING already in the corpus"
    without recomputing the corpus side — the near-dup twin of
    persisting the digest set for :func:`dedup_against`.

    Two layouts, recorded in ``path/_layout.json`` so the read side can
    validate (and so ``mode="append"`` generations can never fork the
    layout):

    - ``layout="partitioned"`` (default, the 100-TB shape; the
      :func:`~pypond_spark.datapipe.similarity.write_ann_index`
      pattern): ``path/bands/band_pfx=<xx>/...`` — the (id,
      band-bucket) rows, PARTITION-pruned on a ``prefix_chars``-hex-char
      re-hash prefix of the band key (256 directories at the default):
      a query batch touching a handful of prefixes scans a handful of
      directories, never the corpus-wide table.
    - ``layout="flat"``: the same rows with ``band_pfx`` as a plain
      DATA column, written as a handful of files with no partition
      directories.  Below roughly a gigabyte of corpus the partitioned
      write is all overhead (measured at bench scale: 5-10 s creating
      256 one-row files whose whole band table is 66 KB, vs ~0.5 s
      flat) and prunes nothing a single parquet footer read wouldn't.
      The prefix column is kept so the read side is layout-agnostic.
    - ``layout="auto"``: flat below ~256 MB of estimated input
      (Catalyst size estimate — no extra job), partitioned above.
      This is the scale-adaptive default callers should prefer; the
      literal layouts exist for tests and migration.

    ``path/shingles/...`` — one shingle-set row per corpus doc, read
    only for candidate ids (semi-join bound); file count derived from
    the same size estimate.

    Write once per crawl generation; each
    :func:`dedup_against_neardup` batch then reads
    O(new-batch band prefixes) of the index.
    """
    if layout not in ("partitioned", "flat", "auto"):
        raise ValueError(
            f"layout must be partitioned|flat|auto, got {layout!r}")
    spark = df.sparkSession
    base = path.rstrip("/")
    est = _estimated_bytes(df)
    if layout == "auto":
        layout = "flat" if est < _ND_FLAT_THRESHOLD else "partitioned"
    prior = _nd_read_meta(spark, base) if mode == "append" else None
    if prior is not None:
        # appending generations may never fork the layout; an explicit
        # conflicting prefix_chars is the same layout-contract breach
        # the read side raises for
        if int(prior.get("prefix_chars", prefix_chars)) != prefix_chars:
            raise ValueError(
                f"index at {path} was written with prefix_chars="
                f"{prior.get('prefix_chars')}, append requested "
                f"{prefix_chars} — prefix_chars is part of the layout")
        layout = prior.get("layout", layout)
    buckets = lsh_band_buckets(df, text_col, id_col, num_hashes,
                               band_size, shingle_n)
    bands = buckets.withColumn("band_pfx",
                               _band_pfx(F.col("band"), prefix_chars))

    # flat: a couple of files sized off the input estimate
    n_files = max(1, min(64, est // (128 * 1024 * 1024) + 1))
    sh = _doc_shingle_sets(df, text_col, id_col, shingle_n)

    def _write_shingles() -> None:
        n_sh = max(1, min(256, est // (128 * 1024 * 1024) + 1))
        (sh.repartition(int(n_sh)) if layout == "flat" else sh) \
            .write.mode(mode).parquet(base + "/shingles")

    # the band table and the shingle sets land in different
    # subdirectories and share no lineage beyond the scan — write them
    # concurrently (guide §2.6 overlap)
    overlap(lambda: _write_bands(bands, base + "/bands", layout, n_files,
                                 files_per_prefix, mode),
            _write_shingles)
    if prior is None:
        _nd_write_meta(spark, base, {
            "layout": layout, "prefix_chars": int(prefix_chars),
            "files_per_prefix": int(files_per_prefix),
            "schemas": {"bands": bands.schema.json(),
                        "shingles": sh.schema.json()}})


def dedup_against_neardup(df: DataFrame, index_path: str,
                          threshold: float = 0.8,
                          text_col: str = "text", id_col: str = "doc_id",
                          num_hashes: int = 8, band_size: int = 4,
                          shingle_n: int = 3,
                          keep_scores: bool = False,
                          checkpoint: bool = True,
                          max_candidates: int | None = None,
                          prefix_chars: int = 2) -> DataFrame:
    """Incremental NEAR-dup dedup: drop new documents whose n-gram
    Jaccard against some already-indexed corpus document reaches
    ``threshold`` (``keep_scores=True`` instead returns every verified
    (new id, corpus id, jaccard) hit for auditing).

    The banding parameters AND ``prefix_chars`` MUST match the
    :func:`write_neardup_index` call that built ``index_path`` — band
    keys are parameter-dependent and the prefix width is part of the
    directory layout (a mismatch is detected and raised, because the
    failure mode would otherwise be a silently EMPTY partition filter
    that keeps every duplicate).

    Scale shape (the production ingest path): the new batch's band
    table is computed once and broadcast; on a partitioned index its
    distinct re-hash band prefixes (<= 16^prefix_chars values,
    collected driver-side) become a partition filter on the index
    scan, so I/O is the matching prefix directories only — see
    :func:`_band_pfx` for the batch-size/width math.  Candidates then
    verify by exact shingle Jaccard — the new side's shingle sets
    broadcast, the corpus side's are read semi-join-bound to candidate
    ids.
    """
    if max_candidates is not None and max_candidates < 1:
        raise ValueError(
            f"max_candidates must be >= 1, got {max_candidates}")
    spark = df.sparkSession
    base = index_path.rstrip("/")
    # layout guard: _layout.json, else (legacy indexes) a first-level
    # listing (O(dirs), driver-side)
    meta = _nd_read_meta(spark, base)
    got = prefix_chars
    if meta is not None:
        got = int(meta.get("prefix_chars", prefix_chars))
    else:
        fs, hpath = _nd_fs(spark, base)
        for st in fs.listStatus(hpath(base + "/bands")):
            name = st.getPath().getName()
            if name.startswith("band_pfx="):
                got = len(name) - len("band_pfx=") - 1   # minus sentinel
                break
    if got != prefix_chars:
        raise ValueError(
            f"index at {index_path} was written with prefix_chars={got}, "
            f"queried with {prefix_chars} — the partition filter would "
            f"be empty and every duplicate would pass")
    sketch = (_doc_sketch(df, text_col, id_col, num_hashes, shingle_n, True)
              .withColumnRenamed(id_col, "__new_id").localCheckpoint())
    nb = _bands(sketch, "__new_id", num_hashes, band_size)
    idx = _nd_read(spark, base, meta, "bands")
    if meta is None or meta.get("layout") != "flat":
        # a flat index has no prefix directories to prune, and the
        # broadcast band join below filters it anyway
        pfx = [r["p"] for r in
               nb.select(_band_pfx(F.col("band"), prefix_chars)
                         .alias("p"))
               .distinct().collect()]
        idx = idx.where(F.col("band_pfx").isin(pfx))
    cand = (idx.withColumnRenamed(id_col, "__ref_id")
            .join(F.broadcast(nb), "band")
            .select("__new_id", "__ref_id").distinct())
    if max_candidates is not None:
        # mega-cluster guard (lsh_capped_pairs' concession, index form):
        # a band shared by 10^6 indexed docs makes 10^6 verify pairs.
        # Keep a deterministic md5-ordered sample of refs per new doc;
        # one confirmed hit drops the doc, so recall is lost only when
        # every sampled ref misses and an unsampled one would not.
        order = F.md5(F.concat_ws(":", F.col("__new_id").cast("string"),
                                  F.col("__ref_id").cast("string")))
        w = Window.partitionBy("__new_id").orderBy(order)
        cand = (cand.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") <= int(max_candidates))
                .drop("__rn"))
    new_sets = sketch.select("__new_id", F.col("sh").alias("__shn"))
    # semi-join the corpus shingle side down to candidate ids FIRST
    # (broadcast, batch-bounded): the verify never shuffles the corpus
    # shingle table.  The checkpoint runs the band join once for both
    # consumers; checkpoint=False keeps the plan lazy
    if checkpoint:
        cand = cand.localCheckpoint()
    ref_sets = (_nd_read(spark, base, meta, "shingles")
                .select(F.col(id_col).alias("__ref_id"),
                        F.col("sh").alias("__shr"))
                .join(F.broadcast(cand.select("__ref_id").distinct()),
                      "__ref_id", "left_semi"))
    hits = (cand.join(F.broadcast(new_sets), "__new_id")
            .join(ref_sets, "__ref_id")
            .select("__new_id", "__ref_id",
                    _jaccard("__shn", "__shr").alias("jaccard"))
            .where(F.col("jaccard") >= threshold))
    if keep_scores:
        return hits.select(F.col("__new_id").alias(f"{id_col}_new"),
                           F.col("__ref_id").alias(f"{id_col}_ref"),
                           "jaccard")
    dup_ids = hits.select(F.col("__new_id").alias(id_col)).distinct()
    return df.join(F.broadcast(dup_ids), id_col, "left_anti")


def compact_neardup_index(spark, path: str,
                          files_per_prefix: int = 4) -> dict:
    """Rewrite a :func:`write_neardup_index` index so each band-prefix
    directory holds at most ``files_per_prefix`` files (and the shingle
    table one file per shuffle partition).

    Why: the incremental-ingest loop appends each generation's
    surviving bands (``write_neardup_index(..., mode='append')``), so
    after N generations every prefix directory holds N times the
    original file count — and the pruned scan's cost at the 100-TB
    design point is dominated by files OPENED, not bytes read, so the
    per-batch wall degrades linearly in generation count exactly like
    the pre-salt write did.  Periodic compaction (every K generations,
    or when files/prefix exceeds a threshold) restores the flat batch
    phase; `tools/stress.py neardup_generations` measures the effect.

    Mechanics: read -> repartition on (band_pfx, salt) (the write-path
    layout contract) -> write to a staging dir -> swap via the Hadoop
    FileSystem API (rename is atomic on HDFS and local file systems;
    on object stores without atomic rename, schedule compaction when
    no reader is active — same contract as any parquet table rewrite).
    Returns ``{"bands_files_before", "bands_files_after",
    "shingles_files_before", "shingles_files_after"}``.
    """
    if files_per_prefix < 1:
        raise ValueError(
            f"files_per_prefix must be >= 1, got {files_per_prefix}")
    base = path.rstrip("/")
    fs, hpath = _nd_fs(spark, base)

    def _n_parquet_files(p: str) -> int:
        it = fs.listFiles(hpath(p), True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    def _swap(cur: str, staged: str) -> None:
        fs.delete(hpath(cur), True)
        if not fs.rename(hpath(staged), hpath(cur)):
            raise IOError(f"compaction swap failed for {cur}")

    stats = {}
    bands = base + "/bands"
    staged = base + "/bands.compacting"
    stats["bands_files_before"] = _n_parquet_files(bands)
    meta = _nd_read_meta(spark, base)
    # a flat layout (band_pfx a data column) compacts to plain files
    _write_bands(_nd_read(spark, base, meta, "bands"), staged,
                 (meta or {}).get("layout", "partitioned"),
                 files_per_prefix, files_per_prefix, "overwrite")
    _swap(bands, staged)
    stats["bands_files_after"] = _n_parquet_files(bands)

    sh = base + "/shingles"
    staged = base + "/shingles.compacting"
    stats["shingles_files_before"] = _n_parquet_files(sh)
    n_parts = shuffle_width(spark)
    (_nd_read(spark, base, meta, "shingles").repartition(n_parts)
     .write.mode("overwrite").parquet(staged))
    _swap(sh, staged)
    stats["shingles_files_after"] = _n_parquet_files(sh)
    return stats


def source_overlap(df: DataFrame, group_col: str = "source",
                   text_col: str = "text",
                   prefix_words: int | None = None) -> DataFrame:
    """Cross-group duplication matrix: for each (group_a < group_b) pair,
    how many distinct contents appear in BOTH — the cross-crawl overlap
    report that motivates ``dedup_against``.

    The key is the full-text digest, or (``prefix_words=N``) the digest of
    the first N tokens — the prefix-collision heuristic that catches
    boilerplate-prefixed near-recrawls exact dedup misses.

    Scale: one digest groupBy (shuffle bounded by distinct contents), then
    the per-digest group-set — a handful of names — expands to pairs
    map-side. No self-join of the corpus, no quadratic blowup: pair count
    per digest is len(groups choose 2) with groups <= the (tiny) number of
    distinct sources.
    """
    if prefix_words:
        key = F.md5(F.array_join(
            F.slice(word_tokens(text_col), 1, int(prefix_words)), " "))
    else:
        key = F.md5(F.col(text_col))
    per = (df.groupBy(key.alias("__dig"))
           .agg(F.array_sort(F.collect_set(group_col)).alias("__grps"))
           .where(F.size("__grps") >= 2))
    pairs = per.select(F.explode(F.flatten(F.transform(
        F.col("__grps"),
        lambda x, i: F.transform(
            F.slice(F.col("__grps"), i + 2, F.size(F.col("__grps"))),
            lambda y: F.array(x, y))))).alias("__pair"))
    return (pairs.groupBy(
        F.col("__pair")[0].alias(f"{group_col}_a"),
        F.col("__pair")[1].alias(f"{group_col}_b"))
        .agg(F.count("*").alias("n_shared")))


def repeated_spans(df: DataFrame, k: int = 50,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Exact repeated-substring detection across documents (the span step
    of suffix-array substring dedup, Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): every
    maximal character span covered by some ``k``-char substring that
    also occurs in ANOTHER document.

    Spark recipe instead of a suffix array: slide a ``k``-gram window
    over each doc (one md5 per position), keep hashes seen in >1
    distinct doc, then merge each doc's covered ``[pos, pos + k)``
    intervals with the same window sweep as
    ``operators.interval.merge_intervals``. Output:
    ``(id, span_start, span_end, span_len, n_grams)`` — feed to
    :func:`strip_spans` to actually cut the text.

    Scale: the explode is corpus-CHARS-sized (that is the problem's
    inherent size — a suffix array touches every position too); all
    shuffles are on the uniform gram hash or the doc id, never all
    pairs. ``k`` trades recall for volume exactly as in the paper;
    positions travel as (id, pos, 8-byte hash) rows, never the gram
    text — ``xxhash64`` rather than a digest string because the hash
    is only a fingerprint for cross-doc equality here (r14: the md5
    HEX form made every exploded row carry a 32-char key, ~4x the
    shuffle bytes and string group/join comparisons).

    Precision trade, stated honestly (r15, correcting the r14 note —
    fingerprint collisions are GLOBAL across the gram table, not
    per partition-pair): by the birthday bound, n gram positions
    yield ~n²/2^65 colliding 64-bit pairs, so at the 100-TB design
    point (~10^13–10^14 positions) expect ~10^6–10^8 false
    "repeated" grams — ~1e-6 of positions — each at worst marking
    one spurious k-char span (or widening a real one) in each of two
    documents.  The operator was fingerprint-based under md5 too
    (same failure mode at negligible odds); substring dedup is
    itself a recall/precision heuristic and a ~1e-6 false-span rate
    sits far below the noise of the ``k`` choice.  Precision-critical
    runs can widen the key with a second independent seed
    (``xxhash64(gram)``, ``xxhash64(lit(1), gram)`` → 128 bits at 16
    bytes/row, still half the hex form).  A ``(hash, length)``
    composite is a no-op here: every gram has length exactly ``k``.
    The oracle's by-text replay pins the outputs at every test SF.
    """
    t = F.col(text_col)
    n_pos = F.length(t) - F.lit(k - 1)
    # positions explode as rows and the k-char window hashes row-wise in
    # generated code (posexplode over the position range), instead of an
    # interpreted per-element transform over corpus-CHARS-many positions
    g = (spread(df).where(n_pos >= 1)
         .select(F.col(id_col), t.alias("__t"),
                 F.explode(F.sequence(F.lit(1), n_pos)).alias("__i"))
         .select(id_col,
                 (F.col("__i") - 1).cast("long").alias("pos"),
                 F.xxhash64(F.col("__t").substr(F.col("__i"), F.lit(k)))
                 .alias("h")))
    # "appears in >1 DISTINCT doc" as min!=max: one partial-aggregable
    # pass over the corpus-chars-sized gram table instead of
    # count_distinct's two-level (h, id) pre-aggregation (r14: the dup
    # detection was the heaviest phase of the chain)
    dup = (g.groupBy("h")
           .agg(F.min(F.col(id_col)).alias("__lo"),
                F.max(F.col(id_col)).alias("__hi"))
           .where(F.col("__lo") != F.col("__hi"))
           .select("h"))
    covered = (g.join(dup, "h")
               .select(id_col, F.col("pos").alias("__b"),
                       (F.col("pos") + F.lit(k)).alias("__e")))
    # merge the covered [pos, pos+k) intervals with the shared sweep
    from ..operators.interval import span_sweep
    return (span_sweep(covered, [id_col], "__b", "__e")
            .withColumnRenamed("n_intervals", "n_grams")
            .withColumn("span_len",
                        F.col("span_end") - F.col("span_start")))


def strip_spans(df: DataFrame, spans: DataFrame,
                text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Cut every ``[span_start, span_end)`` out of each document's text —
    the removal step of substring dedup. Docs without spans pass through
    untouched.

    One aggregation of the (tiny relative to text) span table to a
    per-doc sorted list, one join back on the doc id, then an
    Arrow-batched cut (string surgery is the one step Column exprs can't
    do cleanly); appends ``<text_col>_clean`` + ``n_cut`` chars removed.
    """
    import pandas as pd

    agg = (spans.groupBy(id_col)
           .agg(F.array_sort(F.collect_list(
               F.struct(F.col("span_start").alias("s"),
                        F.col("span_end").alias("e")))).alias("__spans")))
    joined = df.join(agg, id_col, "left")
    out_schema = T.StructType(
        list(joined.drop("__spans").schema.fields)
        + [T.StructField(f"{text_col}_clean", T.StringType()),
           T.StructField("n_cut", T.LongType())])

    def cut(batches):
        for pdf in batches:
            cleans, cuts = [], []
            for txt, sp in zip(pdf[text_col], pdf["__spans"]):
                if txt is None:
                    cleans.append(None)
                    cuts.append(0)
                    continue
                if sp is None or len(sp) == 0:
                    cleans.append(txt)
                    cuts.append(0)
                    continue
                parts, last, cut_n = [], 0, 0
                for seg in sp:
                    s, e = int(seg["s"]), int(seg["e"])
                    s = max(s, last)
                    e = min(e, len(txt))
                    if e <= s:
                        continue
                    parts.append(txt[last:s])
                    cut_n += e - s
                    last = e
                parts.append(txt[last:])
                cleans.append("".join(parts))
                cuts.append(cut_n)
            out = pdf.drop(columns=["__spans"])
            out[f"{text_col}_clean"] = cleans
            out["n_cut"] = pd.array(cuts, dtype="int64")
            yield out

    return joined.mapInPandas(cut, out_schema)


def minhash_jaccard_estimate(df: DataFrame, pairs: DataFrame,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             num_hashes: int = 8,
                             shingle_n: int = 3) -> DataFrame:
    """Estimator-vs-truth audit for the MinHash pipeline: per candidate
    pair, the signature-based Jaccard ESTIMATE (fraction of equal
    signature components — an unbiased estimator with stderr
    ~1/sqrt(k)) next to the EXACT shingle Jaccard, plus the absolute
    error. This is how you size ``num_hashes``/band geometry on a real
    corpus: run it on a candidate sample and read the error column.

    Same candidate-only join discipline as :func:`ngram_jaccard` —
    signatures join on the pair ids, never all-pairs.
    """
    sketch = _doc_sketch(df, text_col, id_col, num_hashes, shingle_n, True)
    ms = [f"m{k}" for k in range(num_hashes)]
    matches = sum(F.when(F.col(f"{m}_a") == F.col(f"{m}_b"), 1)
                  .otherwise(0) for m in ms)
    est = (matches.cast("double") / F.lit(float(num_hashes)))
    exact = _jaccard("sh_a", "sh_b")
    return (_pair_sets(pairs, sketch, id_col, ("sh", *ms))
            .select("id_a", "id_b",
                    F.round(est, 6).alias("jaccard_est"),
                    F.round(exact, 6).alias("jaccard_exact"),
                    F.round(F.abs(est - exact), 6).alias("abs_err")))


def editdist_pairs(df: DataFrame, pairs: DataFrame | None = None,
                   text_col: str = "text", id_col: str = "doc_id",
                   min_sim: float = 0.95,
                   **lsh_kwargs) -> DataFrame:
    """Edit-distance verification of near-duplicate candidates: the
    second-stage exact check when shingle Jaccard is too coarse (e.g.
    templated text where word-level shingles collide but character
    edits matter).  ``edit_sim = 1 - lev/max(len)``; ``is_dup`` applies
    ``min_sim``.

    Levenshtein's O(len_a*len_b) DP runs ONLY on LSH candidate pairs
    (``pairs`` defaults to :func:`lsh_candidate_pairs`), so total cost
    is bounded by the banding, never corpus^2 — and the DP itself is
    Spark's built-in JVM ``levenshtein`` (whole-stage codegen, no
    Python).  At 100 TB, pass the ``threshold`` arg variant (cap the
    distance) for the banded early-exit DP when documents are long.
    """
    if pairs is None:
        pairs = lsh_candidate_pairs(df, text_col, id_col, **lsh_kwargs)
    txt = spread(df).select(F.col(id_col), F.col(text_col))
    a = txt.select(F.col(id_col).alias("id_a"),
                   F.col(text_col).alias("__ta"))
    b = txt.select(F.col(id_col).alias("id_b"),
                   F.col(text_col).alias("__tb"))
    dist = F.levenshtein("__ta", "__tb")
    sim = (F.lit(1.0) - dist / F.greatest(F.length("__ta"),
                                          F.length("__tb"), F.lit(1)))
    return (pairs.join(a, "id_a").join(b, "id_b")
            .select("id_a", "id_b", dist.alias("edit_dist"),
                    F.round(sim, 6).alias("edit_sim"),
                    (F.round(sim, 6) >= F.lit(min_sim)).alias("is_dup")))
