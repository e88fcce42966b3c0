"""Embedding similarity search over ``array<float>`` columns.

- ``cosine_topk``: brute-force exact top-k against one query vector. The dot
  product is a single ``F.aggregate``/``zip_with`` expression (JVM-side); the
  scan is embarrassingly parallel and the top-k is a global ``orderBy ...
  limit k`` which Spark executes as per-partition top-k + driver merge
  (TakeOrderedAndProject) — no full sort, no full shuffle.
- ``knn_join``: exact k-NN for *every* row against a (small, broadcastable)
  query set — broadcast nested-loop + per-query top-k via window rank.
- ``lsh_bucket`` / ``lsh_topk``: the scale path — random-hyperplane LSH
  buckets (deterministic planes derived from a seed), candidate search within
  matching buckets only.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pypond_spark.datapipe._util import spread


def dot(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column | str, b: Column | str) -> Column:
    # try_divide: zero-norm vectors give NULL cosine instead of an ANSI
    # DIVIDE_BY_ZERO crash (and never float to the top of a desc sort)
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k by cosine similarity to one literal query vector."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    qn = math.sqrt(sum(float(v) * float(v) for v in query_vec))
    sim = F.try_divide(dot(vec_col, q), norm(vec_col) * F.lit(qn))
    return (df.select(F.col(id_col), sim.alias("cosine"))
            .orderBy(F.desc("cosine"), id_col)
            .limit(k))


def knn_join(df: DataFrame, queries: DataFrame, k: int = 10,
             vec_col: str = "embedding", id_col: str = "vec_id",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             round_to: int | None = None) -> DataFrame:
    """Exact k nearest neighbors of each query row (broadcast the queries).

    Broadcast nested-loop, so the corpus side never shuffles; the
    per-query top-k is a window rank whose only exchange is the q_id
    hash partition of corpus x |queries| scored rows. ``round_to``
    rounds the cosine BEFORE ranking so the neighbor cut is reproducible
    cross-engine (raw last-ulp score differences could flip the rank
    order of near-ties); ties on the rounded score break to the smaller
    corpus id.
    """
    joined = df.crossJoin(F.broadcast(queries))
    sim = cosine(vec_col, q_vec_col)
    if round_to is not None:
        sim = F.round(sim, round_to)
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (joined.select(F.col(q_id_col), F.col(id_col),
                          sim.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _planes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, no numpy RNG state)."""
    planes = []
    state = seed * 6364136223846793005 + 1442695040888963407
    for _ in range(nbits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (2 ** 64)
            row.append(((state >> 33) % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def lsh_bucket(df: DataFrame, dim: int, nbits: int = 8, seed: int = 42,
               vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH bucket id (a bit per plane, composed to LONG).

    Assembled as ONE SQL string (like ``ivf_assign``): nbits x dim plane
    literals composed through the Python Column API cost a py4j
    round-trip per node (~1.5s of driver time per query build at 8x64).
    Same sign test (> 0), same zip_with/aggregate fold order as ``dot`` —
    bucket ids are bit-identical to the composed form.
    """
    v = f"`{vec_col}`"
    zero = "CAST(0 AS DOUBLE)"
    terms = []
    for b, plane in enumerate(_planes(dim, nbits, seed)):
        p = ("array(" + ", ".join(f"CAST({float(w)!r} AS DOUBLE)"
                                  for w in plane) + ")")
        d = (f"aggregate(zip_with({v}, {p}, (x, y) -> "
             f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), {zero}, "
             f"(acc, w) -> acc + w)")
        terms.append(f"shiftleft(CAST(CASE WHEN {d} > 0 THEN 1 ELSE 0 END "
                     f"AS BIGINT), {b})")
    return df.withColumn("lsh_bucket", F.expr(" | ".join(terms)))


def embedding_near_dups(df: DataFrame, threshold: float = 0.95,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id",
                        dim: int | None = None) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: all (a < b) with
    cosine >= threshold.

    Exhaustive O(n^2) — the *correctness baseline*; use
    ``embedding_near_dups_lsh`` at scale. Norms are precomputed per side so
    the join condition is one dot product per pair.

    Pass ``dim`` to unpack the vectors into scalar columns before the
    self-join: the per-pair dot becomes a flat multiply-add chain in
    whole-stage codegen instead of an interpreted array HOF (the
    embedding_near_dups_lsh trick — measured 21.9s -> ~7s at sf0.1's
    2k x 2k pairs).  Identical values either way: both forms are the same
    left-to-right double summation over components.
    """
    # fan the scan out first: the self-join streams one side through a
    # BroadcastNestedLoop, so its parallelism is the scan's partition
    # count — a single-file corpus would run the whole O(n^2) pair scan
    # on one core (no-op at warehouse scale, where the scan is split)
    df = spread(df)
    if dim is not None:
        norm_sql = (f"sqrt(aggregate(transform(`{vec_col}`, x -> "
                    f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                    f"CAST(0 AS DOUBLE), (acc, w) -> acc + w))")
        unpacked = df.selectExpr(
            f"`{id_col}`", f"{norm_sql} AS __n",
            *[f"CAST(get(`{vec_col}`, {i}) AS DOUBLE) AS __e{i}"
              for i in range(dim)])
        a = unpacked.selectExpr(f"`{id_col}` AS id_a", "__n AS __na",
                                *[f"__e{i} AS __a{i}" for i in range(dim)])
        b = unpacked.selectExpr(f"`{id_col}` AS id_b", "__n AS __nb",
                                *[f"__e{i} AS __b{i}" for i in range(dim)])
        chain = " + ".join(f"__a{i} * __b{i}" for i in range(dim))
        sim = F.expr(f"try_divide({chain}, __na * __nb)")
        return (a.join(b, F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", sim.alias("cosine"))
                .where(F.col("cosine") >= threshold))
    with_norm = df.select(F.col(id_col), F.col(vec_col),
                          norm(vec_col).alias("__n"))
    a = with_norm.select(F.col(id_col).alias("id_a"),
                         F.col(vec_col).alias("__va"),
                         F.col("__n").alias("__na"))
    b = with_norm.select(F.col(id_col).alias("id_b"),
                         F.col(vec_col).alias("__vb"),
                         F.col("__n").alias("__nb"))
    sim = F.try_divide(dot("__va", "__vb"), F.col("__na") * F.col("__nb"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", sim.alias("cosine"))
            .where(F.col("cosine") >= threshold))


def embedding_near_dups_lsh(df: DataFrame, dim: int, threshold: float = 0.95,
                            nbits: int = 8, seed: int = 42,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Approximate near-dup pairs: compare only within LSH buckets.

    High-cosine pairs land in the same random-hyperplane bucket with high
    probability; cost is sum over buckets of |bucket|^2 instead of n^2.
    """
    # Unpack the vector into `dim` scalar columns before the self-join: the
    # pairwise dot becomes a flat multiply-add chain that runs in
    # whole-stage codegen, where the array HOF (`F.aggregate`/`zip_with`)
    # is interpreted per pair — measured ~2x end-to-end at sf0.1. Row width
    # is unchanged (the same dim floats, as columns instead of an array).
    # get(), not [i]: a short/corrupt vector yields NULL components (and so
    # a NULL cosine that the threshold filter drops) instead of an ANSI
    # INVALID_ARRAY_INDEX error aborting the whole job.
    # All dim-wide projections are selectExpr STRINGS (see ivf_assign): the
    # per-node py4j round-trips of the Column form cost >1s of driver time
    # per query build at dim=64.
    norm_sql = (f"sqrt(aggregate(transform(`{vec_col}`, x -> "
                f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                f"CAST(0 AS DOUBLE), (acc, w) -> acc + w))")
    bucketed = lsh_bucket(df, dim, nbits, seed, vec_col).selectExpr(
        f"`{id_col}`", "lsh_bucket", f"{norm_sql} AS __n",
        *[f"CAST(get(`{vec_col}`, {i}) AS DOUBLE) AS __e{i}"
          for i in range(dim)])
    a = bucketed.selectExpr(f"`{id_col}` AS id_a", "lsh_bucket",
                            "__n AS __na",
                            *[f"__e{i} AS __a{i}" for i in range(dim)])
    b = bucketed.selectExpr(f"`{id_col}` AS id_b",
                            "lsh_bucket AS __bb", "__n AS __nb",
                            *[f"__e{i} AS __b{i}" for i in range(dim)])
    chain = " + ".join(f"__a{i} * __b{i}" for i in range(dim))
    sim = F.expr(f"try_divide({chain}, __na * __nb)")
    return (a.join(b, (F.col("lsh_bucket") == F.col("__bb"))
                   & (F.col("id_a") < F.col("id_b")))
            .select("id_a", "id_b", sim.alias("cosine"))
            .where(F.col("cosine") >= threshold))


def embedding_near_dups_arrow(df: DataFrame, dim: int,
                              threshold: float = 0.95, nbits: int = 8,
                              seed: int = 42, vec_col: str = "embedding",
                              id_col: str = "vec_id") -> DataFrame:
    """Same candidates as :func:`embedding_near_dups_lsh`, computed with a
    numpy matmul per bucket instead of a pair self-join.

    For dense linear algebra, a vectorized Arrow path beats codegen: each
    LSH bucket's vectors arrive as ONE Arrow batch, ``V @ V.T`` scores
    every in-bucket pair in a BLAS call, and only pairs above threshold are
    emitted. No pair rows are ever materialized pre-filter (the expr
    variant shuffles |bucket|^2 joined rows before filtering), so shuffle
    volume is the bucketed input, not the candidate pairs. Scale bound:
    one bucket must fit one task (|bucket| x dim floats + |bucket|^2
    scores) — with b bits, E|bucket| = n / 2^b; size nbits so buckets stay
    ~10k rows and the score matrix ~100M floats. The grouped shuffle is
    the same hash-partition the join variant needs anyway.
    """
    import pandas as pd

    # tolerate short/NULL vectors the same way the expr twin does: its
    # cosine degrades to NULL and the pair drops; here np.stack would raise
    # on ragged input, so filter mis-sized vectors before stacking
    bucketed = lsh_bucket(df, dim, nbits, seed, vec_col) \
        .where(F.size(F.col(vec_col)) == dim) \
        .select(F.col(id_col), F.col(vec_col), F.col("lsh_bucket"))
    out_schema = "id_a long, id_b long, cosine double"

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "cosine": pd.Series(dtype="float64")})
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy()
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(v, axis=1)
        nrm[nrm == 0.0] = np.nan  # zero vectors -> NULL cosine, like expr
        sims = (v @ v.T) / np.outer(nrm, nrm)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = sims[ia, ib] >= threshold
        return pd.DataFrame({"id_a": ids[ia[keep]], "id_b": ids[ib[keep]],
                             "cosine": sims[ia[keep], ib[keep]]})

    return bucketed.groupBy("lsh_bucket").applyInPandas(
        per_bucket, out_schema)


def _lit_vec(vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


def _sql_double_matrix(vecs: list[list[float]]) -> str:
    """k x dim literal array-of-arrays as ONE SQL fragment."""
    return "array(" + ", ".join(
        "array(" + ", ".join(f"CAST({float(x)!r} AS DOUBLE)" for x in c)
        + ")" for c in vecs) + ")"


def ivf_assign(df: DataFrame, centroids: list[list[float]],
               vec_col: str = "embedding") -> DataFrame:
    """Assign each row to its nearest centroid (max cosine) as ``__cell``.

    Pure map-side expression: no shuffle, scan-parallel at any corpus size.
    Ties break to the larger cell id (struct max), deterministically.

    The whole scoring expression is assembled as ONE SQL string parsed
    JVM-side: composing k x dim literal nodes through the Python Column
    API costs a py4j round-trip per node (~seconds of driver time per
    assignment at k=16, dim=64, and ivf_build runs n_iters + 1
    assignments). The fold order and null semantics are identical to
    ``cosine``/``dot``/``norm`` above — same left fold, same try_divide,
    same coalesce(-2.0) — so results are bit-identical to the composed
    form (the DuckDB oracle twins keep hash-matching).

    Deliberately NOT a ``get()``-unpacked codegen chain (the
    ``embedding_near_dups_lsh`` trick): k x dim unrolled terms generate
    a ~100 KB Java method that janino takes SECONDS to compile, and
    because every Lloyd round bakes in fresh centroid literals the plan
    never hits the codegen cache — measured 3.7s/round unrolled vs
    ~0.15s interpreted-HOF once the scan is spread across cores. The
    interpreted fold is the fast path here; parallelism, not codegen,
    is what the assignment scan needs.
    """
    v = f"`{vec_col}`"
    zero = "CAST(0 AS DOUBLE)"
    dot_vc = (f"aggregate(zip_with({v}, c, (x, y) -> "
              f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), {zero}, "
              f"(acc, w) -> acc + w)")
    norm_v = (f"sqrt(aggregate(transform({v}, x -> "
              f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), {zero}, "
              f"(acc, w) -> acc + w))")
    norm_c = (f"sqrt(aggregate(transform(c, x -> x * x), {zero}, "
              f"(acc, w) -> acc + w))")
    expr = (f"array_max(transform({_sql_double_matrix(centroids)}, "
            f"(c, i) -> named_struct("
            f"'s', coalesce(try_divide({dot_vc}, {norm_v} * {norm_c}), "
            f"CAST(-2.0 AS DOUBLE)), 'i', i))).i")
    return df.withColumn("__cell", F.expr(expr))


def ivf_build(df: DataFrame, n_cells: int = 16, n_iters: int = 2,
              vec_col: str = "embedding", id_col: str = "vec_id",
              quantize: int | None = None) -> list[list[float]]:
    """Deterministic IVF coarse quantizer: k-means with the first ``n_cells``
    vectors (by id) as seeds and ``n_iters`` Lloyd rounds.

    Each round is one scan (assignment is map-side) + one shuffle bounded by
    n_cells x dim (posexplode -> per-(cell,dim) mean); centroids live on the
    driver (k x dim floats), so the index build is cheap even at 100 TB —
    optionally run it on a sampled corpus.

    ``quantize=N`` rounds each centroid component to N decimals after every
    Lloyd round. Mean-of-doubles depends on summation order (partition
    arrival in Spark, scan order elsewhere), so two engines computing "the
    same" k-means diverge in the last ulp; quantizing pins the centroids to
    identical values so downstream assignments/probes are reproducible
    cross-engine (used by the DuckDB oracle twin). ``+ 0.0`` canonicalizes
    any ``-0.0`` the rounding produces.
    """
    seeds = (df.orderBy(id_col).limit(n_cells)
             .select(vec_col).collect())
    centroids = [[float(x) for x in r[0]] for r in seeds]
    if not centroids:
        return centroids  # empty corpus: nothing to iterate
    # centroid width is pinned to the first seed's width: vectors SHORTER
    # than dim contribute NULL components that avg() skips (same per-dim
    # sample set the explode form saw); vectors LONGER than dim
    # contribute only their first dim components (the explode form would
    # have grown the centroid) — ragged corpora are degenerate input
    # either way, and uniform corpora are unaffected
    dim = len(centroids[0])
    # a small-file scan arrives as ONE partition, serializing every
    # assignment scan onto a single core; at warehouse scale this is a
    # no-op (see spread)
    df = spread(df)
    # per-round means as ONE groupBy with dim wide avg aggregates (no
    # posexplode): map-side partial agg collapses each partition to
    # <= n_cells rows of dim (sum, count) pairs, vs the explode's
    # n_cells x dim rows — and one shuffle stage per round instead of
    # two. avg(get(v, i)) over a cell adds the same doubles in the same
    # per-partition order as avg over the exploded pos column, so the
    # switch is value-identical (and quantize=6 pins the cross-partition
    # merge order either way). get() past a short vector yields NULL,
    # which avg skips — the same per-dim sample set the explode form saw.
    def _mean_sql(i: int) -> str:
        m = f"avg(CAST(get(`{vec_col}`, {i}) AS DOUBLE))"
        if quantize is not None:
            m = f"round({m}, {quantize}) + 0.0"
        return m
    aggs = [F.expr(_mean_sql(i)).alias(f"m{i}") for i in range(dim)]
    for _ in range(n_iters):
        assigned = ivf_assign(df, centroids, vec_col)
        means = assigned.groupBy("__cell").agg(*aggs).collect()
        new = list(centroids)  # empty cells keep their previous centroid
        for row in means:
            prev = centroids[row["__cell"]]
            # all-NULL dim (every vector in the cell shorter than i):
            # keep the previous component, as an absent pos row did
            new[row["__cell"]] = [row[f"m{i}"] if row[f"m{i}"] is not None
                                  else prev[i] for i in range(dim)]
        centroids = new
    return centroids


def ivf_topk(df: DataFrame, query_vec: list[float],
             centroids: list[list[float]], k: int = 10, nprobe: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """IVF approximate top-k: score only rows in the ``nprobe`` cells whose
    centroids are most similar to the query.

    With the corpus written partitioned by ``__cell`` the probe filter is
    partition pruning at the source; the in-cell search is the same
    per-partition-heap top-k as ``cosine_topk`` (no global sort). With
    ``nprobe >= len(centroids)`` this is exactly ``cosine_topk``.
    """
    qn = math.sqrt(sum(float(v) ** 2 for v in query_vec))
    probes = _probe_cells(query_vec, centroids, nprobe)
    assigned = ivf_assign(df, centroids, vec_col)
    sim = F.try_divide(dot(vec_col, _lit_vec(query_vec)),
                       norm(vec_col) * F.lit(qn))
    return (assigned.where(F.col("__cell").isin(probes))
            .select(F.col(id_col), sim.alias("cosine"))
            .orderBy(F.desc("cosine"), id_col)
            .limit(k))


def _query_bucket(query_vec: list[float], nbits: int, seed: int) -> int:
    """Driver-side twin of lsh_bucket's sign test for one query vector —
    shared by every bucket-probing search so the sign convention (> 0) and
    summation order can never diverge between probes."""
    qbucket = 0
    for b, plane in enumerate(_planes(len(query_vec), nbits, seed)):
        if sum(p * float(v) for p, v in zip(plane, query_vec)) > 0:
            qbucket |= 1 << b
    return qbucket


def _probe_cells(query_vec: list[float], centroids: list[list[float]],
                 nprobe: int) -> list[int]:
    """Driver-side IVF router shared by every cell-probing search: the
    ``nprobe`` cells whose centroids have the highest cosine to the
    query, ties to the higher cell id; a zero-norm centroid or query
    scores -2 (below any cosine), so it is probed last."""
    qn = math.sqrt(sum(float(v) ** 2 for v in query_vec))
    csims = []
    for i, c in enumerate(centroids):
        cn = math.sqrt(sum(x * x for x in c))
        d = sum(x * float(v) for x, v in zip(c, query_vec))
        csims.append((d / (cn * qn) if cn > 0 and qn > 0 else -2.0, i))
    return [i for _, i in sorted(csims, reverse=True)[:nprobe]]


def _adc_topk(codes: DataFrame, query_vec: list[float],
              codebooks: list[list[list[float]]], k: int, id_col: str,
              round_to: int) -> DataFrame:
    """The rounded, id-tiebroken ADC top-k of :func:`pq_topk` over a PQ
    codes table (``id_col, code0..code{B-1}``), shared with
    :func:`ivfpq_topk_indexed` so the two rankings cannot drift."""
    n_blocks = len(codebooks)
    w = len(codebooks[0][0])
    tbl = []
    for b in range(n_blocks):
        row = []
        for c in codebooks[b]:
            d = 0.0
            for i in range(w):  # left-to-right, same order as the SQL
                t = float(query_vec[b * w + i]) - c[i]
                d = d + t * t
            row.append(round(d, round_to) + 0.0)
        tbl.append(row)
    lookups = " + ".join(
        "element_at(array(" + ", ".join(f"CAST({v!r} AS DOUBLE)"
                                        for v in tbl[b])
        + f"), code{b} + 1)" for b in range(n_blocks))
    scored = codes.selectExpr(f"`{id_col}`",
                              f"round({lookups}, {round_to}) AS adc")
    out = scored.orderBy(F.col("adc").asc(), F.col(id_col).asc()).limit(k)
    return out.withColumn("rank", F.row_number().over(
        Window.orderBy(F.col("adc").asc(), F.col(id_col).asc())))


def _score_topk(df: DataFrame, query_vec: list[float], k: int,
                vec_col: str, id_col: str) -> DataFrame:
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    qn = math.sqrt(sum(float(v) ** 2 for v in query_vec))
    sim = F.try_divide(dot(vec_col, q), norm(vec_col) * F.lit(qn))
    return (df.select(F.col(id_col), sim.alias("cosine"))
            .orderBy(F.desc("cosine"), id_col)
            .limit(k))


def write_ann_index(df: DataFrame, path: str, dim: int, nbits: int = 8,
                    seed: int = 42, vec_col: str = "embedding",
                    mode: str = "overwrite") -> None:
    """Materialize the corpus bucket-partitioned on its LSH bucket
    (``path/lsh_bucket=<b>/...``) so bucket-probing queries become
    PARTITION PRUNING at the source — the scan never opens files outside
    the probed bucket. This is the persisted form of the ``lsh_bucket``
    column; write once, then every :func:`lsh_topk_indexed` query reads
    1/2^nbits of the corpus.
    """
    lsh_bucket(df, dim, nbits, seed, vec_col) \
        .write.mode(mode).partitionBy("lsh_bucket").parquet(path)


def lsh_topk_indexed(spark, path: str, query_vec: list[float], k: int = 10,
                     nbits: int = 8, seed: int = 42,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Top-k against a :func:`write_ann_index` layout: the bucket equality
    filter prunes partitions at planning time (``PartitionFilters`` in
    the scan — verified in tests), so I/O is one bucket, not the corpus.
    """
    qbucket = _query_bucket(query_vec, nbits, seed)
    return _score_topk(
        spark.read.parquet(path).where(F.col("lsh_bucket") == qbucket),
        query_vec, k, vec_col, id_col)


def lsh_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             nbits: int = 8, seed: int = 42, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """Approximate top-k: search only the query's LSH bucket.

    At 100 TB this turns a full-corpus scan into a single partition-pruned
    bucket scan (bucket column is a natural partition key for the corpus).
    """
    qbucket = _query_bucket(query_vec, nbits, seed)
    bucketed = lsh_bucket(df, len(query_vec), nbits, seed, vec_col)
    return _score_topk(bucketed.where(F.col("lsh_bucket") == qbucket),
                       query_vec, k, vec_col, id_col)


def cluster_balanced_sample(df: DataFrame, k_per_cell: int = 20,
                            n_cells: int = 8, n_iters: int = 2,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            quantize: int | None = None,
                            centroids: list[list[float]] | None = None,
                            seed: int | str = 0) -> DataFrame:
    """Diversity-preserving selection: exactly ``k_per_cell`` rows from
    every k-means cell of the embedding space (fewer if a cell is
    smaller), chosen by deterministic sample hash within the cell — the
    cluster-balanced coreset step used alongside SemDeDup-style pruning
    (Abbas et al. 2023, arXiv:2303.09540 §cluster sampling): uniform
    sampling over-represents dense modes, per-cell quotas keep the tails.

    Output: ``(id_col, cell, rank_in_cell)`` for kept rows.

    Scale: assignment is map-side (no shuffle); the per-cell rank is ONE
    window shuffle on the cell key, and AQE splits a skewed mega-cell's
    sort across tasks.  Pass ``centroids`` to reuse a memoized
    deterministic :func:`ivf_build` (same contract as
    :func:`semantic_dedup`).
    """
    from pypond_spark.datapipe.sampling import sample_hash

    cents = centroids if centroids is not None else ivf_build(
        df, n_cells, n_iters, vec_col, id_col, quantize)
    assigned = ivf_assign(spread(df), cents, vec_col)
    w = Window.partitionBy("__cell").orderBy(
        sample_hash(F.col(id_col), seed), F.col(id_col))
    return (assigned
            .withColumn("rank_in_cell", F.row_number().over(w))
            .where(F.col("rank_in_cell") <= k_per_cell)
            .select(F.col(id_col), F.col("__cell").cast("long")
                    .alias("cell"),
                    F.col("rank_in_cell").cast("long")
                    .alias("rank_in_cell")))


def label_centroids(df: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Per-label mean embedding, emitted as (label, dim, centroid, n)
    rows — class centroids for nearest-centroid classification, cluster
    drift monitoring, or seeding :func:`ivf_build`.

    ``posexplode`` the vector once, then ONE shuffle whose volume is
    bounded by labels x dims (map-side partial aggregation collapses each
    partition to at most that many rows), never by the row count. Rows
    whose vector is NULL contribute nothing; ``n`` is the per-(label,dim)
    sample count, so ragged vectors are visible as differing n within a
    label rather than silently skewing the mean.
    """
    ex = df.select(F.col(label_col),
                   F.posexplode(F.col(vec_col)).alias("dim", "__v"))
    return ex.groupBy(label_col, "dim").agg(
        F.avg("__v").alias("centroid"),
        F.count("__v").alias("n"))


def nearest_centroid(df: DataFrame, centroids: list[tuple[int, list[float]]],
                     vec_col: str = "embedding",
                     out_col: str = "pred_label") -> DataFrame:
    """Nearest-centroid classification: label each row with the centroid
    of max cosine similarity — the no-index classifier that pairs with
    :func:`label_centroids` (compute centroids once, classify the corpus).

    Pure map-side expression like :func:`ivf_assign` — no shuffle,
    scan-parallel at any corpus size; the centroid list is driver-side
    config (k x dim floats). Scores round to 6 decimals before the argmax
    so the decision is reproducible cross-engine; ties and degenerate
    rows (NULL/zero vectors, cosine -> -2.0 sentinel) break to the
    SMALLEST label, deterministically.
    """
    pairs = F.array(*[
        F.struct(
            F.round(F.coalesce(cosine(vec_col, _lit_vec(c)), F.lit(-2.0)), 6)
            .alias("s"),
            F.lit(-int(lab)).alias("nl"))
        for lab, c in centroids])
    return df.withColumn(out_col, -F.array_max(pairs)["nl"])


def semantic_dedup(df: DataFrame, n_cells: int = 8, n_iters: int = 2,
                   threshold: float = 0.95, vec_col: str = "embedding",
                   id_col: str = "vec_id",
                   quantize: int | None = None,
                   dim: int | None = None,
                   centroids: list[list[float]] | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-partition the embedding space, then drop
    every vector whose cosine to a LOWER-id member of the SAME cell
    reaches ``threshold`` (the lowest id in each near-dup group is the
    canonical survivor).

    Output: ``(id, cell, kept)`` for every input row.

    Scale: the clustering bounds the candidate quadratic — pair work is
    sum(|cell|^2) over cells, never corpus^2 (the whole point of the
    SemDeDup recipe; size ``n_cells ~ sqrt(corpus)`` so pair work stays
    ~linear); the pair join shuffles on the cell key; assignment itself
    is map-side, and the assigned table is localCheckpointed so the pair
    join's two sides and the final verdict share ONE assignment
    computation instead of re-evaluating n_cells cosines per use (the
    same single-materialization trick as ``lsh_candidate_pairs``). For
    cross-engine-reproducible results pass ``quantize=6`` (see
    ``ivf_build``) and note that cosines are rounded to 6 decimals
    before the threshold test, so the keep/drop decision is identical on
    both engines.

    Pass ``dim`` (the fixed embedding width) to run the per-pair dot as
    an unpacked multiply-add chain in whole-stage codegen instead of an
    interpreted array HOF — the same ~2x-measured trick as
    ``embedding_near_dups_lsh``, and at 100 TB the sum(|cell|^2) pair
    term dominates, so the per-pair cost is THE cost. The chain starts
    at ``CAST(0 AS DOUBLE)`` and adds left-to-right, the exact fold
    order of ``dot``, so results (and the DuckDB oracle hash) are
    bit-identical; ``get()`` beyond a short vector yields NULL, which
    NULLs the cosine and drops the pair — the same outcome the HOF path
    gives a ragged vector. ``dim=None`` keeps the HOF path for corpora
    of unknown/mixed width.
    """
    # `centroids` lets callers reuse a memoized ivf_build with IDENTICAL
    # params (the build is deterministic, so a cached list is
    # bit-identical to a rebuilt one — same contract as the PQ cache)
    cents = centroids if centroids is not None else ivf_build(
        df, n_cells, n_iters, vec_col, id_col, quantize)
    # spread: a small-file scan arrives as ONE partition, which would
    # serialize the n_cells-cosine assignment AND the pair join onto a
    # single core; fan out to the cluster's parallelism first
    assigned = ivf_assign(spread(df), cents, vec_col)
    if dim is None:
        assigned = assigned \
            .select(F.col(id_col), F.col(vec_col), F.col("__cell"),
                    norm(vec_col).alias("__n")) \
            .localCheckpoint()
        a = assigned.select(F.col(id_col).alias("__ida"),
                            F.col(vec_col).alias("__va"),
                            F.col("__cell"), F.col("__n").alias("__na"))
        b = assigned.select(F.col(id_col).alias("__idb"),
                            F.col(vec_col).alias("__vb"),
                            F.col("__cell"), F.col("__n").alias("__nb"))
        pair_dot = dot("__va", "__vb")
    else:
        # unpack ONCE, before the checkpoint: the materialized block holds
        # dim scalar doubles per row (same bytes as the array) and both
        # join sides are pure column renames of it. selectExpr STRINGS,
        # not Column composition — py4j round-trip per node otherwise
        # (see embedding_near_dups_lsh / ivf_assign).
        norm_sql = (f"sqrt(aggregate(transform(`{vec_col}`, x -> "
                    f"CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                    f"CAST(0 AS DOUBLE), (acc, w) -> acc + w))")
        assigned = assigned.selectExpr(
            f"`{id_col}`", "__cell", f"{norm_sql} AS __n",
            *[f"CAST(get(`{vec_col}`, {i}) AS DOUBLE) AS __e{i}"
              for i in range(dim)]) \
            .localCheckpoint()
        a = assigned.selectExpr(f"`{id_col}` AS __ida", "__cell",
                                "__n AS __na",
                                *[f"__e{i} AS __a{i}" for i in range(dim)])
        b = assigned.selectExpr(f"`{id_col}` AS __idb", "__cell",
                                "__n AS __nb",
                                *[f"__e{i} AS __b{i}" for i in range(dim)])
        chain = " + ".join(f"__a{i} * __b{i}" for i in range(dim))
        pair_dot = F.expr(f"CAST(0 AS DOUBLE) + {chain}")
    sim = F.round(F.try_divide(pair_dot,
                               F.col("__na") * F.col("__nb")), 6)
    dropped = (a.join(b, ["__cell"])
               .where(F.col("__ida") < F.col("__idb"))
               .where(sim >= F.lit(float(threshold)))
               .select(F.col("__idb").alias(id_col))
               .distinct())
    return (assigned
            .join(dropped.withColumn("__drop", F.lit(1)), [id_col], "left")
            .select(F.col(id_col), F.col("__cell").alias("cell"),
                    F.when(F.col("__drop").isNull(), 1).otherwise(0)
                    .alias("kept")))


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-bounded ANN codes
# ---------------------------------------------------------------------------

def pq_topk(df: DataFrame, query_vec: list[float],
            codebooks: list[list[list[float]]], k: int = 10,
            vec_col: str = "embedding", id_col: str = "vec_id",
            round_to: int = 6) -> DataFrame:
    """Asymmetric-distance top-k: the query stays full-precision, every
    corpus vector is its PQ code (:func:`pq_encode`), and the
    approximate squared-L2 is ``sum_b tbl[b][code_b]`` where ``tbl``
    (n_blocks x n_codes driver floats) holds block-wise distances from
    the query to each centroid.

    At scale the scored input is the CODES table (bytes per row), not
    the vectors — the classic memory/bandwidth win of PQ; scoring is
    array lookups + a B-term add inside codegen, and top-k is the usual
    per-partition heap (TakeOrderedAndProject), no global sort. Each
    ``tbl`` entry and the final score round to ``round_to`` so the
    DuckDB twin (same left-to-right chains) ranks identically; ties
    break on id.
    """
    return _adc_topk(pq_encode(df, codebooks, vec_col, id_col), query_vec,
                     codebooks, k, id_col, round_to)


def ivfpq_topk(df: DataFrame, query_vec: list[float],
               centroids: list[list[float]],
               codebooks: list[list[list[float]]], k: int = 10,
               nprobe: int = 2, vec_col: str = "embedding",
               id_col: str = "vec_id", round_to: int = 6) -> DataFrame:
    """IVF-PQ: the production billion-vector ANN layout — a coarse IVF
    router prunes the corpus to ``nprobe`` cells, then PQ asymmetric
    distance scores only those cells' CODES (bytes per row).

    The two compressions compound: the router means the scan touches
    nprobe/n_cells of the corpus (cell-partitioned storage makes that
    partition pruning at the source), and ADC means what it does touch
    is code lookups, not float vectors. Both halves reuse their
    independently oracle-verified pieces (``ivf_assign`` cosine routing
    with its tie rule; ``pq_topk`` scoring with rounded distances), so
    the composition inherits their cross-engine determinism.
    """
    routed = ivf_assign(df, centroids, vec_col) \
        .where(F.col("__cell").isin(_probe_cells(query_vec, centroids,
                                                 nprobe)))
    return pq_topk(routed, query_vec, codebooks, k, vec_col, id_col,
                   round_to)


def pq_encode(df: DataFrame, codebooks: list[list[list[float]]],
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Encode every vector as ``code0..code{B-1}`` (0-based nearest code
    per block, squared-L2, ties to the lowest code) — the write path of
    a PQ index.  Per Arrow batch, all blocks' code assignments are a
    handful of numpy matmuls.

    ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2 per block — one X_b @ C_b.T
    per block scores every (row, code) pair; distances are rounded to
    6 dp before the argmin (as in :func:`pq_build`), so only a true
    sub-1e-6 knife edge can tie-break differently from a left-to-right
    SQL fold (the DuckDB twin). Map-side: mapInPandas, no shuffle,
    scan-parallel; measured 8x an interpreted per-element SQL fold at
    2M x 64 (70s -> 9s).

    The id column keeps its input type, and a NULL / wrong-length vector
    row is EMITTED with NULL codes (never silently dropped).
    """
    import pandas as pd

    n_blocks = len(codebooks)
    w = len(codebooks[0][0])
    dim = n_blocks * w
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"`{id_col}` {id_type}, " + ", ".join(
        f"code{b} int" for b in range(n_blocks))

    def per_batch(pdfs):
        import numpy as np
        cbs = [np.asarray(codebooks[b], dtype=np.float64)
               for b in range(n_blocks)]
        cb_sq = [np.sum(c * c, axis=1) for c in cbs]
        for pdf in pdfs:
            if not len(pdf):
                continue
            ok = pdf[vec_col].map(
                lambda v: v is not None and len(v) == dim).to_numpy()
            out = {id_col: pdf[id_col].to_numpy()}
            codes = {b: np.zeros(len(pdf), dtype=np.int32)
                     for b in range(n_blocks)}
            if ok.any():
                x = np.stack(
                    pdf.loc[ok, vec_col].to_numpy()).astype(np.float64)
                for b in range(n_blocks):
                    xb = x[:, b * w:(b + 1) * w]
                    d = (np.sum(xb * xb, axis=1)[:, None]
                         - 2.0 * (xb @ cbs[b].T) + cb_sq[b][None, :])
                    codes[b][ok] = np.argmin(
                        np.round(d, 6), axis=1).astype(np.int32)
            for b in range(n_blocks):
                col = pd.array(codes[b], dtype="Int32")
                col[~ok] = pd.NA  # NULL codes, row kept
                out[f"code{b}"] = col
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(per_batch, schema)


def pq_build(df: DataFrame, n_blocks: int = 8, n_codes: int = 16,
             n_iters: int = 2, vec_col: str = "embedding",
             id_col: str = "vec_id", dim: int | None = None,
             quantize: int | None = 6) -> list[list[list[float]]]:
    """Per-block PQ codebooks: split ``dim`` into ``n_blocks`` contiguous
    sub-vectors and run deterministic k-means (first ``n_codes`` vectors
    by id as seeds, squared-L2 assignment with distances rounded to 6dp
    before the argmin, ties to the lowest code) independently per block;
    a code no vector picks keeps its previous centroid.

    The payoff at 100 TB: a 64-dim float32 vector (256 B) compresses to
    ``n_blocks`` small ints (8 B at 8 blocks) + a shared
    ``n_blocks x n_codes x w`` codebook that fits in every executor —
    the whole corpus's codes fit in memory where raw vectors never
    would, and ADC scoring (``pq_topk``) is table lookups instead of
    float dot products.

    Each Lloyd round is ONE ``mapInPandas`` pass emitting per-batch
    partial (block, code, count, component-sums) — a one-hot matmul per
    block — plus a tiny (blocks x codes)-row aggregation; the vectors
    are scanned once per round and never shuffled, and codebooks live
    driver-side. Measured 30x a map-side SQL-expression build at
    2M x 64 (116s -> 3.9s). ``quantize`` rounds centroid components
    after every round: means depend on summation order, and rounding
    pins them across batches and engines (the DuckDB oracle recomputes
    this k-means in its own SQL).
    """
    import pandas as pd

    if dim is None:
        raise ValueError("pq_build needs dim (vectors per-row width)")
    if dim % n_blocks:
        raise ValueError(f"dim {dim} not divisible by n_blocks {n_blocks}")
    w = dim // n_blocks
    seeds = df.orderBy(id_col).limit(n_codes).select(vec_col).collect()
    if len(seeds) < n_codes:
        raise ValueError(f"corpus smaller than n_codes ({len(seeds)} "
                         f"< {n_codes})")
    books = [[[float(r[0][b * w + i]) for i in range(w)] for r in seeds]
             for b in range(n_blocks)]
    schema = ("block int, code int, cnt long, "
              + ", ".join(f"s{i} double" for i in range(w)))

    for _ in range(n_iters):
        cur = [list(map(list, bk)) for bk in books]

        def per_batch(pdfs, _books=cur):
            import numpy as np
            cbs = [np.asarray(_books[b], dtype=np.float64)
                   for b in range(n_blocks)]
            cb_sq = [np.sum(c * c, axis=1) for c in cbs]
            for pdf in pdfs:
                ok = pdf[vec_col].map(
                    lambda v: v is not None and len(v) == dim)
                pdf = pdf[ok]
                if not len(pdf):
                    continue
                x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                out = []
                for b in range(n_blocks):
                    xb = x[:, b * w:(b + 1) * w]
                    d = (np.sum(xb * xb, axis=1)[:, None]
                         - 2.0 * (xb @ cbs[b].T) + cb_sq[b][None, :])
                    codes = np.argmin(np.round(d, 6), axis=1)
                    onehot = (codes[:, None]
                              == np.arange(n_codes)[None, :]).astype(
                        np.float64)
                    sums = onehot.T @ xb          # (codes, w)
                    cnts = onehot.sum(axis=0)     # (codes,)
                    for j in np.nonzero(cnts)[0]:
                        out.append((b, int(j), int(cnts[j]),
                                    *sums[j].tolist()))
                yield pd.DataFrame(
                    out, columns=["block", "code", "cnt",
                                  *[f"s{i}" for i in range(w)]])

        rows = (df.select(vec_col).mapInPandas(per_batch, schema)
                .groupBy("block", "code")
                .agg(F.sum("cnt").alias("cnt"),
                     *[F.sum(f"s{i}").alias(f"s{i}") for i in range(w)])
                .collect())
        new_books = [list(map(list, bk)) for bk in books]
        for r in rows:
            b, j, cnt = r["block"], r["code"], r["cnt"]
            if cnt == 0:
                continue
            m = [r[f"s{i}"] / cnt for i in range(w)]
            if quantize is not None:
                m = [round(v, quantize) + 0.0 for v in m]
            new_books[b][j] = m
        books = new_books
    return books


def write_ivfpq_index(df: DataFrame, path: str,
                      centroids: list[list[float]],
                      codebooks: list[list[list[float]]],
                      vec_col: str = "embedding", id_col: str = "vec_id",
                      mode: str = "overwrite") -> None:
    """Materialize the IVF-PQ index: PQ codes (bytes per row, no raw
    vectors) written cell-partitioned (``path/cell=<c>/...``). The write
    is the expensive pass — one scan that routes (ivf_assign) and
    encodes (PQ argmin) every vector; afterwards a probe query reads
    ``nprobe`` partitions of an 8-ints-per-row table instead of the
    float corpus."""
    routed = ivf_assign(df, centroids, vec_col) \
        .select(id_col, vec_col, F.col("__cell").alias("cell"))
    codes = pq_encode(routed, codebooks, vec_col, id_col)
    (routed.select(id_col, "cell").join(codes, id_col)
     .write.mode(mode).partitionBy("cell").parquet(path))


def ivfpq_topk_indexed(spark, path: str, query_vec: list[float],
                       centroids: list[list[float]],
                       codebooks: list[list[list[float]]], k: int = 10,
                       nprobe: int = 2, id_col: str = "vec_id",
                       round_to: int = 6) -> DataFrame:
    """ADC top-k against a :func:`write_ivfpq_index` layout: the probe
    cells become PARTITION PRUNING (``PartitionFilters`` in the scan —
    verified in tests), so I/O is nprobe/n_cells of a codes-only table.
    Identical results to :func:`ivfpq_topk` on the same corpus (same
    router tie rule, same rounded ADC)."""
    codes = spark.read.parquet(path).where(
        F.col("cell").isin(_probe_cells(query_vec, centroids, nprobe)))
    return _adc_topk(codes, query_vec, codebooks, k, id_col, round_to)


def embedding_drift(old: DataFrame, new: DataFrame, n_cells: int = 8,
                    n_iters: int = 2, vec_col: str = "embedding",
                    id_col: str = "vec_id",
                    quantize: int | None = 6) -> DataFrame:
    """Embedding-distribution drift between two snapshots: k-means cells
    are built on the UNION (one shared vocabulary of regions), both
    snapshots are assigned map-side, and each cell contributes a PSI
    term over its population share — the embedding-space twin of
    ``psi_drift``'s value-bucket report ("did the new crawl shift where
    documents live in embedding space").

    Laplace-smoothed shares ((n+1)/(N+k)) keep empty cells finite; PSI
    > 0.25 is the conventional "investigate" line. Scale shape: the
    k-means build is the IVF build (centroids driver-side); assignments
    are map-side; the report aggregation is n_cells rows. Output per
    cell: counts, shares, and the cell's PSI term (sum them for the
    corpus PSI).
    """
    both = old.select(id_col, vec_col).unionByName(
        new.select(id_col, vec_col))
    cents = ivf_build(both, n_cells, n_iters, vec_col, id_col, quantize)
    o = (ivf_assign(spread(old), cents, vec_col)
         .groupBy("__cell").agg(F.count("*").alias("n_old")))
    n = (ivf_assign(spread(new), cents, vec_col)
         .groupBy("__cell").agg(F.count("*").alias("n_new")))
    cells = (F.broadcast(o.join(n, "__cell", "full_outer"))
             .select(F.col("__cell").alias("cell"),
                     F.coalesce("n_old", F.lit(0)).alias("n_old"),
                     F.coalesce("n_new", F.lit(0)).alias("n_new")))
    tot_o = F.sum("n_old").over(Window.partitionBy())
    tot_n = F.sum("n_new").over(Window.partitionBy())
    p_old = (F.col("n_old") + 1) / (tot_o + F.lit(n_cells))
    p_new = (F.col("n_new") + 1) / (tot_n + F.lit(n_cells))
    return cells.select(
        "cell", "n_old", "n_new",
        F.round(p_old, 6).alias("p_old"),
        F.round(p_new, 6).alias("p_new"),
        F.round((p_new - p_old) * F.log(p_new / p_old), 6)
        .alias("psi_term"))


def embedding_signs(df: DataFrame, dim: int, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Sign-bit binarization of an embedding column — the 1-bit
    quantization behind binary-hash ANN prefilters (Charikar 2002 SimHash
    applied to the vector itself: for unit-ish vectors,
    ``P[sign bits agree] = 1 - angle/pi``, so Hamming distance on the
    sketch estimates angular distance at 1/32 the bytes of fp32).

    Bit ``j`` of the sketch is 1 iff ``vec[j] >= 0``.  Emitted as
    unsigned 32-bit words ``sk0, sk1, ...`` (``ceil(dim/32)`` of them):
    32-term codegen chains per word keep the generated method small, and
    sign-free words are what cross-engine comparison wants (same
    rationale as dedup.py::simhash64 as_halves).

    Scale: pure per-row column expressions — map-side only, stream-safe,
    no shuffle; the 100-TB plan is scan + project.
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    words = []
    for w in range((dim + 31) // 32):
        bits = [
            F.when(F.element_at(F.col(vec_col), j + 1) >= 0,
                   F.lit(1 << (j - 32 * w))).otherwise(F.lit(0))
            for j in range(32 * w, min(32 * w + 32, dim))
        ]
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        words.append(acc.cast("long").alias(f"sk{w}"))
    return spread(df).select(F.col(id_col), *words)


def embedding_hamming_near_dups(df: DataFrame, dim: int,
                                max_hamming: int = 3,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id") -> DataFrame:
    """Near-duplicate pairs by Hamming distance on the sign-bit sketch —
    the cheap binary prefilter stage of an embedding dedup stack (pairs
    it emits are candidates for an exact-cosine verify; at ``dim`` 64,
    hamming<=3 corresponds to angle <~ 8.4 degrees).

    Blocking mirrors dedup.py::simhash_near_dups: the sketch is cut into
    16-bit chunks (two per 32-bit word); by pigeonhole any pair within
    ``max_hamming <= n_chunks - 1`` shares at least one exact chunk, so
    the join is chunk-equality-keyed — Σ|bucket|² work, never all-pairs.
    Raises if ``max_hamming`` exceeds what the chunk count guarantees
    (recall silently lost otherwise).
    """
    n_words = (dim + 31) // 32
    n_chunks = 2 * n_words
    if max_hamming >= n_chunks:
        raise ValueError(
            f"max_hamming={max_hamming} needs >= {max_hamming + 1} chunks "
            f"but dim={dim} only yields {n_chunks}; verify candidates with "
            f"an exact-cosine pass instead of widening the radius")
    sk = embedding_signs(df, dim, vec_col, id_col)
    chunks = F.array(*[
        F.concat(F.lit(f"{2 * w + half}:"),
                 F.shiftright(F.col(f"sk{w}"), 16 * half)
                 .bitwiseAND(F.lit(0xFFFF)).cast("string"))
        for w in range(n_words) for half in (0, 1)
    ])
    cols = [id_col] + [f"sk{w}" for w in range(n_words)]
    blocked = sk.select(*cols, F.explode(chunks).alias("chunk"))
    a, b = blocked.alias("a"), blocked.alias("b")
    hamming = None
    for w in range(n_words):
        term = F.bit_count(F.col(f"a.sk{w}").bitwiseXOR(F.col(f"b.sk{w}")))
        hamming = term if hamming is None else hamming + term
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .where(hamming <= max_hamming)
        .select(F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                hamming.alias("hamming"))
        .distinct()
    )


def rademacher_signs(dim: int, out_dim: int, seed: int = 0) -> list[list[int]]:
    """Deterministic ±1 projection matrix entries: sign(j, i) from the
    low bit of md5(f"{seed}:{i}:{j}") — reproducible across engines and
    sessions with no RNG state (the same fixed-hash trick as
    sampling.py::sample_hash)."""
    import hashlib
    return [
        [1 if int(hashlib.md5(f"{seed}:{i}:{j}".encode())
                  .hexdigest()[:8], 16) & 1 == 0 else -1
         for i in range(dim)]
        for j in range(out_dim)]


def random_projection(df: DataFrame, dim: int, out_dim: int, seed: int = 0,
                      vec_col: str = "embedding",
                      id_col: str = "vec_id") -> DataFrame:
    """Johnson-Lindenstrauss random projection with a Rademacher (±1)
    matrix (Achlioptas 2003: database-friendly random projections —
    sign-only entries preserve pairwise distances in expectation exactly
    like Gaussian ones): ``p_j = (Σ_i ±v_i) / sqrt(out_dim)``.

    The cheap dimensionality-reduction stage in front of ANN / clustering
    at 100 TB: a 64→16 projection cuts every downstream shuffle and
    distance computation 4x for a bounded distortion penalty.

    Implementation is sign-woven add/sub codegen chains (no ±1
    multiplies), one per output dim — pure scan-level expressions, no
    shuffle, stream-safe.  The sign matrix is FIXED given (seed, dims),
    so whole-stage codegen compiles the chains once per query shape (the
    janino-per-call trap only bites literal-parameterized per-round
    expressions).  Because the fold order is the explicit left-to-right
    chain, a SQL oracle weaving the same signs reproduces every output
    BIT-EXACTLY — no rounding needed.

    Output: ``id_col, p00..p{out_dim-1:02d}`` (doubles).
    """
    if dim <= 0 or out_dim <= 0:
        raise ValueError(f"dims must be positive, got {dim}->{out_dim}")
    signs = rademacher_signs(dim, out_dim, seed)
    scale = math.sqrt(out_dim)
    # Two structural choices, both measured on the 64->16 shape:
    # (1) unpack the vector to scalar columns FIRST, then chain over
    #     column refs — inlining element_at into every one of the
    #     dim*out_dim chain terms ran at ~2ms/row; unpacking evaluates
    #     each element once (the embedding_near_dups recipe);
    # (2) build the chains as selectExpr STRINGS — composing 1024 Column
    #     objects cost ~2.7s of DRIVER time per plan build (one py4j
    #     round trip per operator); one parsed select is ~50x cheaper.
    # Values are identical either way: float->double widening is exact,
    # and the parser builds the same left-associative Add tree.
    unpacked = spread(df).selectExpr(id_col, *[
        f"CAST(element_at({vec_col}, {i + 1}) AS DOUBLE) AS __e{i}"
        for i in range(dim)])
    exprs = []
    for j, row in enumerate(signs):
        terms = [f"__e0" if row[0] > 0 else f"- __e0"]
        terms += [f"{'+' if s > 0 else '-'} __e{i}"
                  for i, s in enumerate(row) if i > 0]
        exprs.append(f"({' '.join(terms)}) / {scale!r} AS p{j:02d}")
    return unpacked.selectExpr(id_col, *exprs)


def hard_negatives(df: DataFrame, k: int = 3, n_cells: int = 8,
                   n_iters: int = 2, label_col: str = "label",
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   quantize: int | None = None,
                   centroids: list[list[float]] | None = None,
                   round_to: int | None = 6) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training
    (the in-batch-isn't-enough step of DPR, Karpukhin et al. 2020, and
    every embedding-model pipeline since): for each anchor vector, the
    ``k`` most-cosine-similar vectors with a DIFFERENT ``label_col`` —
    the negatives the model currently confuses with positives.

    Scale contract mirrors :func:`semantic_dedup`: candidates are
    bounded to the anchor's k-means cell (``sum(|cell|^2)`` pair work,
    never corpus²; hard negatives are by definition nearby, so the cell
    bound is the operating recall contract — raise ``n_cells`` with
    corpus size like any IVF).  One cell-keyed pair shuffle + one
    anchor-keyed window shuffle.  The assignment table is
    localCheckpointed so both join sides share one computation.

    ``round_to`` rounds cosines BEFORE ranking (ties → smaller neg id)
    so the cut is reproducible cross-engine; rows with NULL labels never
    pair (``!=`` is NULL).  Centroids may be passed in to reuse a
    memoized deterministic :func:`ivf_build`.

    Output: ``anchor_id, neg_id, cosine, neg_rank`` (1..k per anchor).
    """
    cents = centroids if centroids is not None else ivf_build(
        df, n_cells, n_iters, vec_col, id_col, quantize)
    assigned = (ivf_assign(spread(df), cents, vec_col)
                .select(F.col(id_col), F.col(vec_col), F.col(label_col),
                        F.col("__cell"), norm(vec_col).alias("__n"))
                .localCheckpoint())
    a = assigned.select(F.col(id_col).alias("anchor_id"),
                        F.col(vec_col).alias("__va"),
                        F.col(label_col).alias("__la"),
                        "__cell", F.col("__n").alias("__na"))
    b = assigned.select(F.col(id_col).alias("neg_id"),
                        F.col(vec_col).alias("__vb"),
                        F.col(label_col).alias("__lb"),
                        "__cell", F.col("__n").alias("__nb"))
    sim = F.try_divide(dot("__va", "__vb"), F.col("__na") * F.col("__nb"))
    if round_to is not None:
        sim = F.round(sim, round_to)
    pairs = (a.join(b, "__cell")
             .where(F.col("__la") != F.col("__lb"))
             .select("anchor_id", "neg_id", sim.alias("cosine")))
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"),
                                                F.col("neg_id"))
    return (pairs.withColumn("neg_rank", F.row_number().over(w))
            .where(F.col("neg_rank") <= int(k)))


def ivf_knn_join(df: DataFrame, queries: DataFrame,
                 centroids: list[list[float]], k: int = 10,
                 nprobe: int = 2, vec_col: str = "embedding",
                 id_col: str = "vec_id", q_id_col: str = "q_id",
                 q_vec_col: str = "q_vec",
                 round_to: int | None = None) -> DataFrame:
    """IVF approximate k-NN for a query SET — the multi-query sibling of
    :func:`ivf_topk`, with probe selection IN-PLAN so the query side can
    be thousands of rows, not a driver-side literal.

    Per query, the ``nprobe`` nearest centroids are ranked on a
    queries x cells cross of two tiny frames; corpus rows (map-side
    ``ivf_assign``, zero shuffle) then BROADCAST-join the probe table on
    the cell key, so each corpus row is scored only against queries
    probing its cell — Σ|cell|·|queries probing it| work, never
    corpus x queries.  The only exchange is the per-query top-k window
    on ``q_id``.  Same tie-breaks as ``ivf_topk``/``knn_join``
    (probe ties to the larger cell, rank ties to the smaller corpus id);
    ``round_to`` pins the neighbor cut cross-engine.
    """
    assigned = ivf_assign(df, centroids, vec_col)
    cdf = df.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        f"__cell int, __cvec array<double>")
    pw = Window.partitionBy(q_id_col).orderBy(F.desc("__csim"),
                                              F.desc("__cell"))
    probes = (queries.crossJoin(cdf)
              .select(F.col(q_id_col), F.col(q_vec_col), F.col("__cell"),
                      F.coalesce(cosine(q_vec_col, "__cvec"),
                                 F.lit(-2.0)).alias("__csim"))
              .withColumn("__r", F.row_number().over(pw))
              .where(F.col("__r") <= nprobe)
              .select(q_id_col, q_vec_col, "__cell"))
    sim = cosine(vec_col, q_vec_col)
    if round_to is not None:
        sim = F.round(sim, round_to)
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"),
                                             F.col(id_col))
    return (assigned.join(F.broadcast(probes), "__cell")
            .select(F.col(q_id_col), F.col(id_col), sim.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _lsum(vals) -> float:
    """Left-fold float sum — mirrors DuckDB ``list_sum`` over a list
    comprehension (and Spark's left-associative ``+`` chains), so the
    driver-side PCA math below reproduces the oracle's doubles bit-for-
    bit (the jl_projection recipe: same fold order == same doubles)."""
    s = 0.0
    for v in vals:
        s = s + v
    return s


def pca_fit(df: DataFrame, vec_col: str = "embedding",
            id_col: str = "vec_id", dim: int | None = None,
            n_components: int = 2, iters: int = 20):
    """Fit principal components by power iteration with deflation
    (Hotelling 1933; the deterministic-arithmetic PCA a 100-TB corpus
    can replay): returns ``(mu, components, eigenvalues, n)``.

    Distributed part — ONE pass, ONE bounded shuffle: per row, explode
    ``(i, j, m_i*m_j)`` micro-int products for ``i <= j`` (plus first
    moments and a count cell) and ``groupBy(i, j).sum``.  Partial
    aggregation collapses each partition to d(d+1)/2 + d + 1 cells
    before the exchange, so the shuffle is O(d²·partitions) rows no
    matter the corpus.  The driver pull is d(d+3)/2 + 1 BIGINTs — the
    same O(small) contract as the k-means centroid collect.

    Determinism: values are pinned to 6 decimals then accumulated as
    exact integers (order-independent — micro-unit products up to
    1e12/row; at >1e6 rows switch the sums to DECIMAL(38,0), noted
    here rather than paid everywhere).  The driver-side covariance,
    power iteration (fixed ``iters``, v0 = 1/sqrt(d)), per-step
    normalization, sign pinning (first index of max |v_i| made
    positive) and deflation use only left-fold float ops, so a SQL
    replay of the identical recipe (recursive CTE carrying v as a
    LIST) lands on the identical doubles.
    """
    if n_components < 1:
        raise ValueError(f"n_components must be >= 1, got {n_components}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    d = dim or df.select(F.size(vec_col)).first()[0]
    mm = (f"transform({vec_col}, x -> CAST(round(round(CAST(x AS DOUBLE),"
          f" 6) * 1000000.0) AS BIGINT))")
    cells = (
        "explode(concat("
        "array(named_struct('i', 0, 'j', 0, 'p', 1L)), "
        f"transform(sequence(1, {d}), i -> "
        "named_struct('i', i, 'j', 0, 'p', element_at(__m, i))), "
        f"flatten(transform(sequence(1, {d}), i -> "
        f"transform(sequence(i, {d}), j -> named_struct("
        "'i', i, 'j', j, 'p', element_at(__m, i) * element_at(__m, j)"
        "))))))")
    rows = (spread(df).where(F.size(vec_col) == d)
            .selectExpr(f"{mm} AS __m")
            .selectExpr(f"{cells} AS s")
            .groupBy("s.i", "s.j").agg(F.sum("s.p").alias("v"))
            .collect())
    cell = {(r["i"], r["j"]): r["v"] for r in rows}
    n = cell[(0, 0)]
    mu = [float(cell[(i, 0)]) / (n * 1e6) for i in range(1, d + 1)]
    cov = [[0.0] * d for _ in range(d)]
    for i in range(1, d + 1):
        for j in range(i, d + 1):
            c = (float(cell[(i, j)]) / (n * 1e12)
                 - mu[i - 1] * mu[j - 1])
            cov[i - 1][j - 1] = c
            cov[j - 1][i - 1] = c
    comps, lams = [], []
    for _ in range(n_components):
        v = [1.0 / math.sqrt(float(d))] * d
        for _t in range(iters):
            w = [_lsum(cov[i][j] * v[j] for j in range(d))
                 for i in range(d)]
            nrm = math.sqrt(_lsum(x * x for x in w))
            v = [x / nrm for x in w]
        mx = max(abs(x) for x in v)
        if v[[abs(x) for x in v].index(mx)] < 0:
            v = [-x for x in v]
        lam = _lsum(v[i] * _lsum(cov[i][j] * v[j] for j in range(d))
                    for i in range(d))
        comps.append(v)
        lams.append(lam)
        cov = [[cov[i][j] - lam * v[i] * v[j] for j in range(d)]
               for i in range(d)]
    return mu, comps, lams, n


def pca_project(df: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id", dim: int | None = None,
                n_components: int = 2, iters: int = 20) -> DataFrame:
    """Project every vector onto the corpus' leading principal
    components: ``(id_col, pc1..pc{k})`` — the decorrelated,
    variance-ranked coordinates that front ANN / clustering /
    drift monitoring at scale (where :func:`random_projection` is the
    oblivious cheap cut, this is the data-aware one).

    Fit via :func:`pca_fit` (one bounded-shuffle pass + O(d²) driver
    math); the projection itself inlines ``mu``/component literals
    into explicit left-associative chains over unpacked scalar columns
    (the jl_projection recipe — one parsed select, scan-level codegen,
    no shuffle, stream-safe), so scoring adds NOTHING to the shuffle
    plan and the SQL twin replaying the fit lands on identical doubles.
    """
    d = dim or df.select(F.size(vec_col)).first()[0]
    mu, comps, _lams, _n = pca_fit(df, vec_col, id_col, d,
                                   n_components, iters)
    unpacked = spread(df).where(F.size(vec_col) == d).selectExpr(
        id_col, *[f"round(CAST(element_at({vec_col}, {i + 1}) AS DOUBLE),"
                  f" 6) AS __e{i}" for i in range(d)])
    projs = []
    for c, v in enumerate(comps):
        terms = " + ".join(f"((__e{i} - {mu[i]!r}) * {v[i]!r})"
                           for i in range(d))
        projs.append(f"round({terms}, 6) AS pc{c + 1}")
    return unpacked.selectExpr(id_col, *projs)


def quantize_int8(df: DataFrame, dim: int, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric absmax int8 quantization of an embedding column — the
    standard 4x storage/bandwidth cut for vector stores (Jacob et al.
    2018's symmetric per-tensor scheme, applied per vector): ``scale =
    max|v| / 127``; ``code_i = floor(v_i / scale * 127 / max|v| ...``
    precisely: ``code_i = floor(v_i * 127 / absmax + 0.5)`` — one
    double multiply/divide then ``floor(x + 0.5)``, which is
    deterministic in IEEE doubles on ANY engine (unlike ``round()``,
    whose near-tie behavior differs between BigDecimal-exact and
    float-space implementations — the recipe-#5 family of bugs).

    All-zero vectors quantize to all-zero codes with ``absmax = 0``
    (no division happens: the code expression is guarded).  Scan-level
    column expressions only — no shuffle, stream-safe; codes are
    emitted as one comma-joined string (``codes``) plus ``absmax``
    rounded to 6, because scalar columns are what cross-engine
    comparison hashes (array cells don't hash).

    De-quantization is ``code * absmax / 127`` with worst-case error
    ``absmax / 254`` per component — the documented contract; pair with
    :func:`cosine_topk` re-ranking over the fp32 originals for
    recall-critical paths.
    """
    if dim <= 0:
        raise ValueError(f"dim must be positive, got {dim}")
    v = F.col(vec_col)
    absmax = F.aggregate(
        v, F.lit(0.0),
        lambda a, x: F.greatest(a, F.abs(x.cast("double"))))
    code = F.transform(
        v, lambda x: F.when(
            F.col("__am") > 0,
            F.floor(x.cast("double") * 127 / F.col("__am") + 0.5)
            .cast("int")).otherwise(F.lit(0)).cast("string"))
    return (spread(df)
            .where(F.size(v) == dim)
            .withColumn("__am", absmax)
            .select(F.col(id_col),
                    F.round(F.col("__am"), 6).alias("absmax"),
                    F.concat_ws(",", code).alias("codes")))
