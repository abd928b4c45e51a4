"""Similarity search over an embedding column (array<float>).

Two paths, same result contract (query_id, neighbor_id, cos, rank):

  brute_force_topk   exact: cross join + JVM-side dot product.  The dot
                     product is built as an UNROLLED sum of per-dimension
                     products in a fixed left-to-right order so the duckdb
                     oracle replays bit-identical IEEE arithmetic.
  lsh_topk           scale path: random-hyperplane LSH buckets (SimHash for
                     vectors) restrict the candidate set; same scoring.
                     Probabilistic recall, measured against brute force in
                     tests.
  ivf_topk           scale path #2: IVF (inverted-file) — deterministic
                     Lloyd k-means coarse quantizer, queries probe their
                     n_probe nearest cells, exact re-scoring within the
                     probed cells.  The standard layout for billion-vector
                     ANN (FAISS-style), complementary to LSH: recall is
                     controlled by n_probe instead of table count.

At 10^12 scale brute force is O(n^2) and exists as the correctness oracle;
the LSH path shuffles each vector's ID to b bucket keys and expands pairs
through the engine's salted kernel (operators/banded.py): hot buckets
(e.g. a zero-vector or boilerplate-embedding flood that lands every row in
one bucket) degrade to O(m * max_bucket_size) candidate volume instead of
going quadratic, and the wide embedding arrays are joined back only onto
the (small) distinct candidate set — never shuffled with the bucket rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customer_er_spark.operators.materialize import materialize, owned, shared


def _dot_unrolled(left: str, right: str, dim: int) -> Column:
    terms = [
        F.element_at(left, i + 1).cast("double")
        * F.element_at(right, i + 1).cast("double")
        for i in range(dim)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def _norm2_unrolled(col: str, dim: int) -> Column:
    terms = [
        F.element_at(col, i + 1).cast("double") * F.element_at(col, i + 1).cast("double")
        for i in range(dim)
    ]
    acc = terms[0]
    for t in terms[1:]:
        acc = acc + t
    return acc


def brute_force_topk(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every vector (excluding itself)."""
    base = embeddings.select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    ).withColumn("nrm", F.sqrt(_norm2_unrolled("vec", dim)))
    q = base.select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = base.select(
        F.col("vid").alias("neighbor_id"),
        F.col("vec").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        q.crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", _dot_unrolled("qv", "cv", dim) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
    )


def _cosine_scored(
    spark,
    cand: DataFrame,
    base: DataFrame,
    dim: int,
    max_rows: int,
    mirror: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id) candidates -> + unrounded `cos`.

    Broadcast-matrix Arrow scoring when the vector table fits the bound
    (bit-identical to the unrolled Catalyst chain — functions/pairscore.py
    docstring carries the proof); otherwise the wide-join fallback with
    the pinned _dot_unrolled expression.  base must expose (vid, vec).
    mirror=True: cand carries each unordered pair ONCE and the output
    covers both directions (one scoring pass; one pair subtree in the
    plan instead of a union of two copies)."""
    from customer_er_spark.functions.pairscore import (
        collect_bounded_matrix,
        cosine_pair_scores,
    )

    matrix = collect_bounded_matrix(base, "vid", "vec", np.float64, max_rows)
    if matrix is not None:
        return cosine_pair_scores(
            spark, cand, matrix[0], matrix[1], mirror=mirror
        )
    if mirror:  # directed fallback: the join path scores per directed row
        cand = cand.unionAll(
            cand.select(
                F.col("neighbor_id").alias("query_id"),
                F.col("query_id").alias("neighbor_id"),
            )
        )
    with_nrm = base.withColumn("nrm", F.sqrt(_norm2_unrolled("vec", dim)))
    q = with_nrm.select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = with_nrm.select(
        F.col("vid").alias("neighbor_id"),
        F.col("vec").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    return (
        cand.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "cos", _dot_unrolled("qv", "cv", dim) / (F.col("qn") * F.col("cn"))
        )
        .select("query_id", "neighbor_id", "cos")
    )


def hyperplane_keys(dim: int, n_planes: int, n_tables: int, seed: int = 17) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_tables, n_planes, dim))


def lsh_topk(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    seed: int = 17,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 256,
    shuffle_partitions: int | None = None,
    broadcast_score_max_rows: int = 1_000_000,
) -> DataFrame:
    """Approximate top-k: random-hyperplane buckets (n_tables independent
    tables of n_planes bits), candidates = same bucket in any table.

    Hot buckets are sub-salted through operators/banded.banded_pairs (a
    degenerate bucket — zero vectors, boilerplate embeddings — stays
    O(m * max_bucket_size)); recall tolerates the per-bucket sampling
    because candidates only need to survive in ONE of the n_tables
    independent tables.  Only (id, bucket) rows are shuffled; candidates
    are re-scored against a BOUNDED broadcast of the vector matrix
    (functions/pairscore.py — bit-identical IEEE chain, measured 54 s ->
    ~1 s on the 14.5M-candidate sf1.0 bench stage); tables over
    `broadcast_score_max_rows` (~0.5 GB at dim 64) fall back to joining
    the vectors onto the distinct candidate pairs, the prior plan.
    shuffle_partitions=None uses the session's spark.sql.shuffle.partitions.

    The output is an operators/materialize cut, persisted and owned by
    the caller (free it with unpersist()).  Everything cached to build it
    is released before return."""
    from customer_er_spark.operators.banded import banded_pairs

    planes = hyperplane_keys(dim, n_planes, n_tables, seed)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        out = []
        signs = np.einsum("tpd,nd->ntp", planes, m) > 0  # (n, tables, planes)
        weights = 1 << np.arange(n_planes)
        codes = (signs * weights).sum(axis=2)  # (n, tables)
        for row in codes:
            out.append([int(t) * (1 << n_planes) + int(c) for t, c in enumerate(row)])
        return pd.Series(out)

    from customer_er_spark.functions.partitioning import fan_out, shuffle_width

    shuffle_partitions = shuffle_width(embeddings, shuffle_partitions)
    # adaptive fan-out before the bucket UDF: a compact parquet input (one
    # row group) otherwise runs the whole Python stage on ONE task (same
    # lesson as signatures.compute_signatures); no-op on well-split scans.
    base = fan_out(
        embeddings.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        ),
        shuffle_partitions,
        "vid",
    )
    with owned():
        # shared: referenced by the banding pass and the scorer (broadcast
        # collect or both verify join sides)
        base = shared(base)
        bands = base.select(
            "vid", F.explode(bucket_udf(F.col("vec"))).alias("band_key")
        )
        upairs, _stats = banded_pairs(
            bands,
            id_col="vid",
            max_band_size=max_bucket_size,
            shuffle_partitions=shuffle_partitions,
        )
        # candidates are directed (each member of a pair queries the other);
        # the scorer mirrors each undirected pair itself, so the pair subtree
        # enters the plan ONCE (a unionAll of two projections of `upairs`
        # would compute the expansion+distinct twice — no exchange reuse)
        scored = _cosine_scored(
            embeddings.sparkSession,
            upairs.select(
                F.col("id_l").alias("query_id"), F.col("id_r").alias("neighbor_id")
            ),
            base,
            dim,
            broadcast_score_max_rows,
            mirror=True,
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        return materialize(  # n*k rows — small
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
        )


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 64,
    dim: int = 64,
    iters: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train: int = 65536,
    seed: int = 0x1F5EED,
    oversample: float = 1.25,
) -> np.ndarray:
    """Deterministic sample-trained Lloyd k-means coarse quantizer:
    (n_centroids, dim).

    FAISS-style training discipline: the quantizer is a CONSTANT-size model,
    so it trains on a bounded deterministic sample — never the full table
    (round-3 verdict: the previous version ran `iters` full-table assignment
    passes plus a dim-x posexplode shuffle per iteration; at 100 TB that is
    5 full scans to fit a few-KB model).  Spark-side cost here is exactly:

      1 metadata-cheap count()  (parquet scans answer counts from footers)
      1 column-pruned scan      filter h <= threshold on h = xxhash64(seed,
                                id) — a CONTENT hash, so the sampled set is
                                independent of partitioning/file layout
                                (test_ivf_kmeans_deterministic) — collecting
                                ~oversample*max_train (id, vec) rows.

    Everything else is driver-side numpy on the <= max_train sample
    (65536 x 64 doubles = 32 MB): k-means++ init (seeded rng over the
    hash-sorted sample — deterministic), Lloyd to convergence.  Ragged or
    short vectors raise loudly instead of silently skewing centroids.
    """
    n = embeddings.select(F.col(id_col)).count()
    if n == 0:
        raise ValueError("cannot train a quantizer on an empty table")
    frac = min(1.0, oversample * max_train / n)
    h = F.xxhash64(F.lit(seed), F.col(id_col))
    # signed-64 quantile threshold: keep rows whose uniform hash falls in
    # the lowest `frac` of the range
    if frac >= 1.0:
        thresh = (1 << 63) - 1
    else:
        thresh = int(-(1 << 63) + frac * (1 << 64))
    rows = (
        embeddings.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), h.alias("h")
        )
        .where(F.col("h") <= F.lit(thresh))
        .collect()
    )
    # driver-side deterministic order + hard cap (binomial overshoot of the
    # expected oversample*max_train rows is trimmed by hash rank)
    rows.sort(key=lambda r: (r["h"], r["vid"]))
    rows = rows[:max_train]
    if not rows:  # pathological tiny-frac rounding: fall back to min-hash row
        rows = embeddings.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"), h.alias("h")
        ).orderBy("h", "vid").limit(max_train).collect()
    lens = {len(r["vec"]) for r in rows}
    if lens != {dim}:
        raise ValueError(
            f"embedding vectors must all have dim={dim}; sample saw lengths "
            f"{sorted(lens)[:5]}"
        )
    x = np.array([r["vec"] for r in rows], dtype=np.float64)
    n_centroids = min(n_centroids, x.shape[0])

    # k-means++ init (Arthur & Vassilvitskii '07) on the deterministic
    # sample; rng is seeded and the sample order is content-stable, so the
    # model is identical across runs and partitionings
    rng = np.random.default_rng(seed)
    cents = np.empty((n_centroids, dim))
    cents[0] = x[int(rng.integers(x.shape[0]))]
    d2 = ((x - cents[0]) ** 2).sum(axis=1)
    for i in range(1, n_centroids):
        total = d2.sum()
        if total <= 0.0:  # degenerate sample (duplicate flood): spread
            idx = int(rng.integers(x.shape[0]))  # uniformly instead
        else:
            idx = int(rng.choice(x.shape[0], p=d2 / total))
        cents[i] = x[idx]
        d2 = np.minimum(d2, ((x - cents[i]) ** 2).sum(axis=1))

    for _ in range(iters):
        # ||v - c||^2 = ||v||^2 - 2 v.c + ||c||^2; ||v||^2 constant per row
        d = -2.0 * (x @ cents.T) + (cents * cents).sum(axis=1)[None, :]
        cell = np.argmin(d, axis=1)
        new = cents.copy()
        for c in range(n_centroids):
            m = cell == c
            if m.any():
                new[c] = x[m].mean(axis=0)
        if np.allclose(new, cents, atol=1e-12):
            break
        cents = new
    return cents


def _stack_checked(vecs: pd.Series, dim: int) -> np.ndarray:
    """np.stack with a loud uniform-length check: a ragged or short vector
    must fail the job, not silently mis-assign (np.stack on ragged input
    raises an opaque shape error or, worse, builds an object array)."""
    bad = [len(v) for v in vecs if len(v) != dim]
    if bad:
        raise ValueError(
            f"embedding vectors must all have dim={dim}; batch saw lengths "
            f"{sorted(set(bad))[:5]}"
        )
    return np.stack([np.asarray(v, dtype=np.float64) for v in vecs])


def _assign_cells_udf(cents: np.ndarray):
    """pandas UDF: vector -> nearest centroid id (squared-L2 argmin,
    vectorized over the Arrow batch)."""
    c = cents.copy()
    c2 = (c * c).sum(axis=1)
    dim = c.shape[1]

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = _stack_checked(vecs, dim)
        # ||v - c||^2 = ||v||^2 - 2 v.c + ||c||^2; ||v||^2 constant per row
        d = -2.0 * (m @ c.T) + c2[None, :]
        return pd.Series(np.argmin(d, axis=1).astype(np.int32))

    return assign


def _probe_cells_udf(cents: np.ndarray, n_probe: int):
    """pandas UDF: vector -> its n_probe nearest centroid ids."""
    c = cents.copy()
    c2 = (c * c).sum(axis=1)
    dim = c.shape[1]

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        m = _stack_checked(vecs, dim)
        d = -2.0 * (m @ c.T) + c2[None, :]
        idx = np.argsort(d, axis=1)[:, :n_probe]
        return pd.Series([row.astype(np.int32).tolist() for row in idx])

    return probe


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_centroids: int = 64,
    n_probe: int = 8,
    iters: int = 25,
    cell_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train: int = 65536,
) -> DataFrame:
    """Approximate top-k via IVF: (query_id, neighbor_id, cos, rank).

    Every vector is assigned to its nearest k-means cell (the inverted
    file); each query probes its n_probe nearest cells and re-scores the
    members EXACTLY (same unrolled-IEEE cosine as brute_force_topk, so
    every returned value is exact — only the candidate set is approximate).

    Scale shape: the (id, cell) assignment is 12 bytes/row; vectors join
    back onto the candidate pairs only.  Expected cell size is n/n_centroids
    — pick n_centroids ~ sqrt(n) so both the probe fan-out and the cell
    scan stay O(sqrt(n)) per query.  Degenerate cells (a flood of identical
    vectors quantizes to ONE cell) are capped at cell_cap members by a
    deterministic hash ranking — each query still sees >= cell_cap
    candidates from that cell (documented recall trade, same policy as the
    salted LSH kernel; for top-k a capped flood cell still fills all k
    slots with exact duplicates).

    Training cost is constant, not table-sized: the quantizer fits on a
    bounded deterministic sample (max_train rows; see kmeans_centroids) —
    one cheap count + one pruned sample scan, zero full-table passes.
    The output is a materialize cut, owned as in lsh_topk."""
    cents = kmeans_centroids(
        embeddings, n_centroids, dim, iters, id_col, vec_col, max_train=max_train
    )
    from customer_er_spark.functions.partitioning import fan_out, shuffle_width

    # same adaptive fan-out + broadcast-scorer shape as lsh_topk, to the
    # session's shuffle width
    base = fan_out(
        embeddings.select(
            F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
        ),
        shuffle_width(embeddings),
        "vid",
    )
    with owned():
        base = shared(base)

        assigned = base.withColumn("cell", _assign_cells_udf(cents)(F.col("vec")))
        # cap degenerate cells: deterministic hash ranking, bounded members
        wcell = Window.partitionBy("cell").orderBy(F.xxhash64("vid"), F.col("vid"))
        members = (
            assigned.withColumn("rn", F.row_number().over(wcell))
            .where(F.col("rn") <= cell_cap)
            .select("cell", F.col("vid").alias("neighbor_id"))
        )
        probes = base.select(
            F.col("vid").alias("query_id"),
            F.explode(_probe_cells_udf(cents, n_probe)(F.col("vec"))).alias("cell"),
        )
        cand = (
            probes.join(members, "cell")
            .where(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        scored = _cosine_scored(
            embeddings.sparkSession, cand, base, dim, max_rows=1_000_000
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        return materialize(
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"), "rank")
        )
