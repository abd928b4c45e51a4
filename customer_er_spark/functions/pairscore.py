"""Broadcast-matrix pair scoring for candidate-pair re-score stages.

The guide-§8 lesson applied to ANN/MinHash verification: every scoring
decision depends only on (id_l, id_r) plus a per-id fixed-width signature
row (64 doubles, 128 int64s) — never on anything pair-specific.  Joining
the signature table onto tens of millions of candidate pairs ships the
wide rows through two shuffles and evaluates a several-hundred-node
expression tree per pair (the unrolled IEEE dot product is deliberately
order-pinned for the DuckDB oracle, which makes it a CodegenFallback-sized
expression — measured 54 s of the 79.6 s lsh_topk wall at sf1.0 was this
one stage).  Instead: collect the BOUNDED signature matrix once (limit
max_rows + 1, the same driver-bound pattern as components.py's CC probe),
broadcast it, and score each Arrow batch of 16-byte pair rows with
vectorized numpy whose accumulation order is BIT-IDENTICAL to the pinned
expression (see below).  Callers fall back to the join path when the
matrix exceeds the bound, so the 100 TB shape is unchanged: pairs stay
narrow, the matrix bound is an explicit knob, and oversized tables take
the old wide-join plan.

Bit-exactness contract (oracle-critical):
  * cosine: _dot_unrolled/_norm2_unrolled build terms[0] + terms[1] + ...
    left-to-right over double-cast elements.  The numpy kernel reproduces
    that exact IEEE chain: elementwise float64 products, then an explicit
    per-dimension accumulation loop acc += prod[:, i] — same order, same
    rounding, bit-identical to the Catalyst chain.  float32 -> float64
    conversion is exact; np.sqrt and '/' are correctly rounded like their
    JVM counterparts.
  * MinHash Jaccard: the aggregate(zip_with(...)) chain sums 0.0/1.0
    doubles (exact integers <= num_hashes, every partial sum exactly
    representable) then divides — equal to count_equal / num_hashes
    computed here.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# LongType only: the scored output declares `long` id columns, so any other
# id type must take the join fallback to keep the caller's schema unchanged.
_INTEGRAL = (T.LongType,)


def collect_bounded_matrix(
    df: DataFrame, id_col: str, arr_col: str, dtype, max_rows: int
) -> tuple[np.ndarray, np.ndarray] | None:
    """(sorted ids, matrix rows in id order), or None when the table
    exceeds max_rows (caller falls back to the join path) or the id column
    is not integral (searchsorted addressing needs a numeric key).  Raises
    ValueError on a null or ragged array row: every caller's column comes
    from a fixed-width signature or vector."""
    id_field = df.schema[id_col].dataType
    if not isinstance(id_field, _INTEGRAL):
        return None
    # Arrow-native collect: no per-row Python conversion (vectorized
    # flatten+reshape of the list column; ~2 s -> ~0.2 s at 50k x 128)
    tbl = df.select(id_col, arr_col).limit(max_rows + 1).toArrow()
    tbl = tbl.combine_chunks()
    n = tbl.num_rows
    if n > max_rows:
        return None
    ids = tbl.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
    if n == 0:
        return ids, np.zeros((0, 0), dtype=dtype)
    col = tbl.column(1)
    arr = col.chunk(0) if col.num_chunks else col.combine_chunks()
    flat = arr.flatten()
    widths = np.diff(arr.offsets.to_numpy(zero_copy_only=False))
    if arr.null_count or flat.null_count or (widths != widths[0]).any():
        raise ValueError(
            f"{arr_col}: null or ragged rows; every row must be one "
            "fixed-width array"
        )
    mat = flat.to_numpy(zero_copy_only=False).astype(dtype).reshape(
        n, int(widths[0])
    )
    order = np.argsort(ids)
    return ids[order], mat[order]


def _rows_of(ids: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Matrix row of every id in v; raises on an id the matrix lacks
    (searchsorted alone would silently address its neighbour)."""
    idx = np.searchsorted(ids, v)
    hit = idx < len(ids)
    hit[hit] = ids[idx[hit]] == v[hit]
    if not hit.all():
        raise ValueError(
            f"ids missing from the broadcast matrix: {v[~hit][:5].tolist()}"
        )
    return idx


def ordered_norms(mat: np.ndarray) -> np.ndarray:
    """sqrt of the left-to-right sum of squares per row — bit-identical to
    sqrt(_norm2_unrolled(...))'s chained adds."""
    if mat.shape[0] == 0:
        return np.zeros(0, dtype=np.float64)
    sq = mat * mat
    acc = sq[:, 0].copy()
    for i in range(1, mat.shape[1]):
        acc += sq[:, i]
    return np.sqrt(acc)


def cosine_pair_scores(
    spark,
    cand: DataFrame,
    ids: np.ndarray,
    mat: np.ndarray,
    l_col: str = "query_id",
    r_col: str = "neighbor_id",
    out_col: str = "cos",
    mirror: bool = False,
) -> DataFrame:
    """cand(l_col, r_col) -> same columns + unrounded cosine, scored against
    the broadcast (ids, mat) matrix with the order-pinned IEEE chain.

    mirror=True emits BOTH directions of each input pair with one scoring
    pass — for symmetric candidate sets (undirected LSH pairs) this halves
    the gather/accumulate work AND lets the caller feed the pair subtree
    into the plan once instead of union-ing two copies of it.  Exact by
    symmetry: per-dimension products commute bitwise and the accumulation
    order over dimensions is unchanged, so cos(a,b) == cos(b,a).

    (A per-task partial-top-k prefilter ahead of the caller's rank window
    was prototyped and measured NEUTRAL-to-worse at sf1.0 — the 29M-row
    window costs less than the per-task accumulate+lexsort — so the
    scorer stays a pure streaming map; see OPTIMIZATION_r08.md.)

    mapInArrow, not mapInPandas: the scorer touches nothing pandas can add
    — measured 9.3–19.4 s (pandas) vs 2.7–3.0 s (arrow) for the same 21.7M
    checkpointed pairs; the per-batch Series/DataFrame round-trip was most
    of the stage."""
    import pyarrow as pa

    nrm = ordered_norms(mat)
    b = spark.sparkContext.broadcast((ids, mat, nrm))
    dim = mat.shape[1]
    schema = f"{l_col} long, {r_col} long, {out_col} double"

    def score(batches):
        ids_, mat_, nrm_ = b.value
        for rb in batches:  # column order fixed by the select() below
            lv = rb.column(0).to_numpy(zero_copy_only=False)
            rv = rb.column(1).to_numpy(zero_copy_only=False)
            li = _rows_of(ids_, lv)
            ri = _rows_of(ids_, rv)
            prod = mat_[li] * mat_[ri]
            if rb.num_rows:
                acc = prod[:, 0].copy()
                for i in range(1, dim):
                    acc += prod[:, i]
                cos = acc / (nrm_[li] * nrm_[ri])
            else:
                cos = np.zeros(0, dtype=np.float64)
            if mirror:
                lv, rv, cos = (
                    np.concatenate([lv, rv]),
                    np.concatenate([rv, lv]),
                    np.concatenate([cos, cos]),
                )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(lv, type=pa.int64()),
                    pa.array(rv, type=pa.int64()),
                    pa.array(cos, type=pa.float64()),
                ],
                names=[l_col, r_col, out_col],
            )

    return cand.select(l_col, r_col).mapInArrow(score, schema=schema)


def equality_fraction_pair_scores(
    spark,
    cand: DataFrame,
    ids: np.ndarray,
    mat: np.ndarray,
    denom: int,
    l_col: str = "id_l",
    r_col: str = "id_r",
    out_col: str = "jacc",
) -> DataFrame:
    """cand(l_col, r_col) -> same + fraction of equal signature positions
    (the MinHash Jaccard estimate), scored against the broadcast matrix.
    mapInArrow for the same reason as cosine_pair_scores."""
    import pyarrow as pa

    b = spark.sparkContext.broadcast((ids, mat))
    schema = f"{l_col} long, {r_col} long, {out_col} double"

    def score(batches):
        ids_, mat_ = b.value
        for rb in batches:  # column order fixed by the select() below
            lv = rb.column(0).to_numpy(zero_copy_only=False)
            rv = rb.column(1).to_numpy(zero_copy_only=False)
            eq = (
                (mat_[_rows_of(ids_, lv)] == mat_[_rows_of(ids_, rv)])
                .sum(axis=1)
                .astype(np.float64)
                if rb.num_rows
                else np.zeros(0, dtype=np.float64)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(lv, type=pa.int64()),
                    pa.array(rv, type=pa.int64()),
                    pa.array(eq / float(denom), type=pa.float64()),
                ],
                names=[l_col, r_col, out_col],
            )

    return cand.select(l_col, r_col).mapInArrow(score, schema=schema)
