"""Exact cosine-threshold similarity join (AllPairs/PPJoin prefix filter).

The training-data dedup family's "embedding-cosine near-dup" member: given
documents, derive a hashed word-n-gram count vector per doc (the classic
hashing-trick embedding — fastText / VW style) and emit EVERY unordered pair
whose cosine similarity meets a threshold, with the exact cosine.

Unlike the probabilistic blockers in this engine (MinHash, SimHash,
hyperplane ANN), this join is COMPLETE BY CONSTRUCTION — no recall knob:

  prefix-filter bound (Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity
  Search", WWW'07; PPJoin, Xiao et al., WWW'08).  Sort each vector's
  features by ascending document frequency (rarest first, ties by feature
  id) and index the shortest prefix whose squared mass reaches
  (1 - t^2) * ||x||^2.  For the unindexed suffix U the choice guarantees
  ||x_U||^2 < t^2 * ||x||^2 STRICTLY (the prefix rule admits one more
  feature on boundary equality, and integer weights make the final step
  positive), so if a pair shares NO indexed feature of x then by
  Cauchy-Schwarz dot(x, y) <= ||x_U|| * ||y|| < t * ||x|| * ||y||, i.e.
  cos < t.  The argument is symmetric, so every qualifying pair shares a
  feature indexed by BOTH sides — a prefix-prefix self-join over indexed
  (feature, id) rows is a complete candidate set.

Why df-ascending prefixes matter: candidates are pairs colliding on a
PREFIX feature, and prefixes are each vector's RAREST features, so the
self-join fans out on low-df keys.  Measured on the driver corpus (word
3-grams, dim 16384, t=0.9): 396 candidates vs 124,750 brute-force pairs at
500 docs (315x), 190k vs 12.5M at 5,000 docs (65x), both with 0 misses.

Exactness and floods: candidate expansion runs through the engine's one
salted banded kernel (operators/banded.py).  Buckets at or under
max_band_size expand completely, so the join is exact whenever no prefix
feature occurs in more than max_band_size prefixes (driver corpus max: 3 at
sf0.01, 19 at sf0.1, vs the default cap 256).  A prefix-feature flood
degrades gracefully instead of going O(m^2) — pairs may be MISSED there,
never wrongly emitted (every candidate is exactly re-scored, so precision
is 1.0 unconditionally), and every degraded bucket is recorded in the
band_stats audit.  A flood of mutual near-dups has a quadratic TRUE pair
set, so any exact algorithm is Omega(m^2) there — cluster via
dedup_clusters on the chained output instead, or raise max_band_size.

Scale shape (100 TB): two hash aggregates (per-doc feature counts, global
feature df — the standard corpus-stats pass), one per-doc window (partition
by doc id: never skewed beyond doc length), the banded kernel's single
exchange + distinct, and a re-score join keyed on (pair, feature) touching
only candidate pairs.  Integer weights keep dot products and norms exact in
doubles (counts < 2^26, dims 64 products of < 2^52), so the emitted cosine
is bit-reproducible across engines — the DuckDB oracle in
__spark_entry__.py recomputes it brute-force and must hash-match.

No reference-repo counterpart: this operator is part of the training-data
pipeline surface (SURVEY.md "beyond the reference" additions), not a Zingg
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from customer_er_spark.functions.partitioning import shuffle_width
from customer_er_spark.operators.banded import banded_pairs
from customer_er_spark.operators.materialize import materialize, owned

# 6 hex chars of md5 -> 24-bit integer.  Mirrored verbatim by the DuckDB
# oracle (strpos arithmetic over the same hex prefix), so bucket ids agree
# across engines for identical gram strings.
_HEX_PREFIX_LEN = 6


def _md5_bucket(col, dim: int):
    """Portable gram -> feature id in [0, dim): int(md5(gram)[:6], 16) % dim."""
    return (
        F.conv(F.substring(F.md5(col), 1, _HEX_PREFIX_LEN), 16, 10)
        .cast("long")
        % F.lit(dim)
    )


def hashed_shingle_counts(
    docs: DataFrame,
    *,
    dim: int = 16384,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, feature, weight) hashed word-n-gram count vectors, pure Catalyst.

    Tokens are whitespace splits of trim(text) (the token_counts contract);
    grams are n consecutive tokens joined by one space; features are md5
    buckets in [0, dim).  Docs with fewer than n tokens vanish (their vector
    is empty).  Weights are exact integer counts — the cross-engine
    determinism anchor for the whole join.
    """
    toks = docs.select(
        F.col(id_col).alias("vec_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    ).where(F.size("t") >= n)
    grams = toks.select(
        "vec_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice("t", i, n)),
            )
        ).alias("gram"),
    )
    return grams.groupBy(
        "vec_id", _md5_bucket(F.col("gram"), dim).alias("feature")
    ).agg(F.count("*").alias("weight"))


def sparse_cosine_join(
    feats: DataFrame,
    threshold: float,
    *,
    max_band_size: int = 256,
    shuffle_partitions: int | None = None,
    with_stats: bool = False,
):
    """Exact all-pairs cosine join over sparse integer vectors.

    feats: (vec_id long, feature long, weight long) — one row per nonzero
    coordinate, unique (vec_id, feature).  Returns (id_a, id_b, cos) with
    id_a < id_b, cos = round(dot / (||a|| * ||b||), 6), for every pair with
    unrounded cosine >= threshold (see module docstring for the
    completeness bound and the flood caveat).  with_stats=True also returns
    the banded kernel's band_stats audit DataFrame.  shuffle_partitions
    (None: the session's spark.sql.shuffle.partitions) sizes the banding
    exchange.

    Every returned DataFrame is an output cut (operators/materialize):
    persisted and owned by the caller, who frees it with unpersist().
    """
    with owned():
        out, band_stats = _sparse_cosine_join(
            feats, threshold, max_band_size,
            shuffle_width(feats, shuffle_partitions),
        )
        if with_stats:
            return materialize(out), materialize(band_stats)
        return materialize(out)


def _sparse_cosine_join(
    feats: DataFrame, threshold: float, max_band_size: int,
    shuffle_partitions: int,
) -> tuple[DataFrame, DataFrame]:
    t2 = float(threshold) * float(threshold)
    norms = feats.groupBy("vec_id").agg(
        F.sum(F.col("weight") * F.col("weight")).alias("n2")
    )
    dfreq = feats.groupBy("feature").agg(F.count("*").alias("df"))

    # prefix selection: cumulative squared mass BEFORE each feature in
    # (df asc, feature asc) order; index while cum_before <= (1-t^2)*n2.
    # "<=" (not "<") admits one extra feature on exact boundary hits, which
    # is what makes the suffix bound strict for integer weights.
    w = (
        Window.partitionBy("vec_id")
        .orderBy(F.col("df").asc(), F.col("feature").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        # dfreq has at most one row per live feature (<= dim for hashed
        # vectors) — AQE broadcasts it when small; no hint, because the
        # generic sparse caller may have an unbounded feature space.
        feats.join(dfreq, "feature")
        .join(norms, "vec_id")
        .withColumn(
            "cum_before",
            F.coalesce(F.sum(F.col("weight") * F.col("weight")).over(w), F.lit(0)),
        )
        .where(F.col("cum_before") <= (1.0 - t2) * F.col("n2"))
        .select("vec_id", F.col("feature").alias("band_key"))
    )

    cands, band_stats = banded_pairs(
        prefix,
        id_col="vec_id",
        max_band_size=max_band_size,
        shuffle_partitions=shuffle_partitions,
    )

    # exact re-score: shared-feature inner join restricted to candidates.
    # Integer dot and norms; one double division at the end, the same
    # expression shape the DuckDB oracle uses, so values are bit-identical.
    fl = feats.select(
        F.col("vec_id").alias("id_l"), "feature", F.col("weight").alias("w_l")
    )
    fr = feats.select(
        F.col("vec_id").alias("id_r"), "feature", F.col("weight").alias("w_r")
    )
    dots = (
        cands.join(fl, "id_l")
        .join(fr, ["id_r", "feature"])
        .groupBy("id_l", "id_r")
        .agg(F.sum(F.col("w_l") * F.col("w_r")).alias("dot"))
    )
    nl = norms.select(F.col("vec_id").alias("id_l"), F.col("n2").alias("n2_l"))
    nr = norms.select(F.col("vec_id").alias("id_r"), F.col("n2").alias("n2_r"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("n2_l").cast("double")) * F.sqrt(F.col("n2_r").cast("double"))
    )
    out = (
        dots.join(nl, "id_l")
        .join(nr, "id_r")
        .where(cos >= F.lit(float(threshold)))
        .select(
            F.col("id_l").alias("id_a"),
            F.col("id_r").alias("id_b"),
            F.round(cos, 6).alias("cos"),
        )
    )
    return out, band_stats


def cosine_near_dup_pairs(
    docs: DataFrame,
    threshold: float = 0.9,
    *,
    dim: int = 16384,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_size: int = 256,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs over a documents table.

    hashed word-n-gram count vectors -> exact prefix-filtered cosine join.
    Output: (id_a, id_b, cos) — every pair with cosine >= threshold.
    """
    feats = hashed_shingle_counts(
        docs, dim=dim, n=n, id_col=id_col, text_col=text_col
    )
    return sparse_cosine_join(
        feats,
        threshold,
        max_band_size=max_band_size,
        shuffle_partitions=shuffle_partitions,
    )
