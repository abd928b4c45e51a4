"""Round-8 optimization internals: broadcast pair scorer (bit-exactness,
mirror, per-task top-k superset incl. the NaN edge), deferred-distinct
banded pairs, adaptive fan-out."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_cosine_scores_bit_equal_unrolled_chain(spark, embeddings):
    """Arrow scorer cos == the pinned left-to-right Catalyst chain, bitwise
    (not just to 1e-6): the violation oracle depends on exact equality."""
    from customer_er_spark.functions.pairscore import (
        collect_bounded_matrix,
        cosine_pair_scores,
    )
    from customer_er_spark.operators.similarity import (
        _dot_unrolled,
        _norm2_unrolled,
    )

    ids, mat = collect_bounded_matrix(
        embeddings, "vec_id", "embedding", np.float64, 10_000
    )
    base = embeddings.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    ).withColumn("nrm", F.sqrt(_norm2_unrolled("vec", 64)))
    cand = (
        embeddings.select(F.col("vec_id").alias("query_id"))
        .crossJoin(embeddings.select(F.col("vec_id").alias("neighbor_id")))
        .where(F.col("query_id") < F.col("neighbor_id"))
        .limit(500)
    )
    q = base.select(
        F.col("vid").alias("query_id"), F.col("vec").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    c = base.select(
        F.col("vid").alias("neighbor_id"), F.col("vec").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cand.join(q, "query_id").join(c, "neighbor_id")
        .withColumn(
            "cos", _dot_unrolled("qv", "cv", 64) / (F.col("qn") * F.col("cn"))
        )
        .collect()
    }
    scored = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_pair_scores(spark, cand, ids, mat).collect()
    }
    assert scored.keys() == exact.keys()
    for k in exact:  # bitwise, not approx
        assert scored[k] == exact[k] and np.float64(scored[k]).tobytes() == np.float64(exact[k]).tobytes(), k


def test_mirror_preserves_global_topk(spark):
    """mirror=True followed by the global rank window must equal the
    explicitly-directed full result — including a zero vector (NaN
    cosines, which Spark ranks above all finite values)."""
    from pyspark.sql import Window

    from customer_er_spark.functions.pairscore import cosine_pair_scores

    rng = np.random.default_rng(7)
    n, dim, k = 60, 8, 3
    mat = rng.standard_normal((n, dim))
    mat[17] = 0.0  # zero vector -> NaN cos against everything
    ids = np.arange(100, 100 + n, dtype=np.int64)
    pairs = [(int(ids[i]), int(ids[j])) for i in range(n) for j in range(i + 1, n)]
    cand = spark.createDataFrame(pairs, "query_id long, neighbor_id long")

    def topk(df):
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos").desc(), F.col("neighbor_id").asc()
        )
        return {
            (r["query_id"], r["rank"]): r["neighbor_id"]
            for r in df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .collect()
        }

    directed = cand.unionAll(
        cand.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("query_id").alias("neighbor_id"),
        )
    )
    full = topk(cosine_pair_scores(spark, directed, ids, mat))
    fast = topk(cosine_pair_scores(spark, cand, ids, mat, mirror=True))
    assert fast == full


def test_banded_pairs_deferred_distinct_same_set(spark, embeddings):
    from customer_er_spark.operators.banded import banded_pairs

    bands = embeddings.select(
        F.col("vec_id").alias("doc_id"),
        (F.xxhash64("vec_id") % 37).alias("band_key"),
    ).unionAll(
        embeddings.select(
            F.col("vec_id").alias("doc_id"),
            (F.xxhash64("vec_id", F.lit(1)) % 37).alias("band_key"),
        )
    )
    dist, _ = banded_pairs(
        bands, id_col="doc_id", max_band_size=16, shuffle_partitions=8
    )
    multi, _ = banded_pairs(
        bands, id_col="doc_id", max_band_size=16, shuffle_partitions=8,
        distinct=False,
    )
    d = dist.collect()
    m = multi.collect()
    assert len(m) >= len(d)
    assert {(r["id_l"], r["id_r"]) for r in m} == {
        (r["id_l"], r["id_r"]) for r in d
    }


def test_fan_out_is_noop_on_well_split_input(spark):
    from customer_er_spark.functions.partitioning import fan_out

    wide = spark.range(0, 1000, numPartitions=16)
    assert fan_out(wide, 8).rdd.getNumPartitions() == 16  # untouched
    narrow = spark.range(0, 1000, numPartitions=1)
    assert fan_out(narrow, 8).rdd.getNumPartitions() == 8


@pytest.mark.parametrize("scorer", ["cosine", "equality_fraction"])
def test_scorer_rejects_id_missing_from_matrix(spark, scorer):
    """A pair id absent from the broadcast matrix raises instead of being
    scored against the row searchsorted lands on."""
    from customer_er_spark.functions import pairscore

    ids = np.array([10, 20, 30], dtype=np.int64)
    mat = np.arange(12, dtype=np.int64).reshape(3, 4)
    cand = spark.createDataFrame([(10, 20), (20, 25)], "id_l long, id_r long")
    if scorer == "cosine":
        out = pairscore.cosine_pair_scores(
            spark, cand, ids, mat.astype(np.float64), l_col="id_l",
            r_col="id_r")
    else:
        out = pairscore.equality_fraction_pair_scores(spark, cand, ids, mat, 4)
    with pytest.raises(Exception, match="missing from the broadcast matrix"):
        out.collect()
    ok = cand.where("id_r != 25")
    if scorer == "cosine":
        ok = pairscore.cosine_pair_scores(
            spark, ok, ids, mat.astype(np.float64), l_col="id_l",
            r_col="id_r")
    else:
        ok = pairscore.equality_fraction_pair_scores(spark, ok, ids, mat, 4)
    assert ok.count() == 1


def test_collect_bounded_matrix_rejects_ragged_rows(spark):
    from customer_er_spark.functions.pairscore import collect_bounded_matrix

    ragged = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [4, 5])], "doc_id long, minhash array<long>"
    )
    with pytest.raises(ValueError, match="ragged"):
        collect_bounded_matrix(ragged, "doc_id", "minhash", np.int64, 10)
