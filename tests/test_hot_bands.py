"""Adversarial hot-band tests: the skew policy must not silently lose
recall.

Scenario (the failure mode of a naive star degradation): a band is hot,
its min-id representative verifies against NO member, but true near-dup
pairs exist inside the band and share no small band.  Sub-band salting
must still surface (virtually) all true pairs; an exact-duplicate flood
must stay one connected component via the representative chain.
"""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customer_er_spark.config import ERConfig
from customer_er_spark.operators.candidates import candidate_pairs
from customer_er_spark.operators.components import connected_components
from customer_er_spark.operators.signatures import compute_signatures
from customer_er_spark.operators.verify import verify_pairs

IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        T.StructField("phash", T.LongType(), True),
    ]
)


def _rand_words(rng: random.Random, n: int) -> str:
    return " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
        for _ in range(n)
    )


def _to_i64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


@pytest.fixture(scope="module")
def adversarial_corpus(spark):
    """101 records: 50 true pairs + 1 poison min-id representative.

    Every record shares phash chunks 2..7 (the 15 pair-of-chunk band keys
    over those chunks are hot: 101 members).  Pair members differ in their
    chunk-0 and chunk-1 single-bit flips, so a pair shares ONLY the hot
    bands on the image side.  Captions share a long prefix (Jaccard ~0.45,
    LCS ~0.6 — verifiable) but are cross-pair random.  The representative
    'a_rep' is the minimum image_id, its phash sits at Hamming <= 4 of
    everyone (passes the cheap gate) and its caption matches NOBODY: under
    a star policy every hot-band edge would die in verification.
    """
    rng = random.Random(20240816)
    base = rng.getrandbits(64)
    base &= ~0xFFFF  # zero chunks 0 and 1 (low 16 bits)

    rows = []
    truth = []
    for i in range(50):
        prefix = _rand_words(rng, 8)
        a_id, b_id = f"m_{i:04d}_a", f"m_{i:04d}_b"
        bit_a0, bit_b0 = i % 8, (i + 3) % 8
        bit_a1, bit_b1 = (i + 1) % 8, (i + 5) % 8
        ph_a = base ^ (1 << bit_a0) ^ (1 << (8 + bit_a1))
        ph_b = base ^ (1 << bit_b0) ^ (1 << (8 + bit_b1))
        rows.append(
            (a_id, None, 8, 8, "raw", f"{prefix} {_rand_words(rng, 5)}", _to_i64(ph_a))
        )
        rows.append(
            (b_id, None, 8, 8, "raw", f"{prefix} {_rand_words(rng, 5)}", _to_i64(ph_b))
        )
        truth.append((a_id, b_id))
    # poison representative: minimum id, image-similar to all, caption-similar to none
    rows.append(("a_rep", None, 8, 8, "raw", _rand_words(rng, 13), _to_i64(base)))
    images = spark.createDataFrame(rows, IMAGES_SCHEMA)
    return images, truth


def test_hot_bands_detected_and_salted(spark, adversarial_corpus):
    images, truth = adversarial_corpus
    cfg = ERConfig(shuffle_partitions=8, max_band_size=60)
    sig = compute_signatures(images, cfg).localCheckpoint(eager=True)
    pairs, band_stats = candidate_pairs(sig, cfg)
    hot = band_stats.where("degraded").collect()
    # the 15 pair-of-chunk keys over untouched chunks 2..7 are hot
    assert len(hot) >= 15, f"expected >=15 hot bands, got {len(hot)}"
    assert all(r["n_salts"] >= 2 and r["n_members"] > 60 for r in hot)
    # no silent cap: every degraded band is visible with its true size
    assert all(r["n_members"] == 101 for r in hot if r["n_members"] > 100)


def test_recall_survives_poison_representative(spark, adversarial_corpus):
    images, truth = adversarial_corpus
    cfg = ERConfig(shuffle_partitions=8, max_band_size=60)
    sig = compute_signatures(images, cfg).localCheckpoint(eager=True)
    pairs, _ = candidate_pairs(sig, cfg)
    scored = verify_pairs(pairs, sig, cfg).localCheckpoint(eager=True)
    matches = scored.where("is_match")

    # precondition of the scenario: the representative matches NO member
    rep_matches = matches.where(
        (F.col("id_l") == "a_rep") | (F.col("id_r") == "a_rep")
    ).count()
    assert rep_matches == 0

    found = {
        (r["id_l"], r["id_r"]) for r in matches.select("id_l", "id_r").collect()
    }
    hits = sum(1 for t in truth if t in found)
    recall = hits / len(truth)
    assert recall >= 0.99, f"recall {recall} ({hits}/{len(truth)})"


def test_duplicate_flood_stays_one_component(spark):
    """200 identical records: every band (MinHash and pHash alike) is hot.
    Sub-bucket all-pairs + the representative chain must keep the flood a
    single connected component."""
    rng = random.Random(7)
    caption = _rand_words(rng, 10)
    ph = _to_i64(rng.getrandbits(64))
    rows = [
        (f"d_{i:04d}", None, 8, 8, "raw", caption, ph) for i in range(200)
    ]
    images = spark.createDataFrame(rows, IMAGES_SCHEMA)
    cfg = ERConfig(shuffle_partitions=8, max_band_size=30)
    sig = compute_signatures(images, cfg).localCheckpoint(eager=True)
    pairs, band_stats = candidate_pairs(sig, cfg)
    assert band_stats.where("degraded").count() > 0
    matches = verify_pairs(pairs, sig, cfg).where("is_match")
    assign = connected_components(matches.select("id_l", "id_r"))
    comp = assign.select("cluster_id").distinct().collect()
    assert len(comp) == 1, f"flood split into {len(comp)} components"
    assert assign.count() == 200


def test_link_flood_pairs_cross_sides_only(spark):
    """120 identical registry records and 8 identical incoming copies:
    every touched band is hot, so the link's pairs come from salted
    sub-buckets.  Each pair still joins a prior to an incoming record, and
    every incoming copy links."""
    from customer_er_spark.operators.candidates import band_keys
    from customer_er_spark.plans.incremental import link_pairs

    rng = random.Random(11)
    caption = _rand_words(rng, 10)
    ph = _to_i64(rng.getrandbits(64))

    def images(prefix, n):
        rows = [(f"{prefix}_{i:04d}", None, 8, 8, "raw", caption, ph)
                for i in range(n)]
        return spark.createDataFrame(rows, IMAGES_SCHEMA)

    cfg = ERConfig(shuffle_partitions=8, max_band_size=30)
    prior_sig = compute_signatures(images("p", 120), cfg).localCheckpoint(eager=True)
    inc_sig = compute_signatures(images("q", 8), cfg).localCheckpoint(eager=True)
    pairs, band_stats = link_pairs(band_keys(prior_sig, cfg), inc_sig, cfg)

    assert band_stats.where("degraded").count() > 0
    got = pairs.collect()
    assert got
    assert all(r["id_l"].startswith("p_") and r["id_r"].startswith("q_")
               for r in got), got
    assert all(r["hamming"] == 0 for r in got)
    assert {r["id_r"] for r in got} == {f"q_{i:04d}" for i in range(8)}
