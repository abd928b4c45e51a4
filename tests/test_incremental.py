"""Incremental link + match: end-to-end over the datagen 4/5 - 1/5 split
(mirrors /root/reference/01_Prepare_Data.py:117-129)."""

import os

import pytest
from pyspark.sql import functions as F

from customer_er_spark.config import ERConfig
from customer_er_spark.plans.incremental import run_incremental_match, run_link
from customer_er_spark.plans.pipeline import recall_vs_truth, run_initial

CFG = ERConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def incremental_run(spark, small_corpus, tmp_path_factory):
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path_factory.mktemp("inc_cat")))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)
    link_summary = run_link(spark, incoming, catalog, CFG)
    match_summary = run_incremental_match(spark, incoming, catalog, CFG)
    return catalog, link_summary, match_summary


def test_linked_output_shape(incremental_run):
    catalog, link_summary, _ = incremental_run
    linked = catalog.read_table("linked")
    assert set(linked.columns) == {"image_id", "z_cluster", "z_score", "z_source"}
    assert set(
        r["z_source"] for r in linked.select("z_source").distinct().collect()
    ) <= {"priors", "incoming"}
    # a prior's z_score is the max over its incoming matches: no incoming
    # edge in the same link group may exceed the prior row's score
    pri = linked.where("z_source = 'priors'").groupBy("z_cluster").agg(
        F.max("z_score").alias("pmax")
    )
    inc = linked.where("z_source = 'incoming'").groupBy("z_cluster").agg(
        F.max("z_score").alias("imax")
    )
    bad = pri.join(inc, "z_cluster").where("imax > pmax").count()
    assert bad == 0


def test_decisions_partition_incoming(incremental_run):
    catalog, link_summary, _ = incremental_run
    d = catalog.read_table("link_decisions")
    assert d.groupBy("image_id").count().where("count > 1").count() == 0
    vals = {r["decision"] for r in d.select("decision").distinct().collect()}
    assert vals <= {"accept", "review", "reject"}


def test_full_recall_after_incremental(spark, small_corpus, incremental_run):
    catalog, _, match_summary = incremental_run
    truth = spark.read.parquet(f"{small_corpus['dir']}/truth_pairs.parquet")
    members = catalog.read_table("cluster_members")
    # every record (initial + incoming) present exactly once
    assert members.count() == small_corpus["rows"]
    m = recall_vs_truth(spark, members, truth)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.95, m


def test_registry_ids_stable_across_increment(spark, small_corpus, incremental_run):
    catalog, _, _ = incremental_run
    # clusters that existed after the initial run keep their ids: every
    # initial-era member still maps to its old cluster id
    initial_ids = {
        r["image_id"]
        for r in spark.read.parquet(
            f"{small_corpus['dir']}/images_initial.parquet"
        ).select("image_id").collect()
    }
    members = catalog.read_table("cluster_members")
    # initial-era cluster ids are always initial-era image ids (min of the
    # original component); incoming can only join them, not rename them
    moved = members.where(
        F.col("image_id").isin(list(initial_ids))
        & ~F.col("cluster_id").isin(list(initial_ids))
    ).count()
    assert moved == 0


def test_second_increment_does_not_reband_priors(
    spark, small_corpus, tmp_path, monkeypatch
):
    """The banded-once contract (priors_bands): after the initial run, no
    increment may ever band the registry again — band_keys runs only on
    incoming-sized inputs, and the registry band table grows by appends."""
    from pyspark.sql import functions as F

    import customer_er_spark.plans.incremental as inc_mod
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path / "pb_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    half1 = incoming.where(F.pmod(F.xxhash64("image_id"), F.lit(2)) == 0)
    half2 = incoming.where(F.pmod(F.xxhash64("image_id"), F.lit(2)) == 1)
    n_half2 = half2.count()
    assert n_half2 > 0

    run_initial(spark, initial, catalog, CFG)
    run_link(spark, half1, catalog, CFG, run_key="h1")
    run_incremental_match(spark, half1, catalog, CFG)
    paths_before = len(catalog.table_meta("priors_bands")["paths"])

    # spy: every band_keys call inside the incremental plan records the
    # row count of the input it was asked to band
    banded_sizes = []
    orig = inc_mod.band_keys

    def spy(df, cfg):
        banded_sizes.append(df.count())
        return orig(df, cfg)

    monkeypatch.setattr(inc_mod, "band_keys", spy)
    run_link(spark, half2, catalog, CFG, run_key="h2")
    run_incremental_match(spark, half2, catalog, CFG)

    # the registry (initial + half1) was NEVER re-banded: every banding
    # input was incoming-sized
    assert banded_sizes, "band_keys never called for the increment"
    assert all(n <= n_half2 for n in banded_sizes), banded_sizes

    # priors_bands grew append-only (one new data dir per merge), with the
    # full per-record band fan-out for the new records only
    meta = catalog.table_meta("priors_bands")
    assert len(meta["paths"]) == paths_before + 1
    from customer_er_spark.operators.candidates import bands_per_record

    keys_per_record = bands_per_record(CFG)
    assert meta["counts"]["rows_out"] == small_corpus["rows"] * keys_per_record

    # and the result is still exact
    truth = spark.read.parquet(f"{small_corpus['dir']}/truth_pairs.parquet")
    m = recall_vs_truth(spark, catalog.read_table("cluster_members"), truth)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.95, m


def test_link_candidates_equal_full_band_join(
    spark, small_corpus, incremental_run, tmp_path
):
    """run_link reads the whole registry band table: its candidates are
    exactly the cross-side band join of the priors' and the increment's
    band rows under the Hamming gate, and a true-duplicate increment
    accepts every duplicate, also from a moved catalog."""
    import shutil

    import pandas as pd

    from customer_er_spark.catalog import SparkCatalog
    from customer_er_spark.operators.candidates import band_keys

    catalog, _, _ = incremental_run
    # after run_initial and one merge the band table is plain: no bucket
    # directories, no bloom sidecars
    pb_files = [
        os.path.join(root, f)
        for root, _dirs, fs in os.walk(os.path.join(catalog.base_dir,
                                                    "priors_bands"))
        for f in fs
    ]
    pb_meta = catalog.table_meta("priors_bands")
    assert len(pb_meta["paths"]) == 2
    assert not any("band_bucket=" in p or p.endswith("_blooms.json")
                   for p in pb_files)
    assert all(not os.path.isabs(e["file"]) for e in pb_meta["data_files"])

    # leg 1: the link of images_incremental into the initial registry.
    # No band was salted, so the link's candidates must equal the plain
    # pandas band join exactly.
    assert catalog.read_table("link_band_stats").where("degraded").count() == 0
    inc_sig = catalog.read_table("incoming_signatures")
    inc_ids = inc_sig.select("image_id")
    prior_sig = catalog.read_table("signatures").join(
        inc_ids, "image_id", "left_anti"
    )
    pb = band_keys(prior_sig, CFG).toPandas()
    ib = band_keys(inc_sig, CFG).toPandas()
    j = pb.merge(ib, on="band_key", suffixes=("_l", "_r"))
    x = (j["phash_l"].to_numpy() ^ j["phash_r"].to_numpy()).view("uint64")
    hd = [bin(int(v)).count("1") for v in x]
    j = j[pd.Series(hd, index=j.index) <= CFG.phash_hamming_max]
    expect = set(zip(j["image_id_l"], j["image_id_r"]))
    got = {
        (r["id_l"], r["id_r"])
        for r in catalog.read_table("link_candidates").collect()
    }
    assert expect, "the increment must band-collide with the registry"
    assert got == expect

    # leg 2: true duplicates of registry records — identical phash, so
    # every one must link and accept.  Run on a copy: the shared catalog
    # keeps its link tables for the tests below.
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    dups = initial.limit(3).withColumn(
        "image_id", F.concat(F.lit("dup_"), F.col("image_id"))
    )
    copy_dir = str(tmp_path / "link_cat")
    shutil.copytree(catalog.base_dir, copy_dir)
    s2 = run_link(spark, dups, SparkCatalog(spark, copy_dir), CFG,
                  run_key="dups")
    assert s2["decisions"].get("accept", 0) == 3, s2

    # leg 3: a MOVED catalog (manifests record paths relative to the base
    # dir) — reads and the link keep working from the new location
    moved_dir = str(tmp_path / "link_cat_moved")
    shutil.copytree(copy_dir, moved_dir)
    shutil.rmtree(copy_dir)
    moved = SparkCatalog(spark, moved_dir)
    assert moved.read_table("cluster_members").count() > 0
    dups2 = dups.withColumn(
        "image_id", F.concat(F.lit("m2_"), F.col("image_id"))
    )
    s3 = run_link(spark, dups2, moved, CFG, run_key="moved")
    assert s3["decisions"].get("accept", 0) == 3, s3


def test_link_schema_rollforward(spark, small_corpus, tmp_path):
    """r6 advice (medium): link_candidates gained a 'hamming' column; a
    catalog written by the previous engine version must roll forward (the
    link tables are pipeline-owned), not raise the schema contract."""
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path / "roll_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)
    # simulate the previous version's narrower link_candidates schema
    old = spark.createDataFrame(
        [("x", "y")], "id_l string, id_r string"
    )
    catalog.write_table(old, "link_candidates", config_hash="old")
    s = run_link(spark, incoming, catalog, CFG, run_key="roll")
    assert set(catalog.read_table("link_candidates").columns) == {
        "id_l", "id_r", "hamming"
    }
    assert s["candidates"] > 0


def test_link_rebands_on_lineage_divergence(spark, small_corpus, tmp_path):
    """r5 advice: a crash between the signatures append and the
    priors_bands append of a never-replayed batch leaves registry records
    invisible to link candidate generation.  run_link cross-checks
    rows(priors_bands) == bands_per_record * rows(signatures) and
    re-bands the registry once when they diverge."""
    from customer_er_spark.catalog import SparkCatalog
    from customer_er_spark.operators.candidates import bands_per_record

    catalog = SparkCatalog(spark, str(tmp_path / "div_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)

    # simulate the crash window: signatures gains rows (as the merge's
    # signatures append would) but priors_bands does not
    extra = catalog.read_table("signatures").limit(5).withColumn(
        "image_id", F.concat(F.lit("lost_"), F.col("image_id"))
    )
    catalog.append_table(extra, "signatures", config_hash=CFG.config_hash())
    n_sig = catalog.table_meta("signatures")["counts"]["rows_out"]
    assert catalog.table_meta("priors_bands")["counts"]["rows_out"] != (
        bands_per_record(CFG) * n_sig
    )

    run_link(spark, incoming, catalog, CFG, run_key="heal")
    # the re-band healed the divergence: every signature row (including
    # the "lost" ones) is banded again — visibility to candidate
    # generation follows because the re-band runs band_keys over the
    # FULL current signatures table
    pb = catalog.table_meta("priors_bands")
    assert pb["counts"]["rows_out"] == bands_per_record(CFG) * n_sig


@pytest.fixture(scope="module")
def empty_registry_counts(spark, small_corpus, tmp_path_factory):
    """Rows seen along empty initial -> 20-image link -> its merge."""
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path_factory.mktemp("empty_reg")))
    images = spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
    batch = images.orderBy("image_id").limit(20)
    counts = {}
    run_initial(spark, images.limit(0), catalog, CFG)
    counts["initial_empty"] = catalog.read_table("cluster_members").count()
    run_link(spark, batch, catalog, CFG, run_key="e1")
    counts["link_into_empty"] = catalog.read_table("link_candidates").count()
    run_incremental_match(spark, batch, catalog, CFG)
    counts["merge_into_empty"] = catalog.read_table("cluster_members").count()
    return counts


@pytest.fixture(scope="module")
def empty_batch_counts(spark, small_corpus, tmp_path_factory):
    """Rows after an empty batch is linked and merged into 50 images."""
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path_factory.mktemp("empty_batch")))
    images = spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
    run_initial(spark, images.orderBy("image_id").limit(50), catalog, CFG)
    run_link(spark, images.limit(0), catalog, CFG, run_key="e0")
    run_incremental_match(spark, images.limit(0), catalog, CFG)
    return {
        "empty_batch_into_50": catalog.read_table("cluster_members").count()
    }


@pytest.mark.parametrize("fixture,case,expected", [
    ("empty_registry_counts", "initial_empty", 0),
    ("empty_registry_counts", "link_into_empty", 0),
    ("empty_registry_counts", "merge_into_empty", 20),
    ("empty_batch_counts", "empty_batch_into_50", 50),
])
def test_empty_input(request, fixture, case, expected):
    """Every plan runs on empty input: an empty registry, a batch linked
    into it, and an empty batch merged into a registry.  Each record of
    the input is one cluster member, so the counts are known up front."""
    assert request.getfixturevalue(fixture)[case] == expected


def test_link_review_artifact(spark, small_corpus, incremental_run):
    """The review table mirrors the review-decision subset with both-side
    captions (the reference's human-in-the-loop artifact, 03:283-288).
    NOTE: the forced-review leg below re-runs run_link with a stricter
    config on the SHARED incremental_run catalog — keep this test LAST in
    the file (it overwrites the link_* tables and priors_bands)."""
    catalog, _, _ = incremental_run
    lr = catalog.read_table("link_review")
    expect_cols = {
        "incoming_id", "prior_id", "cluster_id", "score", "hamming",
        "caption_incoming", "caption_prior", "best_score", "second_score",
    }
    assert set(lr.columns) == expect_cols
    n_review = (
        catalog.read_table("link_decisions").where("decision = 'review'").count()
    )
    assert lr.select("incoming_id").distinct().count() == n_review

    # force reviews: accept impossible (threshold > 1), everything at/above
    # review 0.0 -> every linked incoming becomes a review row with its
    # full candidate-edge context
    cfg_rev = ERConfig(
        shuffle_partitions=8, match_threshold=1.01, review_threshold=0.0
    )
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_link(spark, incoming, catalog, cfg_rev, run_key="force-review")
    dec = catalog.read_table("link_decisions")
    assert dec.where("decision = 'accept'").count() == 0
    n_rev = dec.where("decision = 'review'").count()
    assert n_rev > 0
    lr2 = catalog.read_table("link_review")
    assert lr2.select("incoming_id").distinct().count() == n_rev
    # both-side captions always present for the reviewer
    assert lr2.where(
        "caption_prior IS NULL OR caption_incoming IS NULL"
    ).count() == 0
    # scores are consistent with the decisions they mirror
    bad = (
        lr2.groupBy("incoming_id")
        .agg(F.max("score").alias("edge_max"), F.first("best_score").alias("b"))
        .where("edge_max != b")
        .count()
    )
    assert bad == 0
