"""End-to-end pipeline tests: recall vs planted truth, resumability,
component correctness vs a union-find oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from customer_er_spark.config import ERConfig
from customer_er_spark.plans.pipeline import recall_vs_truth, run_initial

CFG = ERConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def pipeline_run(spark, small_corpus, tmp_path_factory):
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path_factory.mktemp("cat")))
    images = spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
    summary = run_initial(spark, images, catalog, CFG)
    return catalog, images, summary


def test_recall_and_precision(spark, small_corpus, pipeline_run):
    catalog, images, summary = pipeline_run
    truth = spark.read.parquet(f"{small_corpus['dir']}/truth_pairs.parquet")
    members = catalog.read_table("cluster_members")
    m = recall_vs_truth(spark, members, truth)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.95, m


def test_every_record_assigned(pipeline_run, small_corpus):
    catalog, images, summary = pipeline_run
    members = catalog.read_table("cluster_members")
    assert members.count() == small_corpus["rows"]
    assert members.select("image_id").distinct().count() == small_corpus["rows"]


def test_cluster_member_schema_parity(pipeline_run):
    catalog, _, _ = pipeline_run
    members = catalog.read_table("cluster_members")
    assert set(members.columns) == {
        "cluster_id", "image_id", "caption", "phash",
        "z_minScore", "z_maxScore", "datetime",
    }
    # matched records carry min<=max scores; singletons carry nulls
    bad = members.where(
        F.col("z_minScore").isNotNull() & (F.col("z_minScore") > F.col("z_maxScore"))
    ).count()
    assert bad == 0


def test_resume_is_idempotent_and_skips(spark, small_corpus, pipeline_run):
    catalog, images, first = pipeline_run
    before = {t: catalog.snapshot_id(t) for t in
              ("signatures", "candidate_pairs", "verified_pairs",
               "assignments", "cluster_members")}
    second = run_initial(spark, images, catalog, CFG)
    for t, snap in before.items():
        assert catalog.snapshot_id(t) == snap, f"stage {t} re-ran"
        assert second[t]["resumed"] is True


def test_config_change_invalidates_resume(spark, small_corpus, pipeline_run):
    catalog, images, _ = pipeline_run
    cfg2 = ERConfig(shuffle_partitions=8, phash_hamming_max=9)
    snap_before = catalog.snapshot_id("verified_pairs")
    run_initial(spark, images, catalog, cfg2)
    assert catalog.snapshot_id("verified_pairs") != snap_before


def test_execution_knobs_do_not_invalidate_resume(spark, small_corpus, catalog):
    """config_hash covers what a stage outputs, not how it runs: the same
    catalog resumes every stage under a different shuffle_partitions."""
    images = spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
    run_initial(spark, images, catalog, ERConfig(shuffle_partitions=4))
    again = run_initial(spark, images, catalog, ERConfig(shuffle_partitions=8))
    stages = {k: v["resumed"] for k, v in again.items() if isinstance(v, dict)}
    assert stages == dict.fromkeys(
        ("signatures", "priors_bands", "candidate_pairs", "verified_pairs",
         "calibration_report", "assignments", "cluster_members", "clusters"),
        True,
    )


def test_decode_invariant_clean(spark, small_corpus):
    from customer_er_spark.operators.verify import check_decode_invariant

    images = spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
    violations = check_decode_invariant(images, CFG)
    assert violations.count() == 0


def test_connected_components_vs_union_find(spark):
    from customer_er_spark.operators.components import connected_components

    rng = np.random.default_rng(5)
    n, m = 200, 260
    edges = [(f"n{int(a):04d}", f"n{int(b):04d}")
             for a, b in rng.integers(0, n, (m, 2)) if a != b]

    parent = {f"n{i:04d}": f"n{i:04d}" for i in range(n)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    oracle = {}
    for node in parent:
        oracle.setdefault(find(node), set()).add(node)
    oracle_assign = {n_: min(c) for c in oracle.values() for n_ in c if len(c) > 1}

    df = spark.createDataFrame(edges, ["id_l", "id_r"])
    want = {n_: cid for n_, cid in oracle_assign.items()}
    # driver fast path (default: 260 edges << cap) and the distributed
    # star rounds (cap=0 disables the fast path) must both match the
    # union-find oracle bit-for-bit
    got_fast = {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }
    got_star = {
        r["image_id"]: r["cluster_id"]
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    assert got_fast == want
    assert got_star == want


def test_cc_fast_path_cap_and_hint(spark, monkeypatch):
    """The bounded driver path engages only under the cap: an over-cap
    probe falls back to the star rounds, and a large n_edges_hint skips
    the probe scan entirely."""
    import customer_er_spark.operators.components as C

    pairs = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(9)], ["id_l", "id_r"]
    )
    calls = {"star": 0, "driver": 0}
    orig_star, orig_drv = C._small_star, C._driver_components
    monkeypatch.setattr(C, "_small_star", lambda e: (
        calls.__setitem__("star", calls["star"] + 1) or orig_star(e)))
    monkeypatch.setattr(C, "_driver_components", lambda p: (
        calls.__setitem__("driver", calls["driver"] + 1) or orig_drv(p)))

    want = {(f"n{i:02d}", "n00") for i in range(10)}

    # under the cap: driver path, no star round
    got = C.connected_components(pairs, driver_max_edges=100)
    assert {(r["image_id"], r["cluster_id"]) for r in got.collect()} == want
    assert calls == {"star": 0, "driver": 1}

    # probe overflows a tiny cap: star rounds, driver kernel untouched
    got = C.connected_components(pairs, driver_max_edges=4)
    assert {(r["image_id"], r["cluster_id"]) for r in got.collect()} == want
    assert calls["driver"] == 1 and calls["star"] > 0

    # a known-large hint skips even the probe (toPandas never called)
    monkeypatch.setattr(
        C.DataFrame, "toPandas",
        lambda self: (_ for _ in ()).throw(AssertionError("probe ran")),
    )
    got = C.connected_components(pairs, driver_max_edges=100, n_edges_hint=101)
    assert {(r["image_id"], r["cluster_id"]) for r in got.collect()} == want


def test_cc_durable_checkpoint_resume(spark, catalog, monkeypatch):
    """Kill connected components mid-fixpoint, rerun: the fixpoint resumes
    from the last committed round instead of iteration 0."""
    import customer_er_spark.operators.components as C

    # path graph => several large/small-star rounds until convergence
    n = 64
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)],
        ["id_l", "id_r"],
    )

    rounds = {"n": 0}
    orig = C._small_star

    def failing(edges):
        rounds["n"] += 1
        if rounds["n"] == 3:
            raise RuntimeError("injected mid-CC crash")
        return orig(edges)

    monkeypatch.setattr(C, "_small_star", failing)
    with pytest.raises(RuntimeError, match="injected"):
        C.connected_components(
            pairs, checkpoint_every=1, catalog=catalog,
            checkpoint_table="cc_test", inputs={"src": "path64"},
            driver_max_edges=0,  # exercise the distributed fixpoint
        )
    meta = catalog.table_meta("cc_test")
    assert meta is not None and meta["cc_round"] >= 2  # survived the crash

    monkeypatch.setattr(C, "_small_star", orig)
    rounds_cold = {"n": 0}

    def counting(edges):
        rounds_cold["n"] += 1
        return orig(edges)

    monkeypatch.setattr(C, "_small_star", counting)
    resumed = C.connected_components(
        pairs, checkpoint_every=1, catalog=catalog,
        checkpoint_table="cc_test", inputs={"src": "path64"},
        # cap left at default: a matching mid-fixpoint checkpoint must
        # outrank the driver fast path (the committed rounds are not
        # thrown away)
    )
    resumed_rounds = rounds_cold["n"]

    # correct result: one component rooted at the min id
    rows = resumed.collect()
    assert len(rows) == n
    assert {r["cluster_id"] for r in rows} == {"n000"}

    # cold run from scratch needs strictly more rounds than the resume
    rounds_cold["n"] = 0
    catalog.drop_table("cc_test")
    cold = C.connected_components(
        pairs, checkpoint_every=1, catalog=catalog,
        checkpoint_table="cc_test", inputs={"src": "path64"},
        driver_max_edges=0,
    )
    assert {r["cluster_id"] for r in cold.collect()} == {"n000"}
    assert resumed_rounds < rounds_cold["n"]

    # a checkpoint from DIFFERENT inputs is ignored, not resumed
    other = spark.createDataFrame([("a", "b")], ["id_l", "id_r"])
    got = C.connected_components(
        other, checkpoint_every=1, catalog=catalog,
        checkpoint_table="cc_test", inputs={"src": "tiny"},
        driver_max_edges=0,
    )
    assert {(r["image_id"], r["cluster_id"]) for r in got.collect()} == {
        ("a", "a"), ("b", "a"),
    }
