"""Append-only incremental merge: prior data files stay byte-untouched,
replayed increments are no-ops, schema changes are validated."""

import os

import pytest
from pyspark.sql import functions as F

from customer_er_spark.config import ERConfig
from customer_er_spark.plans.incremental import run_incremental_match, run_link
from customer_er_spark.plans.pipeline import run_initial

CFG = ERConfig(shuffle_partitions=8)

APPEND_TABLES = ["signatures", "cluster_members", "verified_pairs"]


def _file_state(paths: list[str]) -> dict[str, tuple[int, float]]:
    out = {}
    for d in paths:
        for root, _dirs, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime)
    return out


@pytest.fixture(scope="module")
def append_run(spark, small_corpus, tmp_path_factory):
    from customer_er_spark.catalog import SparkCatalog

    catalog = SparkCatalog(spark, str(tmp_path_factory.mktemp("app_cat")))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, CFG)
    before = {
        t: {
            "paths": catalog._paths(catalog.table_meta(t)),
            "rows": catalog.table_meta(t)["counts"]["rows_out"],
        }
        for t in APPEND_TABLES
    }
    files_before = {
        t: _file_state(before[t]["paths"]) for t in APPEND_TABLES
    }
    run_link(spark, incoming, catalog, CFG, run_key="inc-1")
    summary = run_incremental_match(spark, incoming, catalog, CFG)
    return catalog, incoming, before, files_before, summary


def test_increment_leaves_prior_files_untouched(append_run):
    catalog, incoming, before, files_before, _ = append_run
    for t in APPEND_TABLES:
        meta = catalog.table_meta(t)
        paths_now = catalog._paths(meta)
        # new snapshot = old data dirs + appended dirs
        for p in before[t]["paths"]:
            assert p in paths_now, f"{t}: prior dir {p} dropped from snapshot"
        # prior files byte-untouched (size+mtime identical, none deleted)
        assert _file_state(before[t]["paths"]) == files_before[t], t


def test_increment_row_accounting(append_run):
    catalog, incoming, before, _, summary = append_run
    n_inc = incoming.count()
    sig = catalog.table_meta("signatures")
    assert sig["counts"]["rows_out"] == before["signatures"]["rows"] + n_inc
    assert sig["counts"]["rows_appended"] == n_inc
    members = catalog.table_meta("cluster_members")
    assert members["counts"]["rows_out"] == (
        before["cluster_members"]["rows"] + n_inc
    )
    # appended verified edges include accepted link edges with REAL prior
    # endpoints: at least one appended edge must span initial<->incoming
    inc_ids = {r["image_id"] for r in incoming.select("image_id").collect()}
    vp = catalog.read_table("verified_pairs")
    cross = vp.where(
        (~F.col("id_l").isin(list(inc_ids))) & F.col("id_r").isin(list(inc_ids))
    ).count()
    assert cross > 0


def test_link_edge_members_have_scores(append_run):
    """A member whose only edge was a link must carry non-NULL z_scores
    (the 'NULL = singleton' contract)."""
    catalog, incoming, _, _, _ = append_run
    members = catalog.read_table("cluster_members")
    multi = (
        members.groupBy("cluster_id").count().where("count > 1")
        .select("cluster_id")
    )
    inc_ids = {r["image_id"] for r in incoming.select("image_id").collect()}
    bad = (
        members.join(multi, "cluster_id")
        .where(F.col("image_id").isin(list(inc_ids)))
        .where(F.col("z_minScore").isNull())
        .count()
    )
    assert bad == 0


def test_replayed_increment_is_noop(spark, append_run):
    catalog, incoming, _, _, summary = append_run
    files_after = {
        t: _file_state(catalog._paths(catalog.table_meta(t)))
        for t in APPEND_TABLES
    }
    # replay the same micro-batch (same run_key) — crash-replay semantics
    link2 = run_link(spark, incoming, catalog, CFG, run_key="inc-1")
    assert link2["resumed"] is True
    summary2 = run_incremental_match(spark, incoming, catalog, CFG)
    assert summary2["total_members"] == summary["total_members"]
    for t in APPEND_TABLES:
        assert _file_state(catalog._paths(catalog.table_meta(t))) == files_after[t], t
    members = catalog.read_table("cluster_members")
    assert members.groupBy("image_id").count().where("count > 1").count() == 0


def test_schema_validation(spark, catalog):
    df1 = spark.range(5).select(F.col("id"), F.lit("x").alias("s"))
    catalog.write_table(df1, "t_schema")
    # same schema: fine
    catalog.write_table(df1, "t_schema")
    changed = spark.range(5).select(F.col("id"), F.lit(1.0).alias("s"))
    with pytest.raises(ValueError, match="schema change"):
        catalog.write_table(changed, "t_schema")
    with pytest.raises(ValueError, match="schema change"):
        catalog.append_table(changed, "t_schema")
    # explicit evolution on overwrite is allowed
    catalog.write_table(changed, "t_schema", overwrite_schema=True)
    assert catalog.read_table("t_schema").schema["s"].dataType.typeName() == "double"


def test_append_roundtrip_and_state(spark, catalog):
    a = spark.range(3).select(F.col("id"))
    b = spark.range(3, 7).select(F.col("id"))
    catalog.write_table(a, "t_app")
    m = catalog.append_table(b, "t_app")
    assert m["counts"]["rows_out"] == 7 and m["counts"]["rows_appended"] == 4
    got = sorted(r["id"] for r in catalog.read_table("t_app").collect())
    assert got == list(range(7))
    assert catalog.get_state("k", -1) == -1
    catalog.set_state("k", 42)
    assert catalog.get_state("k") == 42


def test_database_ddl(spark, catalog):
    # the reference's DDL surface (00:76-79, 01:45-51) over dir namespaces
    catalog.ddl("CREATE DATABASE IF NOT EXISTS sandbox")
    catalog.ddl("CREATE DATABASE IF NOT EXISTS sandbox")  # idempotent
    assert "sandbox" in catalog.list_databases()
    ns = catalog.ddl("USE sandbox")
    df = spark.range(4).select(F.col("id"))
    ns.write_table(df, "t1")
    assert ns.list_tables() == ["t1"]
    assert "t1" not in catalog.list_tables()  # namespaced, not root
    with pytest.raises(ValueError, match="not empty"):
        catalog.ddl("DROP DATABASE sandbox")
    catalog.ddl("DROP DATABASE sandbox CASCADE")
    assert "sandbox" not in catalog.list_databases()
    with pytest.raises(ValueError, match="unsupported DDL"):
        catalog.ddl("ALTER TABLE x ADD COLUMN y int")


def test_commit_counts_from_footers_no_extra_job(spark, catalog):
    """write_table's row accounting sums parquet footers via pyarrow — the
    ONLY Spark job in a commit is the write action itself (round-3 verdict
    #5: the old path ran a count() job per commit)."""
    df = spark.range(0, 1234).withColumn("v", F.col("id") * 2)
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None) or [])
    meta = catalog.write_table(df, "footer_counts")
    after = set(st.getJobIdsForGroup(None) or [])
    assert meta["counts"]["rows_out"] == 1234
    assert meta["n_files"] >= 1
    assert len(after - before) == 1, "commit must run exactly the write job"
    # partitioned layout: files live in nested dirs; footer walk still sums
    meta2 = catalog.write_table(
        df.withColumn("p", F.col("id") % 3), "footer_counts_part",
        partition_by=["p"],
    )
    assert meta2["counts"]["rows_out"] == 1234
    assert meta2["n_files"] >= 3
    # a 0-row partitioned write leaves no parquet file: the read takes its
    # schema from the manifest instead of inferring it from files
    meta3 = catalog.write_table(
        df.withColumn("p", F.col("id") % 3).limit(0), "footer_counts_empty",
        partition_by=["p"],
    )
    assert meta3["counts"]["rows_out"] == 0
    empty = catalog.read_table("footer_counts_empty")
    assert empty.count() == 0
    assert sorted(empty.columns) == ["id", "p", "v"]


def _truth_scores(catalog):
    edges = catalog.read_table("verified_pairs").where("is_match")
    return (
        edges.select(F.col("id_l").alias("image_id"), "score")
        .unionByName(edges.select(F.col("id_r").alias("image_id"), "score"))
        .groupBy("image_id")
        .agg(F.min("score").alias("t_min"), F.max("score").alias("t_max"))
    )


def _stale_count(members, truth):
    return (
        members.join(truth, "image_id", "left")
        .where(
            ~(
                F.col("z_minScore").eqNullSafe(F.col("t_min"))
                & F.col("z_maxScore").eqNullSafe(F.col("t_max"))
            )
        )
        .count()
    )


def test_refresh_member_scores(spark, append_run):
    """After an increment, the patch-mode refresh reads ONLY the appended
    edge files (O(churn)) and appends score patches; current_member_scores
    then equals a from-scratch aggregate of verified_pairs, and compaction
    squashes the patches into the stored rows — closing the documented
    stale-prior-score trade of insert-only merges at churn cost."""
    from customer_er_spark.plans.incremental import (
        current_member_scores,
        refresh_member_scores,
    )

    catalog = append_run[0]
    truth = _truth_scores(catalog)

    res = refresh_member_scores(spark, catalog, CFG)
    assert res["mode"] == "patch"
    # first-ever refresh folds every edge file committed so far
    n_vp = len(catalog.table_meta("verified_pairs")["paths"])
    assert res["delta_files"] == n_vp
    # merge-on-read view is exact; stored rows were NOT rewritten
    assert _stale_count(current_member_scores(spark, catalog), truth) == 0
    assert catalog.table_meta("member_score_patches") is not None

    # no new edges -> the refresh job reads ZERO files (scales with churn)
    res2 = refresh_member_scores(spark, catalog, CFG)
    assert res2["delta_files"] == 0 and res2["patched_members"] == 0

    # a small edge append -> the next refresh reads only THAT delta file
    # and patches at most the members it touches
    extra = catalog.read_table("verified_pairs").limit(3)
    catalog.append_table(extra, "verified_pairs", config_hash=CFG.config_hash())
    res3 = refresh_member_scores(spark, catalog, CFG)
    assert res3["delta_files"] == 1
    assert 0 < res3["patched_members"] <= 6  # <= 2 endpoints x 3 edges
    assert _stale_count(
        current_member_scores(spark, catalog), _truth_scores(catalog)
    ) == 0

    # compaction: ground-truth rewrite, patches squashed away
    res4 = refresh_member_scores(spark, catalog, CFG, compact=True)
    assert res4["mode"] == "compact"
    members = catalog.read_table("cluster_members")
    assert _stale_count(members, _truth_scores(catalog)) == 0
    assert res4["members"] == members.count()
    assert catalog.table_meta("member_score_patches") is None
    # post-compaction refresh: nothing to do
    assert refresh_member_scores(spark, catalog, CFG)["delta_files"] == 0


def test_catalog_mode_merge_has_no_localcheckpoint(
    spark, small_corpus, tmp_path, monkeypatch
):
    """With a durable catalog the increment commits exactly its resume
    points and registry appends, plus the merge's two planner-owned cuts
    (incr_matches, incr_assign) — verify's barriers stay in Spark storage
    and write no scratch table.  No barrier of the incremental path (CC
    rounds at cc_checkpoint_every=1 included) reaches localCheckpoint,
    whose blocks are not recomputable after executor loss; enforced by
    making it explode."""
    from customer_er_spark.catalog import SparkCatalog
    from pyspark.sql import DataFrame

    cfg = ERConfig(shuffle_partitions=8, cc_checkpoint_every=1)
    catalog = SparkCatalog(spark, str(tmp_path / "durable_cat"))
    initial = spark.read.parquet(f"{small_corpus['dir']}/images_initial.parquet")
    incoming = spark.read.parquet(
        f"{small_corpus['dir']}/images_incremental.parquet"
    )
    run_initial(spark, initial, catalog, cfg)

    def boom(self, eager=True):
        raise AssertionError(
            "localCheckpoint reached in catalog-mode incremental path"
        )

    committed: list[str] = []

    def recording(attr):
        orig = getattr(SparkCatalog, attr)

        def commit(self, df, name, *args, **kwargs):
            committed.append(name)
            return orig(self, df, name, *args, **kwargs)

        return commit

    monkeypatch.setattr(DataFrame, "localCheckpoint", boom)
    for attr in ("write_table", "append_table"):
        monkeypatch.setattr(SparkCatalog, attr, recording(attr))
    run_link(spark, incoming, catalog, cfg, run_key="durable")
    summary = run_incremental_match(spark, incoming, catalog, cfg)
    assert summary["total_members"] == small_corpus["rows"]
    assert committed == [
        # run_link: resume points and the audit tables
        "incoming_signatures", "link_band_stats", "link_candidates",
        "link_edges", "linked", "link_decisions", "link_review",
        # run_incremental_match: the two cuts, the appends, clusters
        "incr_matches", "incr_assign", "cluster_members", "verified_pairs",
        "signatures", "priors_bands", "clusters",
    ], committed
    # the merge's cuts are dropped after the appends commit
    leftovers = [
        t for t in catalog.list_tables()
        if t in ("incr_matches", "incr_assign", "cc_edges_incremental")
    ]
    assert leftovers == [], leftovers


def _mk_vp(spark, rows):
    return spark.createDataFrame(
        rows,
        "id_l string, id_r string, hamming int, caption_sim double, "
        "image_sim double, score double, is_match boolean",
    )


def _mk_members(spark, rows):
    return spark.createDataFrame(
        rows,
        "cluster_id string, image_id string, caption string, phash long, "
        "z_minScore double, z_maxScore double",
    ).withColumn("datetime", F.current_timestamp())


def test_refresh_invalidates_stale_patches_on_overwrite(spark, catalog):
    """r5 advice: patches computed from a REPLACED verified_pairs snapshot
    (e.g. run_initial re-run into the same catalog) must not be folded
    into the freshly-rewritten members — the refresh detects that its
    recorded lineage no longer exists and restarts from scratch."""
    from customer_er_spark.plans.incremental import (
        current_member_scores,
        refresh_member_scores,
    )

    ch = CFG.config_hash()
    catalog.write_table(
        _mk_vp(spark, [("a", "b", 0, 1.0, 1.0, 0.9, True)]),
        "verified_pairs", config_hash=ch,
    )
    catalog.write_table(
        _mk_members(spark, [("a", "a", "c", 1, 0.9, 0.9),
                            ("a", "b", "c", 1, 0.9, 0.9)]),
        "cluster_members", config_hash=ch,
    )
    refresh_member_scores(spark, catalog, CFG)
    catalog.append_table(
        _mk_vp(spark, [("a", "c", 0, 1.0, 1.0, 0.7, True)]),
        "verified_pairs", config_hash=ch,
    )
    assert refresh_member_scores(spark, catalog, CFG)["delta_files"] == 1
    assert catalog.table_meta("member_score_patches") is not None

    # fresh from-scratch run overwrites BOTH tables (new edge universe)
    catalog.write_table(
        _mk_vp(spark, [("a", "b", 0, 1.0, 1.0, 0.5, True)]),
        "verified_pairs", config_hash=ch,
    )
    catalog.write_table(
        _mk_members(spark, [("a", "a", "c", 1, 0.5, 0.5),
                            ("a", "b", "c", 1, 0.5, 0.5)]),
        "cluster_members", config_hash=ch,
    )
    res = refresh_member_scores(spark, catalog, CFG)
    # the rewritten table is ONE fresh snapshot dir; stale patches are gone
    assert res["mode"] == "patch" and res["delta_files"] == 1
    got = {
        r["image_id"]: (r["z_minScore"], r["z_maxScore"])
        for r in current_member_scores(spark, catalog).collect()
    }
    # without invalidation the old 0.7/0.9 patches would leak into these
    assert got == {"a": (0.5, 0.5), "b": (0.5, 0.5)}


def test_refresh_without_file_manifest_falls_back_to_compact(spark, catalog):
    """r5 advice (medium): a catalog backend whose table_meta exposes no
    data-file paths (IcebergCatalog) cannot drive the delta-file patch
    read — refresh must fall back to the ground-truth compact recompute
    instead of raising KeyError."""
    from customer_er_spark.plans.incremental import refresh_member_scores

    ch = CFG.config_hash()
    catalog.write_table(
        _mk_vp(spark, [("a", "b", 0, 1.0, 1.0, 0.8, True)]),
        "verified_pairs", config_hash=ch,
    )
    catalog.write_table(
        _mk_members(spark, [("a", "a", "c", 1, None, None),
                            ("a", "b", "c", 1, None, None)]),
        "cluster_members", config_hash=ch,
    )

    class NoPathsCatalog:
        """table_meta minus paths/path for verified_pairs — the exact
        metadata shape IcebergCatalog.table_meta returns."""

        def __init__(self, inner):
            self._inner = inner

        def table_meta(self, name):
            m = self._inner.table_meta(name)
            if m is not None and name == "verified_pairs":
                m = {k: v for k, v in m.items() if k not in ("paths", "path")}
            return m

        def __getattr__(self, attr):
            return getattr(self._inner, attr)

    res = refresh_member_scores(spark, NoPathsCatalog(catalog), CFG)
    assert res["mode"] == "compact" and res["changed"] == 2
    got = {
        r["image_id"]: (r["z_minScore"], r["z_maxScore"])
        for r in catalog.read_table("cluster_members").collect()
    }
    assert got == {"a": (0.8, 0.8), "b": (0.8, 0.8)}


def test_write_table_local_contract(spark, catalog):
    """Driver-local commits obey the same schema contract and manifest
    shape as distributed writes, and interoperate with them."""
    rows = [{"stage": "s1", "n": 3}, {"stage": "s2", "n": 5}]
    meta = catalog.write_table_local(rows, "tiny")
    assert meta["counts"]["rows_out"] == 2 and meta["n_files"] == 1
    got = {r["stage"]: r["n"] for r in catalog.read_table("tiny").collect()}
    assert got == {"s1": 3, "s2": 5}
    # schema contract: a changed column set raises and leaves the old
    # snapshot intact
    with pytest.raises(ValueError, match="schema change"):
        catalog.write_table_local([{"other": 1}], "tiny")
    assert catalog.read_table("tiny").count() == 2
    # distributed overwrite of a locally-written table (same schema) works
    df = spark.createDataFrame([("s9", 7)], "stage string, n long")
    catalog.write_table(df, "tiny")
    assert catalog.read_table("tiny").count() == 1
    with pytest.raises(ValueError):
        catalog.write_table_local([], "whatever")
