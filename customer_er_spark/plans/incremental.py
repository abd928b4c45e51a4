"""Incremental workflow — link incoming records to the existing registry,
then dedup the remainder and merge (reference:
/root/reference/03_Incremental_Workflow.py).

Reference shape: `link` takes two pipes of identical schema (03:106-118),
emits only linked records with z_cluster / z_score / z_source
('priors'|'incoming'), where a prior's z_score is the max over its incoming
matches (03:202-208); accept/review/reject thresholds are prose only
(03:283-288); `match` then runs on incoming alone and new clusters are
inserted for records not already present (03:397).

Ours, made concrete and cheaper:
  * priors are banded EXACTLY ONCE, ever: the initial pipeline commits a
    `priors_bands(band_key, image_id, phash)` table and every merge
    appends the increment's band rows; run_link joins the incoming side's
    band keys against that table, so an increment costs O(|incoming|)
    compute — no signature recompute, no band explode, no shuffle over
    the registry (the reference recomputes Zingg blocking over the full
    priors table every time);
  * the registry side is read whole: priors_bands is a plain table of
    band_keys rows, and link_pairs inner-joins it against the increment's
    distinct band keys, a tiny side AQE broadcasts, so only the touched
    bands reach the shuffle.  No driver-side planner or custom scan sits
    in front of the join: fixed cost dominates an increment, and reading
    fewer registry bytes did not make the link faster (README, Incremental
    workflow);
  * the bipartite band join keeps only cross-source pairs by
    construction: the blocking kernel's hot-band salting
    (operators/banded.salted_bands), then a codegen join of each
    sub-bucket's prior rows to its incoming rows, O(m*n) per sub-bucket;
  * the threshold rules are code, not prose: accept iff best score >=
    match_threshold AND the runner-up is not itself accept-grade (ambiguous
    multi-link -> review, mirroring 03:283-288's "manual review" rule);
  * registry cluster_ids are stable across runs (the initial component id
    is kept even when a cluster grows) — deliberately unlike the
    reference's per-run uuid1 minting (02B:295-309);
  * the merge is APPEND-ONLY (catalog.append_table): signatures,
    cluster_members and verified_pairs gain new data files and prior files
    are never rewritten, so a merge writes O(|incoming|) data no matter
    how large the registry is (the insert-only contract of 03:397).  Only
    the small `clusters` aggregate is recomputed.
  * exactly-once: every append manifest records the incoming_signatures
    snapshot it applied; a replayed batch (same run_key) skips recompute
    and already-applied appends instead of double-inserting.

Stale-score note (documented trade-off of insert-only): z_min/maxScore of
PRIOR member rows are not rewritten when a later link edge attaches to
them — a member's scores reflect the verified edges known when its row was
written.  Accepted link edges ARE persisted into verified_pairs (with the
real prior endpoint), so scores stay recomputable: refresh_member_scores
below folds the edge files appended since the last refresh into an
append-only patch table at O(churn) cost, current_member_scores serves the
merged view (merge-on-read), and compact=True squashes patches into the
stored rows on a compaction schedule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from customer_er_spark.catalog import SparkCatalog
from customer_er_spark.config import ERConfig
from customer_er_spark.operators.banded import salted_bands
from customer_er_spark.operators.candidates import (
    band_keys,
    bands_per_record,
    candidate_pairs,
)
from customer_er_spark.operators.components import connected_components
from customer_er_spark.operators.materialize import owned
from customer_er_spark.operators.signatures import compute_signatures
from customer_er_spark.operators.verify import verify_pairs

VERIFY_COLS = [
    "id_l", "id_r", "hamming", "caption_sim", "image_sim", "score", "is_match",
]


def link_pairs(
    priors_bands: DataFrame, incoming_sig: DataFrame, cfg: ERConfig
) -> tuple[DataFrame, DataFrame]:
    """Bipartite LSH candidates: (pairs(id_l=prior, id_r=incoming,
    hamming), band_stats) — cross-source pairs only; within-source pairs
    belong to match, not link.

    `priors_bands` is the committed (band_key, image_id, phash) table;
    only the incoming side is banded here.  The registry rows are reduced
    to the bands the increment touches (a band without an incoming member
    yields no cross pair) and salted together with the incoming rows by
    the blocking kernel's hot-band policy.  band_stats has the initial
    pipeline's audit shape over the touched bands."""
    ib = band_keys(incoming_sig, cfg).select(
        "band_key", "image_id", "phash", F.lit("i").alias("side")
    )
    inc_keys = ib.select("band_key").distinct()
    pb = priors_bands.join(inc_keys, "band_key").select(
        "band_key", "image_id", "phash", F.lit("p").alias("side")
    )
    both = pb.unionByName(ib).repartition(cfg.shuffle_partitions, "band_key")
    salted, band_stats = salted_bands(both, cfg.max_band_size, "image_id")

    # Prior x incoming rows of each (band_key, salt) sub-bucket, as a
    # co-partitioned shuffled-hash join (no exchange: the band_key
    # partitioning satisfies it) with the Hamming gate applied in codegen
    # before the distinct shuffle.  Not banded_pairs' self-join: that
    # lists all (m+n)^2 pairs of every touched sub-bucket, with or without
    # an incoming member, before a side gate drops the same-side ones —
    # 50k identical priors + 1 incoming copy took 7.4 s there against
    # 2.3 s here (local[4], 4-core host).
    def side(tag: str, sfx: str) -> DataFrame:
        return salted.where(F.col("side") == tag).select(
            "band_key", "salt",
            F.col("image_id").alias(f"id_{sfx}"),
            F.col("phash").alias(f"phash_{sfx}"),
        )

    # hamming rides along as an audit column of link_candidates (computed
    # for the gate anyway; verify_pairs reads only the ids).  distinct
    # over (id_l, id_r, hamming) equals distinct over the pair — hamming
    # is a function of the two ids.
    hamming = F.expr("bit_count(phash_l ^ phash_r)")
    pairs = (
        side("p", "l")
        .join(side("i", "r").hint("shuffle_hash"), ["band_key", "salt"])
        .where(hamming <= cfg.phash_hamming_max)
        .select("id_l", "id_r", hamming.alias("hamming"))
        .distinct()
    )
    return pairs, band_stats


def _link_summary(catalog: SparkCatalog, resumed: bool) -> dict:
    return {
        "resumed": resumed,
        "candidates": catalog.table_meta("link_candidates")["counts"]["rows_out"],
        "linked_records": catalog.table_meta("linked")["counts"]["rows_out"],
        "decisions": {
            r["decision"]: r["count"]
            for r in catalog.read_table("link_decisions")  # committed parquet,
            .groupBy("decision").count().collect()          # not the live plan
        },
    }


def run_link(
    spark: SparkSession,
    incoming: DataFrame,
    catalog: SparkCatalog,
    cfg: ERConfig | None = None,
    run_key: str | None = None,
) -> dict:
    """Link incoming against the registry; writes `incoming_signatures`,
    `link_candidates`, `link_edges` (real (prior, incoming, score) edges),
    `linked` (reference-shaped) and `link_decisions` tables.

    `run_key` (e.g. a streaming batch id) makes the run idempotent: every
    link output manifest is stamped with {run_key, incoming_signatures
    snapshot}, and the run resumes ONLY when the FINAL output
    (link_decisions) already carries this batch's run_key against the
    current incoming_signatures snapshot.  Mere table existence is not
    enough: a crash after the incoming_signatures commit but before the
    downstream commits leaves a STALE link_decisions from the previous
    batch, and resuming on it would merge the new batch using the old
    batch's decisions (lost links, duplicate edges)."""
    cfg = cfg or ERConfig()
    ch = cfg.config_hash()
    if run_key is not None:
        meta = catalog.table_meta("incoming_signatures")
        dec = catalog.table_meta("link_decisions")
        if (
            meta is not None
            and meta.get("inputs", {}).get("run_key") == run_key
            and meta.get("config_hash") == ch
            and dec is not None
            and dec.get("config_hash") == ch
            and dec.get("inputs", {}).get("run_key") == run_key
            and dec.get("inputs", {}).get("incoming_signatures")
            == meta.get("snapshot_id")
        ):
            return _link_summary(catalog, resumed=True)

    priors_sig = catalog.read_table("signatures")
    # the committed registry band table (written by run_initial, appended
    # by every merge).  Re-band the registry ONCE (restoring O(|incoming|)
    # increments) when it is missing, config-stale (registries created
    # before the banded-once contract, or a band-reshaping config change),
    # or lineage-diverged: band_keys emits EXACTLY bands_per_record rows
    # per signature row, so a row-count mismatch vs the signatures
    # manifest proves a crash landed between the signatures append and
    # the priors_bands append of some increment — those records would be
    # silently invisible to link candidate generation forever (the merge
    # fences only heal a REPLAYED batch).
    pb_meta = catalog.table_meta("priors_bands")
    sig_meta = catalog.table_meta("signatures")
    expected_rows = (
        bands_per_record(cfg) * sig_meta["counts"]["rows_out"]
        if sig_meta
        else None
    )
    if (
        pb_meta is None
        or pb_meta.get("config_hash") != ch
        or (
            expected_rows is not None
            and pb_meta["counts"]["rows_out"] != expected_rows
        )
    ):
        catalog.write_table(
            band_keys(priors_sig, cfg),
            "priors_bands",
            config_hash=ch,
            inputs={"signatures": catalog.snapshot_id("signatures") or ""},
            overwrite_schema=True,
        )

    inc_sig = compute_signatures(incoming, cfg)
    catalog.write_table(
        inc_sig, "incoming_signatures", config_hash=ch,
        inputs={"run_key": run_key or ""},
    )
    inc_sig = catalog.read_table("incoming_signatures")
    link_inputs = {
        "run_key": run_key or "",
        "incoming_signatures": catalog.snapshot_id("incoming_signatures") or "",
        "priors_bands": catalog.snapshot_id("priors_bands") or "",
    }

    # checkpoint candidates through the catalog: the bipartite band join
    # executes exactly once (the write action); verify reads the committed
    # parquet and the summary count comes free from the manifest.
    # overwrite_schema=True on every link output below: these tables are
    # pipeline-OWNED intermediates (never user-evolved), so an engine
    # upgrade that adds a column (e.g. the r6 'hamming' ride-along) must
    # roll forward over a catalog written by the previous version instead
    # of failing the schema contract (r6 advice).
    with owned():  # the salted band rows' barrier ends with these commits
        raw_pairs, link_band_stats = link_pairs(
            catalog.read_table("priors_bands"), inc_sig, cfg
        )
        catalog.write_table(
            link_band_stats, "link_band_stats", config_hash=ch,
            inputs=link_inputs, overwrite_schema=True,
        )
        catalog.write_table(
            raw_pairs, "link_candidates", config_hash=ch, inputs=link_inputs,
            overwrite_schema=True,
        )
    pairs = catalog.read_table("link_candidates")

    both_sig = priors_sig.unionByName(inc_sig)
    members = catalog.read_table("cluster_members").select(
        "image_id", "cluster_id"
    )
    # verify's gate and base barriers end with the link_edges commit
    with owned():
        scored = verify_pairs(pairs, both_sig, cfg).where("is_match")
        # persist the REAL link edges (prior endpoint, incoming endpoint,
        # full verify columns, prior's registry cluster) — the merge
        # appends the accepted subset into verified_pairs, keeping scores
        # recomputable
        link_edges = scored.join(
            members.withColumnRenamed("image_id", "id_l"), "id_l"
        ).select(*VERIFY_COLS, "cluster_id")
        catalog.write_table(
            link_edges, "link_edges", config_hash=ch, inputs=link_inputs,
            overwrite_schema=True,
        )
    linked_raw = catalog.read_table("link_edges")

    # reference-shaped `linked` output: one row per record per link group,
    # z_source tags the side, prior z_score = max over its incoming matches
    prior_rows = (
        linked_raw.groupBy("id_l", "cluster_id")
        .agg(F.max("score").alias("z_score"))
        .select(
            F.col("id_l").alias("image_id"),
            F.col("cluster_id").alias("z_cluster"),
            "z_score",
            F.lit("priors").alias("z_source"),
        )
    )
    incoming_rows = linked_raw.select(
        F.col("id_r").alias("image_id"),
        F.col("cluster_id").alias("z_cluster"),
        F.col("score").alias("z_score"),
        F.lit("incoming").alias("z_source"),
    )
    linked = prior_rows.unionByName(incoming_rows)
    catalog.write_table(
        linked, "linked", config_hash=ch, inputs=link_inputs,
        overwrite_schema=True,
    )

    # decision rules (03:283-288 made executable): per incoming record rank
    # candidate clusters by best score; accept a clear single winner at/above
    # match_threshold, review ambiguous or mid-band links, reject the rest.
    per_cluster = (
        linked_raw.groupBy("id_r", "cluster_id")
        .agg(F.max("score").alias("best_score"))
    )
    w = Window.partitionBy("id_r").orderBy(
        F.col("best_score").desc(), F.col("cluster_id").asc()
    )
    ranked = per_cluster.withColumn("rk", F.row_number().over(w))
    best = ranked.where("rk = 1").select(
        F.col("id_r").alias("image_id"),
        F.col("cluster_id").alias("best_cluster"),
        "best_score",
    )
    runner = ranked.where("rk = 2").select(
        F.col("id_r").alias("image_id"),
        F.col("best_score").alias("second_score"),
    )
    decisions = (
        best.join(runner, "image_id", "left")
        .withColumn(
            "decision",
            F.when(
                (F.col("best_score") >= cfg.match_threshold)
                & (
                    F.col("second_score").isNull()
                    | (F.col("second_score") < cfg.match_threshold)
                ),
                F.lit("accept"),
            )
            .when(F.col("best_score") >= cfg.review_threshold, F.lit("review"))
            .otherwise(F.lit("reject")),
        )
    )
    catalog.write_table(
        decisions, "link_decisions", config_hash=ch, inputs=link_inputs,
        overwrite_schema=True,
    )

    # human-in-the-loop artifact (03:283-288 surfaces review candidates to
    # a person): every candidate edge of every review-decision incoming
    # record, with BOTH sides' captions and the full score breakdown, so a
    # reviewer can adjudicate without re-running anything.  Tiny table
    # (review subset only), same lineage stamp as the decisions it mirrors.
    review = decisions.where("decision = 'review'").select(
        F.col("image_id").alias("id_r"), "best_score", "second_score"
    )
    link_review = (
        linked_raw.join(review, "id_r")
        .join(
            priors_sig.select(
                F.col("image_id").alias("id_l"),
                F.col("caption_norm").alias("caption_prior"),
            ),
            "id_l",
        )
        .join(
            inc_sig.select(
                F.col("image_id").alias("id_r"),
                F.col("caption_norm").alias("caption_incoming"),
            ),
            "id_r",
        )
        .select(
            F.col("id_r").alias("incoming_id"),
            F.col("id_l").alias("prior_id"),
            "cluster_id",
            "score",
            "hamming",
            "caption_incoming",
            "caption_prior",
            "best_score",
            "second_score",
        )
    )
    catalog.write_table(
        link_review, "link_review", config_hash=ch, inputs=link_inputs,
        overwrite_schema=True,
    )
    return _link_summary(catalog, resumed=False)


def run_incremental_match(
    spark: SparkSession,
    incoming: DataFrame,
    catalog: SparkCatalog,
    cfg: ERConfig | None = None,
) -> dict:
    """After run_link: dedup the incoming set itself, then merge into the
    registry (prose contract 03:397) — append-only, O(|incoming|) I/O:

      accepted incoming  -> appended as members of their prior cluster
      remaining incoming -> clustered among themselves (new stable ids)
      verified_pairs     -> appended: within-incoming match edges +
                            accepted link edges (real prior endpoints)
      signatures         -> appended: incoming signature rows
      clusters           -> recomputed (small aggregate) from members

    Every append manifest records the incoming_signatures snapshot id; a
    replay of the same increment skips appends that already carry it
    (exactly-once under foreachBatch replay).  The fences are consulted
    BEFORE any compute: a fully-applied replay is O(1) — no candidate
    generation, no verify, no CC (round-2 advice: the old shape paid the
    full within-incoming match cost on every replay)."""
    cfg = cfg or ERConfig()
    ch = cfg.config_hash()

    inc_sig = catalog.read_table("incoming_signatures")
    inc_snap = catalog.snapshot_id("incoming_signatures") or ""
    lineage = {"incoming_signatures": inc_snap}

    # replay fast-path: if every merge target already carries this
    # increment's lineage, the whole merge is already applied — return the
    # recorded summary without touching candidates/verify/CC.
    if all(
        (catalog.table_meta(t) or {}).get("inputs") == lineage
        for t in ("cluster_members", "verified_pairs", "signatures",
                  "priors_bands")
    ):
        saved = catalog.get_state(f"incr_summary::{inc_snap}")
        if saved is not None:
            return {**saved, "resumed": True}

    def append_once(build_df, table: str) -> dict:
        meta = catalog.table_meta(table)
        if meta is not None and meta.get("inputs") == lineage:
            return meta  # this increment is already applied to this table
        return catalog.append_table(
            build_df(), table, config_hash=ch, inputs=lineage
        )

    decisions = catalog.read_table("link_decisions")
    accepted = decisions.where("decision = 'accept'").select(
        "image_id", F.col("best_cluster").alias("cluster_id")
    )

    # match within incoming (full pipeline, incoming-only); committed
    # once — reused by components, member scores and the verified append.
    # Both cuts are planner-owned catalog tables, read back from their
    # snapshots and dropped with the CC working table once the appends
    # commit.  A commit measured faster here than a lazy persist of the
    # same cut.
    with owned():  # the kernel's and verify's barriers end with this commit
        pairs, _ = candidate_pairs(inc_sig, cfg)
        catalog.write_table(
            verify_pairs(pairs, inc_sig, cfg).where("is_match"),
            "incr_matches", config_hash=ch, inputs=lineage,
            overwrite_schema=True,
        )
    matches = catalog.read_table("incr_matches")
    # records accepted into the registry must not also seed new clusters:
    # drop within-incoming edges touching accepted records (their cluster
    # membership is already decided; the remaining graph re-clusters)
    acc_ids = accepted.select(F.col("image_id").alias("aid"))
    rem = (
        matches.join(acc_ids, matches.id_l == acc_ids.aid, "left_anti")
        .join(acc_ids, F.col("id_r") == acc_ids.aid, "left_anti")
    )
    catalog.write_table(
        connected_components(
            rem.select("id_l", "id_r"), cfg.cc_checkpoint_every,
            catalog=catalog, checkpoint_table="cc_edges_incremental",
            inputs={**lineage, "config": ch},  # durable mid-fixpoint resume
            driver_max_edges=cfg.cc_driver_max_edges,
        ),
        "incr_assign", config_hash=ch, inputs=lineage, overwrite_schema=True,
    )
    new_assign = catalog.read_table("incr_assign")

    # merged assignment for every incoming record
    inc_ids = inc_sig.select("image_id")
    merged = (
        inc_ids.join(accepted, "image_id", "left")
        .join(new_assign.withColumnRenamed("cluster_id", "new_cluster"),
              "image_id", "left")
        .withColumn(
            "cluster_id",
            F.coalesce("cluster_id", "new_cluster", "image_id"),
        )
        .select("image_id", "cluster_id")
    )

    # accepted link edges with their REAL prior endpoints (ADR: a member
    # whose only edge is a link must still carry non-NULL z_scores)
    acc = accepted.select(
        F.col("image_id").alias("id_r"), F.col("cluster_id").alias("acc_cluster")
    )
    accepted_edges = (
        catalog.read_table("link_edges")
        .join(acc, "id_r")
        .where(F.col("cluster_id") == F.col("acc_cluster"))
        .select(*VERIFY_COLS)
    )
    new_edges = matches.select(*VERIFY_COLS).unionByName(accepted_edges)

    # z_min/maxScore for the NEW member rows, from all edges that touch an
    # incoming record (within-incoming matches + accepted link edges)
    per_member = (
        new_edges.select(F.col("id_l").alias("image_id"), "score")
        .unionByName(new_edges.select(F.col("id_r").alias("image_id"), "score"))
        .groupBy("image_id")
        .agg(F.min("score").alias("z_minScore"), F.max("score").alias("z_maxScore"))
    )
    new_members = (
        merged.join(
            inc_sig.select("image_id", "caption_norm", "phash"), "image_id"
        )
        .join(per_member, "image_id", "left")
        .select(
            "cluster_id",
            "image_id",
            F.col("caption_norm").alias("caption"),
            "phash",
            "z_minScore",
            "z_maxScore",
            F.current_timestamp().alias("datetime"),
        )
    )

    n_accepted = accepted.count()
    n_new = new_assign.count()

    # append-only commits — prior data files stay byte-untouched
    m_members = append_once(lambda: new_members, "cluster_members")
    append_once(
        lambda: new_edges.withColumn("is_match", F.lit(True)), "verified_pairs"
    )
    append_once(lambda: inc_sig, "signatures")
    # keep the registry band table current: the NEXT increment's link join
    # must see this increment's records as priors (banded here, once —
    # O(|incoming|) band rows; never re-derived from the registry again).
    append_once(lambda: band_keys(inc_sig, cfg), "priors_bands")

    # clusters is a small aggregate over members — recomputed, not appended
    members_now = catalog.read_table("cluster_members")
    clusters = (
        members_now.groupBy("cluster_id")
        .agg(F.count("*").alias("n_members"))
        .withColumn("datetime", F.current_timestamp())
    )
    catalog.write_table(clusters, "clusters", config_hash=ch)
    # the durable CC working table and the merge's two cuts served their
    # purpose once the appends committed — drop them (mirrors
    # pipeline.py's drop of cc_edges) so the last increment's
    # intermediates don't linger in the catalog forever
    for t in ("cc_edges_incremental", "incr_matches", "incr_assign"):
        catalog.drop_table(t)
    summary = {
        "incoming": catalog.table_meta("incoming_signatures")["counts"]["rows_out"],
        "accepted_into_registry": n_accepted,
        "new_cluster_records": n_new,
        "total_members": m_members["counts"]["rows_out"],
    }
    # recorded so a replayed (fully-applied) increment can answer in O(1)
    catalog.set_state(f"incr_summary::{inc_snap}", summary)
    return summary


_SR_APPLIED = "score_refresh::applied_paths"
_PATCHES = "member_score_patches"


def current_member_scores(
    spark: SparkSession, catalog: SparkCatalog
) -> DataFrame:
    """cluster_members with score patches folded in (merge-on-read).

    The append-only merge never rewrites PRIOR member rows, so a prior
    that later gains link edges carries stale (or NULL) z_min/maxScore in
    its stored row; refresh_member_scores appends per-member min/max
    PATCHES instead of rewriting the table.  This view reconstitutes the
    current scores: min/max are associative + idempotent, so folding every
    patch with least/greatest (null-skipping) over the stored row equals
    the ground-truth recompute from all edges.  This is the parquet-
    manifest analog of Iceberg's merge-on-read (data files + delta files,
    folded at scan time, squashed by compaction)."""
    members = catalog.read_table("cluster_members")
    if catalog.table_meta(_PATCHES) is None:
        return members
    agg = (
        catalog.read_table(_PATCHES)
        .groupBy("image_id")
        .agg(F.min("d_min").alias("p_min"), F.max("d_max").alias("p_max"))
    )
    out_cols = members.columns
    return (
        members.join(agg, "image_id", "left")
        .withColumn("z_minScore", F.least("z_minScore", "p_min"))
        .withColumn("z_maxScore", F.greatest("z_maxScore", "p_max"))
        .select(*out_cols)
    )


def refresh_member_scores(
    spark: SparkSession,
    catalog: SparkCatalog,
    cfg: ERConfig | None = None,
    compact: bool = False,
) -> dict:
    """Maintenance op: bring member z_min/maxScore up to date with the
    edges appended since the last refresh — at O(churn) cost, not
    O(registry).

    Incremental mode (default): min/max are MONOTONE under the append-only
    edge contract (edges are only ever added), so the refresh needs to
    read ONLY the verified_pairs data files appended since the last
    refresh (tracked in catalog state by file path — "the appended data
    files' lineage").  It aggregates per-member min/max over just those
    delta files and APPENDS the result to a patch table; stored member
    rows are untouched.  Folding a patch is idempotent (re-applying the
    same edges cannot change a min or max), so a crash between the patch
    append and the state update replays harmlessly.  Readers get current
    scores from current_member_scores(); the stored rows + patches pair is
    exactly Iceberg merge-on-read, and on an Iceberg deployment this whole
    op maps to MERGE INTO with file-level skipping.

    compact=True additionally squashes: recompute every member's scores
    from the FULL verified_pairs table (ground truth), rewrite
    cluster_members once, drop the patch table.  That is the O(registry)
    job — run it like a compaction, on a schedule, never per increment.

    Backend contract: patch mode needs the catalog manifest to expose the
    snapshot's data-file paths (the parquet SparkCatalog's paths/path
    keys).  A backend without them (IcebergCatalog's table_meta carries
    snapshot ids, not file lists) falls back to the compact recompute —
    correct, just O(registry); on Iceberg the O(churn) equivalent is an
    incremental snapshot scan between the recorded and current snapshot
    ids (not implementable offline, documented here for the cluster port).
    """
    cfg = cfg or ERConfig()
    vp_meta = catalog.table_meta("verified_pairs")
    all_paths = (
        catalog._paths(vp_meta)  # resolved vs the CURRENT base dir
        if vp_meta and (vp_meta.get("paths") or vp_meta.get("path"))
        else []  # backend without a file manifest (IcebergCatalog shape)
    )
    if not all_paths and not compact:
        compact = True  # no file-path manifest -> ground-truth recompute

    if compact:
        edges = catalog.read_table("verified_pairs").where("is_match")
        per_member = (
            edges.select(F.col("id_l").alias("image_id"), "score")
            .unionByName(edges.select(F.col("id_r").alias("image_id"), "score"))
            .groupBy("image_id")
            .agg(
                F.min("score").alias("z_minScore"),
                F.max("score").alias("z_maxScore"),
            )
        )
        members = catalog.read_table("cluster_members")
        out_cols = members.columns
        refreshed = (
            members.withColumnRenamed("z_minScore", "old_min")
            .withColumnRenamed("z_maxScore", "old_max")
            .join(per_member, "image_id", "left")
            .withColumn(
                "changed",
                ~(
                    F.col("z_minScore").eqNullSafe(F.col("old_min"))
                    & F.col("z_maxScore").eqNullSafe(F.col("old_max"))
                ),
            )
        )
        n_changed = refreshed.where("changed").count()
        meta = catalog.write_table(
            refreshed.select(*out_cols),
            "cluster_members",
            config_hash=cfg.config_hash(),
            extra_meta={"score_refresh": True},
            overwrite_schema=False,
        )
        catalog.drop_table(_PATCHES)
        catalog.set_state(_SR_APPLIED, all_paths)
        return {
            "mode": "compact",
            "members": meta["counts"]["rows_out"],
            "changed": n_changed,
            "snapshot_id": meta["snapshot_id"],
        }

    applied = set(catalog.get_state(_SR_APPLIED, []))
    if applied - set(all_paths):
        # the recorded lineage names data files the current snapshot no
        # longer contains: verified_pairs was OVERWRITTEN (e.g. run_initial
        # re-run into this catalog) since the last refresh.  Patches
        # computed from the replaced edge snapshot are stale relative to
        # the freshly-rewritten member rows — drop them and restart from
        # the full current snapshot (folding every current edge over the
        # rewritten rows is idempotent and equals the ground truth).
        catalog.drop_table(_PATCHES)
        applied = set()
    delta = [p for p in all_paths if p not in applied]
    if not delta:
        return {"mode": "patch", "delta_files": 0, "patched_members": 0}
    # replay fence: a crash between the patch append and the state update
    # re-enters with the same delta — the committed patch manifest already
    # records it, so just finish the state update (no duplicate append)
    pm = catalog.table_meta(_PATCHES)
    delta_key = ",".join(sorted(delta))
    if (
        pm is not None
        and pm.get("inputs", {}).get("verified_pairs_delta") == delta_key
    ):
        catalog.set_state(_SR_APPLIED, all_paths)
        return {
            "mode": "patch",
            "delta_files": len(delta),
            "patched_members": pm["counts"]["rows_appended"],
            "resumed": True,
        }
    edges = spark.read.parquet(*delta).where("is_match")
    patch = (
        edges.select(F.col("id_l").alias("image_id"), "score")
        .unionByName(edges.select(F.col("id_r").alias("image_id"), "score"))
        .groupBy("image_id")
        .agg(F.min("score").alias("d_min"), F.max("score").alias("d_max"))
    )
    meta = catalog.append_table(
        patch, _PATCHES, config_hash=cfg.config_hash(),
        inputs={"verified_pairs_delta": delta_key},
    )
    catalog.set_state(_SR_APPLIED, all_paths)
    return {
        "mode": "patch",
        "delta_files": len(delta),
        "patched_members": meta["counts"]["rows_appended"],
        "snapshot_id": meta["snapshot_id"],
    }
