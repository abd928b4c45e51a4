"""The initial (dedup) workflow — the reference's `match` task re-imagined
as an explicit, checkpointed, resumable staged DAG.

Reference shape (/root/reference/02_Initial_Workflow_Part_B.py): one opaque
`trainMatch.execute()` (line 229) followed by registry post-processing
(lines 250-357).  Ours:

    ingest -> signatures -> candidate_pairs -> verified_pairs
           -> components -> clusters + cluster_members (+ metrics tables)

Every stage writes a catalog snapshot keyed by (config_hash, upstream
snapshot ids); a rerun skips any stage whose key matches — kill the job
after stage k and the rerun resumes at k+1 with byte-identical output
(deterministic ids replace the reference's uuid1, 02B:295-309).

Output parity (02B:264-266, 319-357):
  cluster_members(cluster_id, image_id, caption, phash,
                  z_minScore, z_maxScore, datetime)
      z_minScore/z_maxScore = weakest/strongest verified link of that
      record to other members of its cluster (NULL for singletons).
  clusters(cluster_id, n_members, datetime)
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from customer_er_spark.catalog import SparkCatalog
from customer_er_spark.config import ERConfig
from customer_er_spark.operators.candidates import (
    band_keys,
    candidate_pairs_from_bands,
)
from customer_er_spark.operators.components import connected_components
from customer_er_spark.operators.materialize import owned
from customer_er_spark.operators.signatures import compute_signatures
from customer_er_spark.operators.verify import verify_pairs
from customer_er_spark.plans.lineage import StageMetrics


def run_initial(
    spark: SparkSession,
    images: DataFrame,
    catalog: SparkCatalog,
    cfg: ERConfig | None = None,
    images_snapshot: str = "images-external",
    n_images: int | None = None,
) -> dict:
    """Run (or resume) the full dedup pipeline; returns stage summary.
    Pass n_images when the caller already counted the input (parquet
    counts are footer-cheap, but the job scheduling isn't free)."""
    cfg = cfg or ERConfig()
    ch = cfg.config_hash()
    metrics = StageMetrics(spark, catalog)
    summary: dict[str, dict] = {}

    def stage(name: str, inputs: dict[str, str], build, rows_in: int,
              overwrite_schema: bool = False):
        t0 = time.time()
        if catalog.has_snapshot(name, ch, inputs):
            summary[name] = {"resumed": True, **catalog.table_meta(name)["counts"]}
            return catalog.read_table(name)
        with owned():  # the stage's shared barriers end with its commit
            manifest = catalog.write_table(build(), name, config_hash=ch,
                                           inputs=inputs,
                                           overwrite_schema=overwrite_schema)
        out = catalog.read_table(name)
        rows_out = manifest["counts"]["rows_out"]
        metrics.record(
            name, rows_in, rows_out, time.time() - t0, ch, inputs,
            manifest["snapshot_id"], data_files=manifest.get("data_files"),
        )
        summary[name] = {"resumed": False, "rows_out": rows_out,
                         "wall_sec": round(time.time() - t0, 2)}
        return out

    if n_images is None:
        n_images = images.count()
    inputs0 = {"images": images_snapshot}

    sig = stage("signatures", inputs0,
                lambda: compute_signatures(images, cfg), n_images)

    sig_snap = {"signatures": catalog.snapshot_id("signatures") or ""}

    # the band table is COMMITTED, not just exploded in-flight: increments
    # (plans/incremental.py link_pairs) join their band keys against this
    # table instead of re-banding the whole registry on every run, and
    # each merge appends the incoming band rows — the registry is banded
    # exactly once per record, ever.  It is a plain table (band_keys
    # output as is): the link reads it whole and its inner join against
    # the increment's distinct band keys keeps only the touched bands.
    bands = stage("priors_bands", sig_snap,
                  lambda: band_keys(sig, cfg), n_images,
                  overwrite_schema=True)
    bands_snap = {
        **sig_snap,
        "priors_bands": catalog.snapshot_id("priors_bands") or "",
    }

    def build_pairs():
        pairs, band_stats = candidate_pairs_from_bands(bands, cfg)
        catalog.write_table(band_stats, "band_stats", config_hash=ch,
                            inputs=bands_snap, overwrite_schema=True)
        return pairs

    # overwrite_schema=True on the pipeline-owned intermediates: an engine
    # upgrade that changes their columns (candidate_pairs lost its
    # phash_l/phash_r payload once verify_pairs read only the ids) must
    # roll forward over a catalog written by the previous version instead
    # of failing the schema contract.  User-facing outputs
    # (cluster_members, clusters) keep the strict contract.
    cand = stage("candidate_pairs", bands_snap, build_pairs, n_images,
                 overwrite_schema=True)

    cand_snap = {
        "signatures": catalog.snapshot_id("signatures") or "",
        "candidate_pairs": catalog.snapshot_id("candidate_pairs") or "",
    }
    # the calibration aggregates ride the verified_pairs WRITE as observed
    # metrics — the report below then commits driver-side with zero extra
    # Spark jobs (r6 verdict #2: the separate read-back+groupBy+write job
    # was pure fixed cost in the pipeline tail)
    from customer_er_spark.operators.calibrate import (
        calibration_observation,
        calibration_rows,
        calibration_schema,
    )

    cal_obs, cal_aggs = calibration_observation()
    verified = stage(
        "verified_pairs", cand_snap,
        lambda: verify_pairs(cand, sig, cfg).observe(cal_obs, *cal_aggs),
        summary_rows(summary, "candidate_pairs"),
        overwrite_schema=True,
    )

    matches = verified.where("is_match")
    ver_snap = {"verified_pairs": catalog.snapshot_id("verified_pairs") or ""}

    # B1 parity (threshold calibration, the deterministic stand-in for the
    # reference's findTrainingData labeling loop, 02A:236-285)
    t0 = time.time()
    if catalog.has_snapshot("calibration_report", ch, ver_snap):
        summary["calibration_report"] = {
            "resumed": True,
            **catalog.table_meta("calibration_report")["counts"],
        }
    else:
        if summary["verified_pairs"].get("resumed"):
            # resumed verified stage ran no write action, so the
            # observation never fired — one small groupBy job instead
            from customer_er_spark.operators.calibrate import (
                calibration_report_scores,
            )

            rows = [
                r.asDict()
                for r in calibration_report_scores(verified)
                .orderBy("stratum")
                .collect()
            ]
        else:
            rows = calibration_rows(cal_obs.get)
        manifest = catalog.write_table_local(
            rows, "calibration_report", config_hash=ch, inputs=ver_snap,
            schema=calibration_schema(),
        )
        metrics.record(
            "calibration_report", summary_rows(summary, "verified_pairs"),
            manifest["counts"]["rows_out"], time.time() - t0, ch, ver_snap,
            manifest["snapshot_id"],
        )
        summary["calibration_report"] = {
            "resumed": False,
            "rows_out": manifest["counts"]["rows_out"],
            "wall_sec": round(time.time() - t0, 2),
        }

    assignments = stage(
        "assignments", ver_snap,
        lambda: connected_components(
            matches.select("id_l", "id_r"), cfg.cc_checkpoint_every,
            catalog=catalog, checkpoint_table="cc_edges",
            inputs={**ver_snap, "config": ch},  # durable mid-fixpoint resume
            driver_max_edges=cfg.cc_driver_max_edges,
            # the verified_pairs row count (matches are a subset) is
            # already in hand — a known-large graph skips the probe scan
            n_edges_hint=summary_rows(summary, "verified_pairs"),
        ),
        summary_rows(summary, "verified_pairs"),
    )
    # the committed assignments supersede the CC working checkpoint
    if catalog.has_snapshot("assignments", ch, ver_snap):
        catalog.drop_table("cc_edges")

    reg_inputs = {
        "assignments": catalog.snapshot_id("assignments") or "",
        "signatures": catalog.snapshot_id("signatures") or "",
    }

    def build_members():
        return build_cluster_members(sig, assignments, matches)

    members = stage("cluster_members", reg_inputs, build_members, n_images)

    def build_clusters():
        return (
            members.groupBy("cluster_id")
            .agg(F.count("*").alias("n_members"))
            .withColumn("datetime", F.current_timestamp())
        )

    stage("clusters", {"cluster_members":
                       catalog.snapshot_id("cluster_members") or ""},
          build_clusters, summary_rows(summary, "cluster_members"))

    metrics.flush()
    summary["n_images"] = n_images
    return summary


def summary_rows(summary: dict, stage_name: str) -> int:
    return int(summary.get(stage_name, {}).get("rows_out", 0))


def build_cluster_members(
    sig: DataFrame, assignments: DataFrame, matches: DataFrame
) -> DataFrame:
    """Every input record gets a row; records in no verified pair form
    singleton clusters (cluster_id = own image_id), mirroring the
    reference's size-1-cluster-dominated output (02B:266)."""
    base = sig.select("image_id", "caption_norm", "phash").join(
        assignments, "image_id", "left"
    )
    base = base.withColumn(
        "cluster_id", F.coalesce("cluster_id", "image_id")
    )
    # per-record weakest/strongest link within its cluster (02B:264-266)
    link_scores = (
        matches.select(F.col("id_l").alias("image_id"), "score")
        .unionByName(matches.select(F.col("id_r").alias("image_id"), "score"))
        .groupBy("image_id")
        .agg(F.min("score").alias("z_minScore"), F.max("score").alias("z_maxScore"))
    )
    return (
        base.join(link_scores, "image_id", "left")
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


def recall_vs_truth(
    spark: SparkSession, members: DataFrame, truth_pairs: DataFrame
) -> dict:
    """Dup-pair recall/precision of the produced clustering vs planted truth
    (the BASELINE.json >=0.99 gate; truth ≙ the reference's recid hook,
    /root/reference/01_Prepare_Data.py:233-235)."""
    m = members.select("image_id", "cluster_id")
    found = (
        m.alias("l")
        .join(m.alias("r"), F.col("l.cluster_id") == F.col("r.cluster_id"))
        .where(F.col("l.image_id") < F.col("r.image_id"))
        .select(
            F.col("l.image_id").alias("id_l"), F.col("r.image_id").alias("id_r")
        )
    )
    truth = truth_pairs.select("id_l", "id_r")
    tp = found.join(truth, ["id_l", "id_r"], "inner").count()
    n_truth = truth.count()
    n_found = found.count()
    return {
        "recall": tp / n_truth if n_truth else 1.0,
        "precision": tp / n_found if n_found else 1.0,
        "truth_pairs": n_truth,
        "found_pairs": n_found,
        "true_positives": tp,
    }
