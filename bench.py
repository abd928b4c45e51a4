"""Benchmark harness — prints ONE JSON line.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the flagship image+caption dedup pipeline
end-to-end on a deterministic synthetic corpus (cached across runs), and
reports per-query seconds + pipeline images/sec.

    {"metric": "e2e_sec", "value": <total>, "unit": "sec",
     "queries": {...}, "sf": <sf>, "images_per_sec": <thr>, ...}

Per-layer traces and paired comparisons belong to perfbench/ (see
perfbench/README.md); BENCH/BASELINE.md holds the historical
scaling-efficiency runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from customer_er_spark.session import default_cpus

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cpus()
N_BENCH_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "6000"))
# best-of-N per query: this sandbox shows 2-3x wall-clock jitter between
# runs (see BENCH/BASELINE.md), so a single-shot number is noise — the
# round-2 "regression" was pure host jitter, so the harness takes the
# best of N.
N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
N_PIPE_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_PIPE_RUNS", "3"))

BENCH_QUERIES = [
    "pricing_summary",
    "revenue_per_nation",
    "window_topk",
    "events_hourly",
    "argmax_order",
    "exact_dedup",
    "token_counts",
    "quality_counts",
    "minhash_lsh_pairs",
    "simhash_pairs",
    "embedding_topk_lsh",
]


def _raw_operator_overrides():
    """Bench the raw LSH operators, not the oracle-checked compositions the
    correctness gate runs (those deliberately add an exact brute-force /
    exact-Jaccard verification layer that exists for value checking, not as
    the scale path)."""
    from customer_er_spark.operators.dedup import minhash_lsh_pairs
    from customer_er_spark.operators.similarity import lsh_topk

    from __spark_entry__ import _CFG

    return {
        "minhash_lsh_pairs": lambda spark, sf: minhash_lsh_pairs(
            spark.read.parquet(f"{sf}/documents.parquet"), _CFG, jaccard_min=0.5
        ),
        "embedding_topk_lsh": lambda spark, sf: lsh_topk(
            spark.read.parquet(f"{sf}/embeddings.parquet"), k=5, dim=64
        ),
    }


def _sf_label(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def bench_corpus_dir() -> str:
    """Deterministic corpus cache — datagen(seed) always produces the same
    bytes, so reuse across bench runs is safe."""
    d = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "data", f"bench_images_{N_BENCH_IMAGES}")
    marker = os.path.join(d, "images.parquet")
    if not os.path.exists(marker):
        from customer_er_spark.datagen import write_corpus

        n_base = int(N_BENCH_IMAGES / 1.25)  # dup_fraction 0.25
        write_corpus(d, n_base=n_base, dup_fraction=0.25, seed=42)
    return d


def main() -> None:
    from customer_er_spark.config import ERConfig
    from customer_er_spark.session import get_spark

    import __spark_entry__ as entry_mod

    corpus = bench_corpus_dir()

    spark = get_spark("bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS)
    qfns = dict(entry_mod.queries())
    qfns.update(_raw_operator_overrides())
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}

    from customer_er_spark.catalog import SparkCatalog
    from customer_er_spark.plans.pipeline import recall_vs_truth, run_initial

    for name in BENCH_QUERIES:
        runs = []
        for _ in range(N_RUNS):
            t0 = time.time()
            df = qfns[name](spark, SF_DIR)
            n = df.count()
            runs.append(round(time.time() - t0, 3))
        timings[name] = min(runs)
        all_runs[name] = runs
        print(f"# {name}: best={timings[name]}s runs={runs} rows={n}",
              file=sys.stderr)

    # flagship: full image+caption dedup pipeline, fresh catalog per run
    images = spark.read.parquet(f"{corpus}/images.parquet")
    n_images = images.count()
    cfg = ERConfig(shuffle_partitions=CPUS)
    pipe_runs = []
    for _ in range(N_PIPE_RUNS):
        cat_dir = tempfile.mkdtemp(prefix="bench_cat_")
        try:
            catalog = SparkCatalog(spark, cat_dir)
            t0 = time.time()
            run_initial(spark, images, catalog, cfg)
            pipe_runs.append(round(time.time() - t0, 3))
            truth = spark.read.parquet(f"{corpus}/truth_pairs.parquet")
            rec = recall_vs_truth(
                spark, catalog.read_table("cluster_members"), truth
            )
        finally:
            shutil.rmtree(cat_dir, ignore_errors=True)
    timings["image_dedup_pipeline"] = min(pipe_runs)
    all_runs["image_dedup_pipeline"] = pipe_runs
    print(f"# image_dedup_pipeline: "
          f"best={timings['image_dedup_pipeline']}s runs={pipe_runs}",
          file=sys.stderr)

    pipe_sec = timings["image_dedup_pipeline"]
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "e2e_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "all_runs": all_runs,
        "n_runs": N_RUNS,
        "sf": _sf_label(SF_DIR),
        "cpus": CPUS,
        "pipeline_images": n_images,
        "images_per_sec": round(n_images / pipe_sec, 1),
        "pipeline_recall": round(rec["recall"], 4),
        "pipeline_precision": round(rec["precision"], 4),
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
