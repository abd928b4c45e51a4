"""The one materialization barrier (operators/materialize.py): composing a
plan runs no job, every operator releases what it cached, an output cut
survives losing an executor, and no other module grows a barrier of its
own."""

import json
import os
import pathlib
import random
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

from customer_er_spark.config import ERConfig
from customer_er_spark.operators.materialize import owned

REPO = pathlib.Path(__file__).resolve().parents[1]
CFG = ERConfig(shuffle_partitions=8)


def test_barrier_lives_in_one_module():
    """No module outside operators/materialize.py caches, checkpoints or
    reaches into the JVM plan on its own."""
    banned = re.compile(
        r"localCheckpoint|\.persist\(|\.unpersist\(|_jdf|SPARK_GRAFT_PLAN_FULL"
    )
    barrier = REPO / "customer_er_spark" / "operators" / "materialize.py"
    hits = [
        f"{path.relative_to(REPO)}:{n}: {line.strip()}"
        for path in sorted((REPO / "customer_er_spark").rglob("*.py"))
        if path != barrier
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []


def _docs(spark, n=300, seed=3):
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(60)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randint(12, 30)))
             for _ in range(n)]
    texts += texts[: n // 5]  # exact copies: every operator finds pairs
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")


def _vectors(spark, n=200, dim=16, seed=5):
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim))
    m[n // 2:] = m[: n - n // 2] + 0.01 * rng.standard_normal((n - n // 2, dim))
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(m)],
        "vec_id long, embedding array<double>",
    )


def _image_sigs(spark, small_corpus):
    from customer_er_spark.operators.signatures import compute_signatures

    images = spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
    return compute_signatures(images, CFG)


def _jobs_while(spark, build):
    sc = spark.sparkContext
    group = f"compose-{random.getrandbits(32)}"
    sc.setJobGroup(group, "compose")
    try:
        build()
    finally:
        sc.setJobGroup("", "")
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_composing_kernel_plans_runs_no_job(spark, small_corpus, tmp_path):
    """The kernel's and verify's shared barriers are lazy: building
    candidate, verify and SimHash signature plans, with the barriers taken
    inside an owned() scope, launches no Spark job."""
    from customer_er_spark.operators.banded import banded_pairs
    from customer_er_spark.operators.candidates import (
        band_keys,
        candidate_pairs_from_bands,
    )
    from customer_er_spark.operators.dedup import (
        simhash_band_keys,
        simhash_signatures,
    )
    from customer_er_spark.operators.verify import verify_pairs
    from customer_er_spark.plans import incremental

    sig = _image_sigs(spark, small_corpus)
    sig.write.parquet(str(tmp_path / "sig"))
    sig = spark.read.parquet(str(tmp_path / "sig"))
    bands = band_keys(sig, CFG)
    with owned():
        assert _jobs_while(spark, lambda: banded_pairs(
            bands, id_col="image_id", max_band_size=CFG.max_band_size,
            shuffle_partitions=CFG.shuffle_partitions)) == []
        assert _jobs_while(
            spark, lambda: candidate_pairs_from_bands(bands, CFG)) == []
        assert _jobs_while(
            spark, lambda: incremental.candidate_pairs(sig, CFG)) == []
        assert _jobs_while(
            spark, lambda: incremental.link_pairs(bands, sig, CFG)) == []
        assert _jobs_while(spark, lambda: verify_pairs(
            candidate_pairs_from_bands(bands, CFG)[0], sig, CFG)) == []

    # the SimHash kernel sizes nothing with an action: fan-out width and
    # the output schema come from the plan
    _docs(spark).write.parquet(str(tmp_path / "docs"))
    docs = spark.read.parquet(str(tmp_path / "docs"))
    with owned():
        assert _jobs_while(spark, lambda: simhash_signatures(docs)) == []
        assert _jobs_while(spark, lambda: banded_pairs(
            simhash_band_keys(simhash_signatures(docs)), id_col="doc_id",
            payload_cols=("sim_hi", "sim_lo"), max_band_size=1024,
            shuffle_partitions=CFG.shuffle_partitions)) == []


def _persistent_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _operators(spark):
    from customer_er_spark.operators import dedup, similarity, simjoin, textops

    docs, vecs = _docs(spark), _vectors(spark)
    return {
        "minhash_lsh_pairs": lambda: [dedup.minhash_lsh_pairs(docs, CFG)],
        "simhash_pairs": lambda: [dedup.simhash_pairs(
            docs, shuffle_partitions=8)],
        "lsh_topk": lambda: [similarity.lsh_topk(
            vecs, k=3, dim=16, shuffle_partitions=8)],
        "ivf_topk": lambda: [similarity.ivf_topk(
            vecs, k=3, dim=16, n_centroids=8, n_probe=2)],
        "sparse_cosine_join": lambda: list(simjoin.sparse_cosine_join(
            simjoin.hashed_shingle_counts(docs, dim=1024, n=2), 0.8,
            shuffle_partitions=8, with_stats=True)),
        "duplicate_spans": lambda: [textops.duplicate_spans(docs, min_len=20)],
        "dedup_substrings": lambda: [
            textops.dedup_substrings(docs, min_len=20)],
        "dedup_clusters": lambda: [dedup.dedup_clusters(spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "id_l long, id_r long"))],
    }


@pytest.mark.parametrize("name", [
    "minhash_lsh_pairs", "simhash_pairs", "lsh_topk", "ivf_topk",
    "sparse_cosine_join", "duplicate_spans", "dedup_substrings",
    "dedup_clusters",
])
def test_operator_leaves_only_its_output_cut(spark, name):
    """An operator frees everything it cached before returning; what is
    left is its output cut, which the caller's unpersist() frees."""
    before = _persistent_rdds(spark)
    outs = _operators(spark)[name]()
    for df in outs:
        df.collect()
    cuts = [df for df in outs if df.is_cached]
    assert len(_persistent_rdds(spark) - before) == len(cuts)
    for df in cuts:
        df.unpersist()
    assert _persistent_rdds(spark) - before == set()


def test_verify_in_scope_releases(spark, small_corpus):
    """verify_pairs' shared barriers belong to the caller's scope."""
    from customer_er_spark.operators.candidates import candidate_pairs
    from customer_er_spark.operators.verify import verify_pairs

    sig = _image_sigs(spark, small_corpus)
    before = _persistent_rdds(spark)
    with owned():
        pairs, _ = candidate_pairs(sig, CFG)
        n = verify_pairs(pairs, sig, CFG).where("is_match").count()
        assert _persistent_rdds(spark) - before  # barriers were taken
    assert n > 0
    assert _persistent_rdds(spark) - before == set()


def test_pipeline_and_increment_leave_nothing(spark, small_corpus, catalog):
    from customer_er_spark.plans.incremental import (
        run_incremental_match,
        run_link,
    )
    from customer_er_spark.plans.pipeline import run_initial

    d = small_corpus["dir"]
    initial = spark.read.parquet(f"{d}/images_initial.parquet")
    incoming = spark.read.parquet(f"{d}/images_incremental.parquet")
    before = _persistent_rdds(spark)
    run_initial(spark, initial, catalog, CFG)
    run_link(spark, incoming, catalog, CFG)
    run_incremental_match(spark, incoming, catalog, CFG)
    assert _persistent_rdds(spark) - before == set()


_EXECUTOR_LOSS = r"""
import json, os, sys, time
import numpy as np
sys.path.insert(0, sys.argv[1])
from customer_er_spark.session import get_spark
from customer_er_spark.operators.similarity import lsh_topk

# no partition coalescing: the cut keeps 8 partitions on both executors
spark = get_spark("executor-loss", master="local-cluster[2,1,1024]",
                  shuffle_partitions=8,
                  extra_conf={"spark.executorEnv.PYTHONPATH": sys.argv[1],
                              "spark.sql.adaptive.coalescePartitions.enabled":
                              "false"})
sc = spark.sparkContext
jsc = sc._jsc.sc()
while jsc.getExecutorIds().size() < 2:
    time.sleep(0.5)
m = np.random.default_rng(5).standard_normal((400, 16))
vecs = spark.createDataFrame([(i, [float(x) for x in row])
                              for i, row in enumerate(np.vstack([m, m + 1e-3]))],
                             "vec_id long, embedding array<double>")
ref = lsh_topk(vecs, k=3, dim=16, shuffle_partitions=8)
want = sorted(map(tuple, ref.collect()))
ref.unpersist()
out = lsh_topk(vecs, k=3, dim=16, shuffle_partitions=8)
jsc.killExecutor("0")
while jsc.getExecutorIds().size() > 1:
    time.sleep(0.5)
time.sleep(2)  # block manager master drops the lost executor's blocks
cached = [(r.numCachedPartitions(), r.numPartitions())
          for r in jsc.getRDDStorageInfo()]
lost = not cached or any(c < n for c, n in cached)
got = sorted(map(tuple, out.collect()))
print("RESULT", json.dumps({
    "rows": len(want), "lost_blocks": lost, "same": got == want,
    # the standalone worker keeps executor logs in $SPARK_HOME/work/<app>
    "worker_dir": os.path.join(
        sc._jvm.java.lang.System.getenv("SPARK_HOME") or ".", "work",
        sc.applicationId),
}))
spark.stop()
"""


def test_output_cut_survives_executor_loss(tmp_path):
    """On a two-executor cluster, killing an executor after the operator
    returned loses part of its output cut; reading it recomputes the lost
    blocks and returns the rows of an undisturbed run."""
    script = tmp_path / "executor_loss.py"
    script.write_text(_EXECUTOR_LOSS)
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, str(script), str(REPO)], cwd=str(REPO), env=env,
        capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert lines, proc.stderr[-3000:]
    result = json.loads(lines[-1][len("RESULT "):])
    shutil.rmtree(result["worker_dir"], ignore_errors=True)
    assert result["rows"] > 0
    assert result["lost_blocks"]  # the kill took part of the cut with it
    assert result["same"]
