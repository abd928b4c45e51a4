"""Stage 2b — connected components over the verified-match pair graph.

Replaces Zingg's opaque transitive cluster assignment (observed only through
its z_cluster output, /root/reference/02_Initial_Workflow_Part_B.py:250-266)
with the alternating large-star / small-star algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SoCC'14), expressed as pure
DataFrame groupBy+join rounds:

  large-star: for each node u (over bidirected edges), connect every
              strictly-larger neighbor to m = min(N(u) ∪ {u})
  small-star: orient edges to (hi, lo); for each hi, connect hi and all its
              lo-neighbors to the minimum lo

Converges in O(log n) rounds to per-component stars centered at the minimum
node id; that minimum id IS the cluster id — deterministic across reruns,
unlike the reference's uuid1-per-row GUID minting which it must cache() to
freeze (/root/reference/02_Initial_Workflow_Part_B.py:295-309, a
resumability bug we deliberately do not copy).

Node ids are the string image_ids: no int remapping pass, no collision risk
at 10^12 rows, lexicographic min as the deterministic tie-break.

Scale: every round is groupBy(min) + self-join on node id — both shuffle on
the same key so the exchange is reused; every round's lineage is cut
(operators/materialize.round_cut), and every `checkpoint_every` rounds
with a catalog the edge set is committed as a checkpoint table instead.
Convergence test = observed metrics (count, bit_xor of row hashes)
collected BY the materialization action itself — zero extra jobs per
round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from customer_er_spark.operators.materialize import round_cut


def _large_star(edges: DataFrame) -> DataFrame:
    nbrs = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.withColumn("m", F.least("mv", "u")).select("u", "m")
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    body = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    center = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return (
        body.unionByName(center)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _driver_components(pdf) -> "object":
    """Union-find over a BOUNDED edge list on the driver, vectorized as
    min-label propagation + pointer jumping (both O(log n) numpy rounds —
    no per-edge Python loop).  Node ids sort lexicographically, and
    np.unique returns them sorted, so integer-rank minimum == the string
    minimum the iterative path produces: the two paths are bit-identical.
    """
    import numpy as np
    import pandas as pd

    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    keep = src != dst
    src, dst = src[keep], dst[keep]
    if not len(src):
        return pd.DataFrame({"image_id": [], "cluster_id": []}, dtype=object)
    nodes = np.unique(np.concatenate([src, dst]))  # sorted: rank == lex order
    s = np.searchsorted(nodes, src)
    d = np.searchsorted(nodes, dst)
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = label
        lab = label.copy()
        np.minimum.at(lab, s, label[d])
        np.minimum.at(lab, d, label[s])
        while True:  # flatten the label forest
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped
        if np.array_equal(lab, prev):
            break
        label = lab
    return pd.DataFrame({"image_id": nodes, "cluster_id": nodes[label]})


def connected_components(
    pairs: DataFrame,
    checkpoint_every: int = 3,
    max_iterations: int = 50,
    catalog=None,
    checkpoint_table: str = "cc_edges",
    inputs: dict | None = None,
    driver_max_edges: int = 2_000_000,
    n_edges_hint: int | None = None,
) -> DataFrame:
    """pairs(id_l, id_r) -> assignments(image_id, cluster_id).

    cluster_id = min image_id of the component.  Only nodes that appear in
    at least one edge are returned; callers union in singletons.

    Small graphs take a BOUNDED driver fast path: when the raw pair list has
    at most `driver_max_edges` rows (~0.4 GB of Arrow-collected string
    pairs at the 2M default — a fraction of any real driver heap), the
    whole fixpoint collapses to ONE bounded scan of the committed pair
    table plus a vectorized driver union-find, instead of >= 2 full
    star-round jobs whose cost at bench scale is almost entirely per-round
    scheduling.  `n_edges_hint` (any cheap upper bound the caller already
    has, e.g. the verified_pairs row count) skips even the probe scan when
    the graph is known to be large; above the cap the alternating
    large-star/small-star rounds below run unchanged — that is the
    10^12-scale path, where the pair graph is billions of edges.  The fast
    path is deterministic (min-id) and idempotent; it needs no
    mid-fixpoint checkpoint because it IS one short step — a killed run
    replays less work than one checkpoint interval of the iterative path.

    Durability (iterative path): with a `catalog`, every
    `checkpoint_every` rounds the edge set is committed as the
    `checkpoint_table` snapshot (manifest records the round number and the
    caller's `inputs` lineage).  A killed run resumes the fixpoint from
    the last committed round instead of restarting at iteration 0 — the
    caller drops the table once its own downstream output is committed.
    The other rounds cut lineage with operators/materialize.round_cut.
    """
    from pyspark.sql import Observation

    def _observed(e: DataFrame) -> tuple[DataFrame, Observation]:
        # order-independent set signature (count, bit_xor of row hashes),
        # attached as OBSERVED metrics so the materialization action
        # (checkpoint write / round cut) computes it for free — one
        # job per round instead of two (the r5 profile showed the
        # assignments stage as nearly all fixed per-round cost).  False
        # convergence needs a 2^-64 xor collision at equal count.
        obs = Observation()
        return e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("x"),
        ), obs

    def _sig_job(e: DataFrame) -> tuple:
        # resume path only: the checkpoint table is already materialized,
        # so the signature costs one explicit agg job
        row = e.select(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("x"),
        ).collect()[0]
        return (row["n"], row["x"])

    edges = (
        pairs.select(F.col("id_l").alias("src"), F.col("id_r").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    start_round = 0
    lineage = inputs or {}
    resumable = None
    if catalog is not None:
        resumable = catalog.table_meta(checkpoint_table)
        if not (
            resumable is not None
            and resumable.get("inputs") == lineage
            and "cc_round" in resumable
        ):
            resumable = None
    if (
        resumable is None  # a mid-fixpoint checkpoint outranks the probe
        and driver_max_edges
        and (n_edges_hint is None or n_edges_hint <= driver_max_edges)
    ):
        probe = (
            pairs.select(
                F.col("id_l").alias("src"), F.col("id_r").alias("dst")
            )
            .limit(driver_max_edges + 1)
            .toPandas()
        )
        if len(probe) <= driver_max_edges:
            return pairs.sparkSession.createDataFrame(
                _driver_components(probe),
                "image_id string, cluster_id string",
            )
    # round 0 is NOT materialized (r6 verdict #2: it was a whole catalog
    # write of pure fixed cost): the first star round consumes the lazy
    # derivation directly — the doubled reference inside _large_star
    # resolves to one computation via Spark's ReusedExchange on the
    # identical distinct subplan — and the first MATERIALIZED round's own
    # observed signature seeds the convergence test (sig=None below means
    # "no materialized round yet", so the loop always runs >= 2 rounds,
    # exactly as many actions as the old init+rounds shape needed on an
    # already-converged graph and one fewer on every other graph).
    # Durability is unchanged in kind: a crash before the first checkpoint
    # write replays at most checkpoint_every rounds, the same bound as
    # between any two checkpoints.
    sig = None
    if resumable is not None:
        edges = catalog.read_table(checkpoint_table)  # resume mid-fixpoint
        start_round = resumable["cc_round"]
        sig = _sig_job(edges)

    for it in range(start_round, max_iterations):
        obs_e, obs = _observed(_small_star(_large_star(edges)))
        if catalog is not None and (it + 1) % checkpoint_every == 0:
            catalog.write_table(
                obs_e, checkpoint_table, inputs=lineage,
                extra_meta={"cc_round": it + 1},
            )
            new_edges = catalog.read_table(checkpoint_table)
        else:
            new_edges = round_cut(obs_e)
        new_sig = (obs.get["n"], obs.get["x"])
        edges = new_edges
        if new_sig == sig:
            break
        sig = new_sig
    else:  # pragma: no cover
        raise RuntimeError(f"components did not converge in {max_iterations} rounds")

    # fixpoint edges form stars (member -> root); root maps to itself
    members = edges.select(
        F.col("src").alias("image_id"), F.col("dst").alias("cluster_id")
    )
    roots = edges.select(
        F.col("dst").alias("image_id"), F.col("dst").alias("cluster_id")
    )
    return (
        members.unionByName(roots)
        .groupBy("image_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
