"""Reusable salted banded self-join — the engine's one blocking kernel.

Every LSH-style operator in the engine (image candidate generation,
MinHash/SimHash document dedup, hyperplane ANN buckets) reduces to the same
shape: explode records into (id, band_key) rows, then emit all within-bucket
pairs.  A naive two-sided band self-join is O(m^2) per bucket — fatal on the
single most common web-scale pathology, the duplicate flood (boilerplate,
empty strings, error pages put identical signatures in EVERY band).  This
module centralizes the skew-safe version so no operator can regress to the
quadratic shape (round-2 verdict: the flagship had the protection,
operators/dedup.py and operators/similarity.py did not).

The incremental link (plans/incremental.link_pairs) salts its touched
bands with the same salted_bands but expands each sub-bucket bipartitely,
prior x incoming: a self-join there would list every same-side pair of a
touched sub-bucket only to drop it.

Policy (identical to the flagship pipeline's, formerly inlined in
operators/candidates.py — see /root/reference/README.md:5, "mathematical
short-cuts that limit which records should be compared"):

  * buckets with <= max_band_size members: full within-bucket pair
    expansion (all unordered pairs, id_l < id_r).
  * hot buckets (> max_band_size): split into k = ceil(m/max_band_size)
    sub-buckets by salt = xxhash64(id, band_key) % k; ALL pairs within each
    sub-bucket, plus a chain over the sub-buckets' min-id representatives so
    a genuinely all-matching flood stays one connected component.  Pair
    volume per hot band is O(m * max_band_size), never O(m^2).
  * recall accounting: a true pair inside a hot band co-locates in one
    sub-bucket w.p. ~1/k per band; the salt folds in band_key, so the events
    are independent across the many bands a true pair shares and the miss
    probability decays geometrically.  Every degraded band is recorded in
    band_stats (n_members, n_salts) — no silent caps.

Execution shape (ONE exchange + one distinct): repartition(band_key) ->
window count over band_key (reuses the exchange) -> co-partitioned
shuffled-hash SELF-JOIN on (band_key, salt) (HashPartitioning(band_key)
satisfies the join's clustered distribution, and the two identical sides
collapse to one exchange via ReusedExchange) with the caller's gate
predicate in the join condition — evaluated in-partition, in whole-stage
codegen, BEFORE the distinct shuffle, so infeasible random collisions die
in codegen without being shuffled.  (r8: this replaced an interpreted
collect_list + flatten/transform higher-order expansion — identical pair
set, ~2.6x faster cold on the sf1.0 minhash bands.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from customer_er_spark.operators.materialize import shared


def salted_bands(
    bands: DataFrame, max_band_size: int, id_col: str = "image_id"
) -> tuple[DataFrame, DataFrame]:
    """(id, band_key)[, extra cols] -> (salted, band_stats).

    salted: input rows of non-singleton buckets, annotated with
        n_members (bucket size), n_salts (1 for normal buckets,
        ceil(m/max_band_size) for hot ones) and salt in [0, n_salts).
    band_stats(band_key, n_members, n_salts, degraded, n_bands): the skew
        audit trail (no silent caps), kept WRITE-CHEAP at scale — one
        exact row per DEGRADED band (n_bands=1) unioned with a band-size
        histogram (band_key/n_salts NULL, n_bands = #bands of that size);
        millions of healthy bands aggregate to a few hundred histogram
        rows instead of a full per-band table.

    Bucket sizes come from a window over band_key; callers repartition by
    band_key first so the window reuses that exchange.
    """
    w = Window.partitionBy("band_key")
    ann = bands.withColumn("n_members", F.count("*").over(w)).where(
        F.col("n_members") > 1  # singleton buckets generate no pairs
    )
    salted = (
        ann.withColumn(
            "n_salts",
            F.ceil(F.col("n_members") / F.lit(max_band_size)).cast("int"),
        )
        .withColumn(
            "salt",
            F.when(F.col("n_salts") <= 1, F.lit(0)).otherwise(
                F.pmod(
                    F.xxhash64(id_col, "band_key"), F.col("n_salts")
                ).cast("int")
            ),
        )
    )
    # shared barrier: the salted band rows feed THREE consumers (both
    # self-join sides + the hot-band representative chain, plus band_stats
    # when the caller keeps it), and Spark does not reuse the identical
    # exchange subtrees across them — measured 3x evaluation of the
    # caller's banding UDF without it.  It is lazy (composing runs no
    # job) and owned by the caller's operators/materialize.owned() scope.
    salted = shared(salted)
    per_band = salted.groupBy("band_key").agg(
        F.first("n_members").alias("n_members"),
        F.first("n_salts").alias("n_salts"),
    )
    degraded_rows = (
        per_band.where(F.col("n_salts") > 1)
        .withColumn("degraded", F.lit(True))
        .withColumn("n_bands", F.lit(1).cast("long"))
    )
    hist_rows = (
        per_band.groupBy("n_members")
        .agg(F.count("*").alias("n_bands"))
        .select(
            F.lit(None).cast("long").alias("band_key"),
            F.col("n_members"),
            F.lit(None).cast("int").alias("n_salts"),
            F.lit(False).alias("degraded"),
            "n_bands",
        )
    )
    return salted, degraded_rows.unionByName(hist_rows)


def banded_pairs(
    bands: DataFrame,
    *,
    id_col: str,
    payload_cols: Sequence[str] = (),
    gate: str | None = None,
    max_band_size: int,
    shuffle_partitions: int,
    emit_payload: bool = False,
    distinct: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Distinct skew-safe within-bucket pairs from (id, band_key) rows.

    bands         one row per (record, band): columns id_col, band_key
                  (long), plus any payload_cols (small gate columns — e.g.
                  an 8-byte phash/simhash; NEVER a wide signature array:
                  gate on a fixed-width hash first, join wide arrays back
                  after the distinct — see verify-shuffle-width lesson).
    gate          optional SQL boolean template over '{l}'/'{r}' struct
                  prefixes, e.g. "bit_count({l}.phash ^ {r}.phash) <= 10".
                  Applied in-partition BEFORE the distinct shuffle (and to
                  chain edges — a gate-failed chain edge could never verify
                  downstream, so dropping it loses nothing).
    emit_payload  when True the output keeps <c>_l/<c>_r for each payload
                  column (payload is a function of id, so distinct over the
                  wider row equals distinct over the pair).
    distinct      default True: dedupe pairs across bands (one shuffle on
                  the pair key).  A caller whose downstream is a pure
                  per-pair function followed by a SELECTIVE filter should
                  pass False and dedupe the few survivors instead — at
                  sf1.0 the minhash verify kept 2.5k of 21.2M candidate
                  pairs, so deduping before scoring shuffled 21.2M rows to
                  protect a 2.5k-row distinct.

    Returns (pairs, band_stats); pairs has id_l < id_r, distinct unless
    distinct=False (then multiplicity = number of shared buckets).  Both
    read the salted rows' shared barrier: build and materialize them
    inside one operators/materialize.owned() scope.
    """
    mem_struct = F.struct(F.col(id_col).alias("id"), *payload_cols)
    repart = bands.repartition(shuffle_partitions, "band_key")
    salted, band_stats = salted_bands(repart, max_band_size, id_col)

    # Within-bucket pair expansion as a CO-PARTITIONED self-join on
    # (band_key, salt): HashPartitioning(band_key) satisfies the join's
    # clustered distribution (subset rule), so the two identical sides
    # resolve to ONE exchange via ReusedExchange, and the shuffle_hash
    # hint keeps the per-partition build (narrow band rows) sort-free.
    # The previous shape — collect_list + flatten(transform(slice(...)))
    # — produced the same pairs through interpreted higher-order
    # functions (HigherOrderFunction is CodegenFallback), allocating one
    # struct per emitted pair; measured at the sf1.0 minhash bands (31M
    # expansions -> 21.2M distinct pairs): 15.4 s cold / 4.0 s warm HOF
    # vs 5.9 s cold / 3.8 s warm for this codegen join, identical output
    # (set-equality checked).  The caller's gate rides in the join
    # condition — still evaluated in-partition, in codegen, BEFORE the
    # distinct shuffle, so infeasible collisions are never shuffled.
    # l.id != r.id invariant: the strict '<' below also covers the
    # duplicate-row self-pair case the old filter guarded.
    side = salted.select("band_key", "salt", mem_struct.alias("m"), "n_salts")
    a = side.select("band_key", "salt", F.col("m").alias("l"))
    b = side.select("band_key", "salt", F.col("m").alias("r")).hint("shuffle_hash")
    pair_cond = F.col("l.id") < F.col("r.id")
    if gate:
        pair_cond = pair_cond & F.expr(gate.format(l="l", r="r"))
    out_cols = [F.col("p.l.id").alias("id_l"), F.col("p.r.id").alias("id_r")]
    if emit_payload:
        out_cols += [F.col(f"p.l.{c}").alias(f"{c}_l") for c in payload_cols]
        out_cols += [F.col(f"p.r.{c}").alias(f"{c}_r") for c in payload_cols]
    pairs_within = (
        a.join(b, ["band_key", "salt"])
        .where(pair_cond)
        .select(F.struct(F.col("l"), F.col("r")).alias("p"))
        .select(*out_cols)
    )

    # chain sub-bucket representatives of each hot band so a genuinely
    # all-matching hot band (exact-duplicate flood) stays connected even
    # when two members never co-locate in a sub-bucket.  min(struct) ==
    # element_at(array_sort(collect_list(struct)), 1): both order structs
    # lexicographically by (id, payload...).
    reps = (
        side.where(F.col("n_salts") > 1)
        .groupBy("band_key", "salt")
        .agg(F.min("m").alias("rep"))
    )
    wchain = Window.partitionBy("band_key").orderBy("salt")
    chain_cond = F.col("nxt").isNotNull() & (
        F.col("rep.id") != F.col("nxt.id")
    )
    if gate:
        chain_cond = chain_cond & F.expr(gate.format(l="rep", r="nxt"))
    chain = (
        reps.withColumn("nxt", F.lead("rep").over(wchain))
        .where(chain_cond)
        # order the pair by id, payload following its id
        .select(
            F.when(
                F.col("rep.id") < F.col("nxt.id"),
                F.struct(F.col("rep").alias("l"), F.col("nxt").alias("r")),
            )
            .otherwise(
                F.struct(F.col("nxt").alias("l"), F.col("rep").alias("r"))
            )
            .alias("p")
        )
        .select(*out_cols)
    )

    pairs = pairs_within.unionByName(chain)
    if distinct:
        pairs = pairs.distinct()  # one shuffle on the pair key; AQE coalesces
    return pairs, band_stats
