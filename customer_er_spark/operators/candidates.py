"""Stage 1b — LSH banding + candidate-pair generation.

This is the engine's replacement for Zingg's learned blocking trees
("mathematical short-cuts that limit which records should be compared",
/root/reference/README.md:5, invoked inside every task — SURVEY.md §2.B B5).

Band sources (unioned, each key already folds in its band index so buckets
never collide across sources):
  * MinHash bands: signature split into `bands` slices of `rows_per_band`
    values; band key = xxhash64(band_idx, slice...).  Pairs with caption
    Jaccard s collide with prob 1-(1-s^r)^b.
  * pHash chunks: the 64-bit perceptual hash split into `phash_chunks`
    equal chunks; multi-index pair-of-chunks keys — by pigeonhole, any pair
    with Hamming(phash) <= chunks - 2 shares at least one key —
    guaranteed recall for visually near-identical pairs regardless of
    caption damage.

Skew policy — SUB-BAND SALTING (explicit, per north_rule; AQE skew-join
splits input partitions but cannot bound the O(m^2) *output* of a hot band):
  * buckets with <= max_band_size members: full within-bucket self-join
    (all pairs, id_l < id_r).
  * hot buckets (> max_band_size members): split into
    k = ceil(m / max_band_size) sub-buckets by a deterministic per-(record,
    band) salt = xxhash64(image_id, band_key) % k.  ALL pairs are generated
    within each sub-bucket, and the sub-buckets' min-id representatives are
    chained (rep_i — rep_{i+1}) so a hot band whose members genuinely
    inter-verify (e.g. an exact-duplicate flood) stays one connected
    component.  Pair volume per hot band is O(m * max_band_size), never
    O(m^2).

  Recall accounting (honest, no silent loss): a true near-dup pair inside a
  hot band co-locates in one of its sub-buckets with probability ~1/k *per
  band*; the salt folds in band_key, so co-location events are independent
  across the (typically many) bands a true pair shares — pairs with caption
  Jaccard s share ~b*s^r MinHash bands and near-identical images share up
  to C(chunks, 2) pHash keys, so the miss probability decays
  geometrically in the number of shared bands.  Unlike the previous "star"
  policy (every member paired only with the band's min-id rep), no pair's
  survival depends on an arbitrary representative verifying against it.
  Every degraded band is recorded in band_stats (n_members, n_salts) so the
  recall budget is auditable.

Scale notes: bucket sizes come from a window count over band_key
immediately after repartition(shuffle_partitions, band_key) — same key, no
extra shuffle and no broadcast of an unbounded band list; the sub-bucket
self-join shuffles once on (band_key, salt), whose cardinality is bounded
by max_band_size by construction, so no AQE skew splitting is even needed
downstream.
"""

from __future__ import annotations

from itertools import combinations
from math import comb

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from customer_er_spark.config import ERConfig
from customer_er_spark.operators.banded import banded_pairs


def minhash_band_key_cols(cfg: ERConfig) -> list[Column]:
    """One band-key column per MinHash band over a `minhash` array
    column: xxhash64(band index, the band's rows_per_band values)."""
    return [
        F.xxhash64(
            F.lit(b),
            *[
                F.element_at("minhash", b * cfg.rows_per_band + r + 1)
                for r in range(cfg.rows_per_band)
            ],
        )
        for b in range(cfg.bands)
    ]


def band_keys(signatures: DataFrame, cfg: ERConfig) -> DataFrame:
    """signatures -> (image_id, band_key) one row per (record, band)."""
    chunk_bits = 64 // cfg.phash_chunks
    mask = (1 << chunk_bits) - 1

    def chunk(c: int):
        return F.shiftrightunsigned(F.col("phash"), c * chunk_bits).bitwiseAND(
            F.lit(mask)
        )

    # multi-index pair-of-chunks keys: guarantees recall for
    # Hamming <= phash_chunks - 2 (see config.py)
    ph_keys = [
        F.xxhash64(F.lit(10_000), F.lit(ci), F.lit(cj), chunk(ci), chunk(cj))
        for ci, cj in combinations(range(cfg.phash_chunks), 2)
    ]
    # phash rides along (8 bytes/row): the pair join applies the Hamming
    # feasibility gate BEFORE the distinct shuffle, so random band-key
    # collisions (the dominant candidate volume at scale — measured 17.4M
    # of 17.4M pairs at 240k images) die in codegen without ever being
    # shuffled, deduplicated, or written.
    keys = [*minhash_band_key_cols(cfg), *ph_keys]
    return signatures.select(
        "image_id", "phash", F.explode(F.array(*keys)).alias("band_key")
    )


def bands_per_record(cfg: ERConfig) -> int:
    """Exact band-key fan-out per record (band_keys emits this many rows
    for every signature row, always — no distinct, no drops).  Used as a
    lineage cross-check: rows(priors_bands) must equal
    bands_per_record(cfg) * rows(signatures), or the band table has
    diverged from the registry (e.g. a crash between the two appends) and
    must be re-banded."""
    return cfg.bands + comb(cfg.phash_chunks, 2)


def candidate_pairs_from_bands(
    bands: DataFrame, cfg: ERConfig
) -> tuple[DataFrame, DataFrame]:
    """candidate_pairs over a PRECOMPUTED (image_id, phash, band_key)
    band table — the entry point for callers that persist band rows (the
    pipeline commits them as `priors_bands` so increments can join against
    the registry's bands instead of re-exploding every prior record).

    Emits (id_l, id_r) only: verify_pairs attaches each side's signature
    row, phash included, and recomputes the Hamming distance there."""
    # ONE exchange total (see operators/banded.py for the full shape): the
    # Hamming feasibility gate runs in-partition, in codegen, BEFORE the
    # distinct shuffle — the quadratic tail of random band-key collisions
    # (measured 17.4M of 17.4M pairs at 240k images) is never shuffled.
    return banded_pairs(
        bands,
        id_col="image_id",
        payload_cols=("phash",),
        gate=f"bit_count({{l}}.phash ^ {{r}}.phash) <= {cfg.phash_hamming_max}",
        max_band_size=cfg.max_band_size,
        shuffle_partitions=cfg.shuffle_partitions,
    )


def candidate_pairs(
    signatures: DataFrame, cfg: ERConfig
) -> tuple[DataFrame, DataFrame]:
    """Returns (pairs(id_l, id_r), band_stats) — distinct unordered pairs
    that are HAMMING-FEASIBLE (bit_count(phash_l^phash_r) <=
    phash_hamming_max).

    The feasibility gate is semantically lossless: verification requires
    the same Hamming bound for is_match, so a gate-failed pair can never
    become a match edge.  Applying it inside the band join (pure codegen,
    before the distinct exchange) means the quadratic tail of random
    band-key collisions is never shuffled or materialized.

    band_stats (degraded bands exact + band-size histogram, see
    operators/banded.banded_pairs) feeds the metrics table.
    """
    return candidate_pairs_from_bands(band_keys(signatures, cfg), cfg)
