"""Deterministic engine configuration.

The reference "trains" a model from human-labeled pairs
(/root/reference/02_Initial_Workflow_Part_A.py:183-191, exec 02B:229) and
persists it to a model directory (02B:233-242).  Our engine has no learned
weights: the "model" is this fixed, versioned signature configuration.  Its
hash is recorded in every checkpoint manifest so a stage only resumes when
the config that produced it has the same semantics (the recall>=0.99
contract in BASELINE.json holds "at identical shingle/signature config").
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

# Structured-field MatchTypes (reference parity: Zingg FieldDefinition,
# /root/reference/02_Initial_Workflow_Part_A.py:113-136 enumerates FUZZY /
# EXACT / EMAIL / PINCODE / NUMERIC / NUMERIC_WITH_UNITS / NULL_OR_BLANK /
# TEXT / ONLY_ALPHABETS_EXACT / ONLY_ALPHABETS_FUZZY / DONT_USE; FUZZY x4
# is the only configuration the reference actually runs, 02A:132-136).
# Each type is a pure-SQL similarity term in [0, 1] folded into
# verify_pairs' score (operators/verify.py:field_sim) — no UDFs, NULL
# semantics per type:
#   EXACT                 null-safe equality (both-null matches)
#   FUZZY                 graded similarity: character-3-gram Jaccard over
#                         lowercased/trimmed strings (exact equality -> 1;
#                         strings too short for grams fall back to
#                         equality; both-null = 1, one-null = 0) — pure
#                         Catalyst higher-order array functions, no UDF.
#                         LCS escalation stays caption-only by design: a
#                         metadata scalar is short enough that gram
#                         Jaccard is already the right-cost signal.
#   ONLY_ALPHABETS_EXACT  equality after stripping non-letters + lowercase
#   ONLY_ALPHABETS_FUZZY  FUZZY after stripping non-letters + lowercase
#   TEXT                  word-token Jaccard (whitespace tokens) — the
#                         free-text twin of FUZZY for multi-word fields
#   EMAIL                 equality of the lowercased local part before '@'
#   PINCODE               equality of the digits only
#   NUMERIC               overlap ratio (set Jaccard) of ALL numbers
#                         extracted from each side — the reference's
#                         documented semantics ("extracts numbers from
#                         strings and compares how many of them are same",
#                         02A:119-121): "16gb ddr4" vs "ddr4 16 gb" -> 1.0.
#                         Values are compared as doubles ("016" == "16.0").
#                         Both sides number-free (or both null) = 1,
#                         one side number-free/null = 0.
#   NUMERIC_WITH_UNITS    NUMERIC over number+unit tokens: each number
#                         keeps its attached unit suffix, normalized to
#                         lowercase with whitespace stripped ("16 GB" and
#                         "16gb" both -> "16.0gb"); unit text itself is
#                         not converted (kg vs lb is a schema problem)
#   NUMERIC_TOL           |l - r| <= tol after whole-field double cast
#                         (both-null = 1) — the tolerance variant for
#                         single-valued numeric columns
#   NULL_OR_BLANK         a null/blank side never penalizes (sim 1.0);
#                         both present -> exact equality
#   DONT_USE              carried through, never scored
MATCH_TYPES = (
    "EXACT", "FUZZY", "ONLY_ALPHABETS_EXACT", "ONLY_ALPHABETS_FUZZY",
    "TEXT", "EMAIL", "PINCODE", "NUMERIC", "NUMERIC_TOL",
    "NUMERIC_WITH_UNITS", "NULL_OR_BLANK", "DONT_USE",
)


@dataclass(frozen=True)
class FieldDef:
    """One structured metadata column to fold into pair scoring."""
    column: str
    match_type: str = "EXACT"
    weight: float = 1.0
    tol: float = 0.0  # NUMERIC_TOL only: absolute tolerance

    def __post_init__(self) -> None:
        if self.match_type not in MATCH_TYPES:
            raise ValueError(
                f"match_type {self.match_type!r} not in {MATCH_TYPES}"
            )


_EXECUTION_KNOBS = ("shuffle_partitions", "cc_checkpoint_every",
                    "cc_driver_max_edges")


@dataclass(frozen=True)
class ERConfig:
    # --- caption MinHash ---------------------------------------------------
    shingle_k: int = 5           # character shingle width over normalized caption
    num_hashes: int = 128        # MinHash permutations
    bands: int = 32              # LSH bands (num_hashes = bands * rows_per_band)
    rows_per_band: int = 4
    minhash_seed: int = 0x5EED

    # --- pHash banding -----------------------------------------------------
    # multi-index pair-of-chunks scheme (cf. HmSearch / multi-index hashing):
    # the 64-bit phash splits into `phash_chunks` equal chunks and every
    # unordered pair of chunks forms one 2-chunk band key.  By pigeonhole a
    # pair within Hamming distance h keeps >= chunks - h chunks clean, so
    # with 8 chunks any pair at Hamming <= 6 shares at least one clean
    # 2-chunk key — a stronger guarantee than single-chunk banding (<= 3)
    # AND ~1e4x fewer random collisions (C(8,2)=28 keys of 16 effective
    # bits vs 4 keys of 16 bits).
    phash_chunks: int = 8
    phash_hamming_max: int = 10  # verify threshold on full 64-bit Hamming

    # --- verification / scoring --------------------------------------------
    # caption_sim: 1.0 on exact match; else MinHash-Jaccard estimate
    # (JVM-side zip_with/aggregate over the signatures already computed),
    # escalated to suffix-array LCS ratio only inside the ambiguity band
    # [jacc_lo, jacc_hi) — the expensive UDF runs on the few borderline pairs.
    # image_sim: 1 - hamming(phash_l, phash_r)/64 (pure SQL bit_count(xor)).
    # A pair is a MATCH (edge in the cluster graph) iff
    #     hamming <= phash_hamming_max AND caption_sim >= caption_sim_min.
    # score = w_caption*caption_sim + w_image*image_sim is reported per pair
    # and drives the link accept/review/reject rules (the prose thresholds of
    # /root/reference/03_Incremental_Workflow.py:283-288, implemented here).
    w_caption: float = 0.5
    w_image: float = 0.5
    jacc_hi: float = 0.80
    jacc_lo: float = 0.30
    caption_sim_min: float = 0.35
    match_threshold: float = 0.80   # link: accept at/above
    review_threshold: float = 0.65  # link: review in [review, match)

    # --- skew / shuffle policy ----------------------------------------------
    max_band_size: int = 256     # hot bands (> this many members) are salted
                                 # into ceil(m/max_band_size) sub-buckets:
                                 # ALL pairs within each sub-bucket plus a
                                 # chain of sub-bucket representatives for
                                 # connectivity; pair volume per hot band is
                                 # O(m*max_band_size), never O(m^2).  No band
                                 # is dropped and every degraded band is
                                 # recorded in band_stats (see
                                 # operators/candidates.py skew policy).
    shuffle_partitions: int = 32
    cc_checkpoint_every: int = 3  # connected-components lineage truncation
    # bounded driver fast path for connected components: a pair graph of
    # at most this many raw edges is collected (~0.4 GB Arrow at the
    # default) and solved by a vectorized driver union-find in one job;
    # larger graphs run the distributed large-star/small-star rounds
    # unchanged.
    cc_driver_max_edges: int = 2_000_000

    # --- structured-field scoring (FieldDef list; see MATCH_TYPES above) ----
    # when non-empty, score = (w_caption*caption_sim + w_image*image_sim
    #   + sum(f.weight * field_sim_f)) / (w_caption + w_image + sum weights)
    # — normalized so score stays in [0, 1] and the link accept/review
    # thresholds keep their meaning; is_match (the cluster-edge gate) is
    # unchanged, fields move borderline pairs across the LINK thresholds.
    fields: tuple = ()

    # --- invariants ----------------------------------------------------------
    psnr_min_db: float = 40.0    # lossy decode invariant

    def config_hash(self) -> str:
        """Hash of the fields that decide what a stage outputs.  Execution
        knobs (shuffle sizing, connected-components lineage truncation and
        driver fast-path size) change how a stage runs, not its rows, so a
        catalog resumes across them."""
        fields = asdict(self)
        for knob in _EXECUTION_KNOBS:
            del fields[knob]
        payload = json.dumps(fields, sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_hashes:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"!= num_hashes ({self.num_hashes})"
            )
        if 64 % self.phash_chunks != 0:
            raise ValueError("phash_chunks must divide 64")


DEFAULT_CONFIG = ERConfig()
