"""Stage 2a — pairwise verification + scoring.

Replaces Zingg's learned pairwise scorer (FUZZY MatchTypes,
/root/reference/02_Initial_Workflow_Part_A.py:113-136) with a deterministic
cost-tiered cascade — cheapest check first, each tier runs on strictly
fewer rows:

  tier 0 (pure SQL)     hamming = bit_count(phash_l XOR phash_r) over the
                        attached hashes; pairs over phash_hamming_max are
                        dropped (a guard: every generator already applies
                        the same gate inside its band join)
  tier 1 (pure SQL)     caption equality on normalized captions -> sim 1.0
  tier 2 (JVM codegen)  MinHash-Jaccard estimate: mean(sig_l[i]==sig_r[i])
                        via zip_with + aggregate — no Python
  tier 3 (pandas UDF)   suffix-array LCS ratio, ONLY for pairs whose
                        Jaccard lands in the ambiguity band [jacc_lo, jacc_hi)

MATCH  iff hamming <= phash_hamming_max AND caption_sim >= caption_sim_min.
score = w_caption*caption_sim + w_image*(1 - hamming/64)   (z_score analog).

check_decode_invariant audits the per-row decode invariant (PSNR>=40dB
lossy / exact lossless) over an image table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from customer_er_spark.config import ERConfig, FieldDef
from customer_er_spark.functions.text import lcs_ratio_udf
from customer_er_spark.operators.materialize import shared


def _attach_sides(
    pairs: DataFrame, signatures: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    sig = signatures.select(
        "image_id", "caption_norm", "phash", "minhash", *extra_cols
    )
    left = sig.select(
        F.col("image_id").alias("id_l"),
        F.col("caption_norm").alias("cap_l"),
        F.col("phash").alias("phash_l"),
        F.col("minhash").alias("mh_l"),
        *[F.col(c).alias(f"{c}_l") for c in extra_cols],
    )
    right = sig.select(
        F.col("image_id").alias("id_r"),
        F.col("caption_norm").alias("cap_r"),
        F.col("phash").alias("phash_r"),
        F.col("minhash").alias("mh_r"),
        *[F.col(c).alias(f"{c}_r") for c in extra_cols],
    )
    return pairs.join(left, "id_l").join(right, "id_r")


def _set_jaccard(gl: Column, gr: Column) -> Column:
    """|A ∩ B| / |A ∪ B| for two distinct-element array columns."""
    inter = F.size(F.array_intersect(gl, gr)).cast("double")
    return inter / ((F.size(gl) + F.size(gr)).cast("double") - inter)


def _grams3(c: Column) -> Column:
    """Distinct character trigrams of a string column (length >= 3 only —
    callers guard shorter strings).  Pure Catalyst: sequence + transform
    + substr, evaluated in whole-stage codegen."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(c) - 2),
            lambda i: c.substr(i, F.lit(3)),
        )
    )


def _fuzzy_sim(ln: Column, rn: Column) -> Column:
    """Graded string similarity (FUZZY family): trigram-set Jaccard over
    pre-normalized sides; strings too short for a trigram fall back to
    equality; both-null = 1, one-null = 0 (same null contract as
    NUMERIC_TOL).  CASE branches are lazy, so the gram path never sees a
    short string (sequence() would flip to a descending range)."""
    one, zero = F.lit(1.0), F.lit(0.0)
    return (
        F.when(ln.isNull() & rn.isNull(), one)
        .when(ln.isNull() | rn.isNull(), zero)
        .when(
            (F.length(ln) < 3) | (F.length(rn) < 3),
            F.when(ln == rn, one).otherwise(zero),
        )
        .otherwise(_set_jaccard(_grams3(ln), _grams3(rn)))
    )


# Number grammar shared by NUMERIC / NUMERIC_WITH_UNITS and their DuckDB
# oracle twins (RE2-compatible: no lookarounds).  Optional sign, optional
# fraction, optional exponent CAPPED at 2 digits — "1e999" tokenizes as
# (1e99, 9) in BOTH engines instead of casting to inf in one and erroring
# in the other.  NUM_UNIT_RE group 1 is the number, group 2 the unit
# letters (extracted by group so an exponent's 'e' can never leak into
# the unit the way a strip-non-alpha approach would).
NUM_RE = r"[-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]{1,2})?"
NUM_UNIT_RE = r"([-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]{1,2})?)\s*([a-z]*)"


def _norm_zero(v: Column) -> Column:
    """-0.0 -> 0.0 so distinct/intersect see one zero in every engine."""
    return F.when(v == 0.0, F.lit(0.0)).otherwise(v)


def field_sim(fd: FieldDef) -> Column:
    """[0,1] similarity for one structured field — pure Catalyst SQL over
    the attached <column>_l / <column>_r sides (reference parity: Zingg
    FieldDefinition MatchTypes, 02_Initial_Workflow_Part_A.py:113-136;
    FUZZY is the only type the reference's own config exercises,
    02A:132-136).  NULL semantics per type are documented on
    config.MATCH_TYPES."""
    l, r = F.col(f"{fd.column}_l"), F.col(f"{fd.column}_r")
    one, zero = F.lit(1.0), F.lit(0.0)
    if fd.match_type == "EXACT":
        return F.when(l.eqNullSafe(r), one).otherwise(zero)
    if fd.match_type == "FUZZY":
        def norm(c):
            return F.lower(F.trim(c.cast("string")))
        return _fuzzy_sim(norm(l), norm(r))
    if fd.match_type == "ONLY_ALPHABETS_EXACT":
        def alpha(c):
            return F.regexp_replace(F.lower(c.cast("string")), "[^a-z]", "")
        return F.when(alpha(l).eqNullSafe(alpha(r)), one).otherwise(zero)
    if fd.match_type == "ONLY_ALPHABETS_FUZZY":
        def alpha(c):
            return F.regexp_replace(F.lower(c.cast("string")), "[^a-z]", "")
        return _fuzzy_sim(alpha(l), alpha(r))
    if fd.match_type == "TEXT":
        # word-token Jaccard: the free-text twin of FUZZY; blank collapses
        # to null so the null contract stays uniform.  trim runs AFTER the
        # whitespace collapse: trim() strips only spaces, so a leading tab
        # trimmed first would survive the collapse as a leading space and
        # split() would mint an empty token that inflates the union.
        def toks(c):
            s = F.nullif(
                F.trim(
                    F.regexp_replace(F.lower(c.cast("string")), r"\s+", " ")
                ),
                F.lit(""),
            )
            return F.when(s.isNotNull(), F.array_distinct(F.split(s, " ")))
        tl, tr = toks(l), toks(r)
        return (
            F.when(tl.isNull() & tr.isNull(), one)
            .when(tl.isNull() | tr.isNull(), zero)
            .otherwise(_set_jaccard(tl, tr))
        )
    if fd.match_type == "EMAIL":
        def local(c):
            return F.lower(F.split(c.cast("string"), "@").getItem(0))
        return F.when(local(l).eqNullSafe(local(r)), one).otherwise(zero)
    if fd.match_type == "PINCODE":
        def digits(c):
            return F.regexp_replace(c.cast("string"), "[^0-9]", "")
        return F.when(digits(l).eqNullSafe(digits(r)), one).otherwise(zero)
    if fd.match_type in ("NUMERIC", "NUMERIC_WITH_UNITS"):
        # Zingg-documented semantics (02A:119-121): extract ALL numbers and
        # score the overlap of the two sets.  NUMERIC compares the numeric
        # values ("016" == "16.0" via double cast); _WITH_UNITS keeps each
        # number's attached unit suffix as part of the token ("16 GB" and
        # "16gb" both normalize to "16.0gb").  Pure Catalyst:
        # regexp_extract_all + transform + array_intersect.
        # The number grammar carries an optional sign and a 1-2 digit
        # exponent ("-5" != "5", "1e3" == "1000"); the exponent is capped
        # at 2 digits so a pathological "1e999" can never cast to inf
        # (engines disagree on out-of-range casts); -0.0 is normalized to
        # 0.0 so set membership is engine-independent.
        if fd.match_type == "NUMERIC":
            def toks(c):
                s = F.lower(c.cast("string"))
                return F.when(
                    s.isNotNull(),
                    F.array_distinct(
                        F.transform(
                            F.regexp_extract_all(s, F.lit(NUM_RE), F.lit(0)),
                            lambda x: _norm_zero(x.cast("double")),
                        )
                    ),
                )
        else:
            def toks(c):
                s = F.lower(c.cast("string"))
                raw = F.regexp_extract_all(s, F.lit(NUM_UNIT_RE), F.lit(0))
                return F.when(
                    s.isNotNull(),
                    F.array_distinct(
                        F.transform(
                            raw,
                            lambda t: F.concat(
                                _norm_zero(
                                    F.regexp_extract(t, NUM_UNIT_RE, 1)
                                    .cast("double")
                                )
                                .cast("string"),
                                F.regexp_extract(t, NUM_UNIT_RE, 2),
                            ),
                        )
                    ),
                )
        tl, tr = toks(l), toks(r)
        return (
            F.when(tl.isNull() & tr.isNull(), one)
            .when(tl.isNull() | tr.isNull(), zero)
            .when((F.size(tl) == 0) & (F.size(tr) == 0), one)
            .when((F.size(tl) == 0) | (F.size(tr) == 0), zero)
            .otherwise(_set_jaccard(tl, tr))
        )
    if fd.match_type == "NUMERIC_TOL":
        ld, rd = l.cast("double"), r.cast("double")
        return (
            F.when(ld.isNull() & rd.isNull(), one)
            .when(
                ld.isNotNull()
                & rd.isNotNull()
                & (F.abs(ld - rd) <= F.lit(fd.tol)),
                one,
            )
            .otherwise(zero)
        )
    if fd.match_type == "NULL_OR_BLANK":
        def blank(c):
            return c.isNull() | (F.trim(c.cast("string")) == "")
        return F.when(blank(l) | blank(r), one).otherwise(
            F.when(l.eqNullSafe(r), one).otherwise(zero)
        )
    raise ValueError(f"unscorable match_type {fd.match_type!r}")


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    cfg: ERConfig,
) -> DataFrame:
    """-> (id_l, id_r, hamming, caption_sim, image_sim, score, is_match)

    Reads only (id_l, id_r) from `pairs`: any other column a generator
    emits is ignored.  Both sides' signatures attach in one pass, and
    tier 0 recomputes hamming from the attached hashes.  A pair over
    phash_hamming_max gets no row: it could never match, and the banded
    generators (candidate_pairs, link_pairs) never emit one.

    Tiers for gate-survivors, each on strictly fewer rows:
      tier 1 (pure SQL)     caption equality -> sim 1.0
      tier 2 (JVM codegen)  MinHash-Jaccard estimate via zip_with/aggregate
      tier 3 (pandas UDF)   suffix-array LCS, ONLY inside the Jaccard
                            ambiguity band [jacc_lo, jacc_hi)

    No broadcast hints anywhere: the refinement sets are data-dependent;
    AQE picks broadcast at runtime when a side is actually small.

    The attached base is a shared() barrier (operators/materialize) owned
    by the caller's owned() scope: a caller that materializes the result
    opens the scope around the call and its action, and outside any scope
    the subplan recomputes per branch.
    """
    # structured FieldDef columns ride the attach (small scalars, scored
    # in pure SQL)
    active_fields = tuple(
        f for f in cfg.fields if f.match_type != "DONT_USE"
    )
    extra_cols = tuple(f.column for f in active_fields)
    base = (
        _attach_sides(pairs.select("id_l", "id_r"), signatures, extra_cols)
        .withColumn(
            "hamming",
            F.bit_count(F.col("phash_l").bitwiseXOR(F.col("phash_r"))),
        )
        .where(F.col("hamming") <= F.lit(cfg.phash_hamming_max))
        .withColumn(
            "jacc",
            F.aggregate(
                F.zip_with(
                    "mh_l", "mh_r", lambda a, b: (a == b).cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.lit(float(cfg.num_hashes)),
        )
    )
    # feeds the LCS refinement subquery AND the final scoring scan
    base = shared(base.drop("mh_l", "mh_r", "phash_l", "phash_r"))

    border_lcs = (
        base.where(
            (~(F.col("cap_l") == F.col("cap_r")))
            & (F.col("jacc") >= cfg.jacc_lo)
            & (F.col("jacc") < cfg.jacc_hi)
        )
        .select(
            "id_l",
            "id_r",
            lcs_ratio_udf(F.col("cap_l"), F.col("cap_r")).alias("lcs"),
        )
    )

    return (
        base.join(border_lcs, ["id_l", "id_r"], "left")
        .withColumn(
            "caption_sim",
            F.when(F.col("cap_l") == F.col("cap_r"), F.lit(1.0)).otherwise(
                F.greatest(F.col("jacc"), F.coalesce(F.col("lcs"), F.lit(0.0)))
            ),
        )
        .withColumn(
            "image_sim", F.lit(1.0) - F.col("hamming") / F.lit(64.0)
        )
        .withColumn(
            "score",
            F.round(
                (
                    F.lit(cfg.w_caption) * F.col("caption_sim")
                    + F.lit(cfg.w_image) * F.col("image_sim")
                    + sum(
                        (F.lit(f.weight) * field_sim(f) for f in active_fields),
                        start=F.lit(0.0),
                    )
                )
                # normalize ONLY when fields are configured: a no-field
                # config must keep the historical w_caption*cap +
                # w_image*img scale exactly, even when the two weights do
                # not sum to 1.0 (threshold semantics depend on it)
                / F.lit(
                    cfg.w_caption
                    + cfg.w_image
                    + sum(f.weight for f in active_fields)
                    if active_fields
                    else 1.0
                ),
                6,
            ),
        )
        .withColumn(
            "is_match",
            F.col("caption_sim") >= F.lit(cfg.caption_sim_min),
        )
        .select(
            "id_l", "id_r", "hamming", "caption_sim", "image_sim",
            "score", "is_match",
        )
    )


def check_decode_invariant(
    images: DataFrame, cfg: ERConfig, sample_fraction: float = 1.0
) -> DataFrame:
    """Per-row invariant audit (BASELINE.json input_hint): decode(bytes,fmt)
    must equal the stored pixels exactly for lossless fmts and reach
    PSNR >= psnr_min_db for lossy ones; the stored phash must equal the
    recomputed phash of the decoded pixels.

    Runs as mapInPandas over (bytes, fmt, w, h, phash) — Arrow batches,
    numpy decode, no per-row Python UDFs.  Returns rows that VIOLATE the
    invariant (empty result = healthy table).
    """
    import pandas as pd  # local import: executors only need it lazily

    from customer_er_spark import codecs
    from customer_er_spark import phash as ph

    df = images.select("image_id", "bytes", "fmt", "w", "h", "phash")
    if sample_fraction < 1.0:
        df = df.sample(sample_fraction, seed=42)

    psnr_min = cfg.psnr_min_db

    def audit(batches):
        for pdf in batches:
            bad_ids, reasons = [], []
            for iid, data, fmt, w, h, stored_ph in zip(
                pdf.image_id, pdf.bytes, pdf.fmt, pdf.w, pdf.h, pdf.phash
            ):
                try:
                    img = codecs.decode(bytes(data), fmt)
                except Exception as e:  # undecodable = violation
                    bad_ids.append(iid)
                    reasons.append(f"decode-error: {e}")
                    continue
                if img.shape[0] != h or img.shape[1] != w:
                    bad_ids.append(iid)
                    reasons.append(f"shape {img.shape} != ({h},{w})")
                    continue
                if fmt in codecs.LOSSLESS:
                    # lossless exactness: re-encoding the decoded pixels must
                    # reproduce the stored bytes bit-for-bit (our encoders
                    # are deterministic)
                    if codecs.encode(img, fmt) != bytes(data):
                        bad_ids.append(iid)
                        reasons.append("lossless roundtrip mismatch")
                        continue
                else:
                    # lossy: stored pixels must be a quantization fixpoint,
                    # which bounds error vs any original at PSNR ~46.9dB
                    # (>= psnr_min); re-encode must then be exact.
                    again = codecs.decode(codecs.encode(img, fmt), fmt)
                    if codecs.psnr(img, again) < psnr_min:
                        bad_ids.append(iid)
                        reasons.append("lossy re-encode below PSNR budget")
                        continue
                if ph.phash64(img) != stored_ph:
                    bad_ids.append(iid)
                    reasons.append("phash mismatch vs decoded pixels")
            yield pd.DataFrame({"image_id": bad_ids, "reason": reasons})

    return df.mapInPandas(audit, schema="image_id string, reason string")
