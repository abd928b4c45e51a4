"""Structured-field (FieldDefinition) scoring — reference parity for the
per-field MatchTypes of /root/reference/02_Initial_Workflow_Part_A.py:113-136,
implemented as pure-SQL score terms (config.FieldDef + verify.field_sim)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from customer_er_spark.config import ERConfig, FieldDef
from customer_er_spark.operators.verify import verify_pairs

CFG_KW = dict(num_hashes=4, bands=2, rows_per_band=2, shuffle_partitions=4)


def _sig(spark, meta_rows):
    """Two records, identical captions (caption_sim=1.0), hamming 8
    (image_sim=0.875) -> base score 0.9375; `meta_rows` supplies the
    structured column values.  A third record 'c' is 11 pHash bits from
    'a', over the default phash_hamming_max of 10."""
    rows = [
        ("a", "same caption", 0, [1, 2, 3, 4], meta_rows[0]),
        ("b", "same caption", 255, [1, 2, 3, 4], meta_rows[1]),
        ("c", "same caption", 2047, [1, 2, 3, 4], None),
    ]
    return spark.createDataFrame(
        rows,
        "image_id string, caption_norm string, phash long, "
        "minhash array<long>, email string",
    )


def _score(spark, cfg, meta_rows):
    pairs = spark.createDataFrame([("a", "b")], "id_l string, id_r string")
    out = verify_pairs(pairs, _sig(spark, meta_rows), cfg).collect()
    assert len(out) == 1
    return out[0]


def test_verify_reads_only_the_pair_ids(spark):
    """A pair over phash_hamming_max gets no row, and payload columns a
    generator emits (phash_l/phash_r, hamming — here a wrong one) do not
    change any score: verify_pairs reads only (id_l, id_r)."""
    cfg = ERConfig(**CFG_KW)
    sig = _sig(spark, ["x@a.com", "y@b.com"])
    ids = spark.createDataFrame(
        [("a", "b"), ("a", "c")], "id_l string, id_r string"
    )
    out = verify_pairs(ids, sig, cfg).collect()
    assert [(r["id_l"], r["id_r"]) for r in out] == [("a", "b")]
    assert out[0]["hamming"] == 8 and out[0]["score"] == pytest.approx(0.9375)

    ph = sig.select("image_id", "phash")
    wide = (
        ids.join(ph.toDF("id_l", "phash_l"), "id_l")
        .join(ph.toDF("id_r", "phash_r"), "id_r")
        .withColumn("hamming", F.lit(0))
    )
    assert verify_pairs(wide, sig, cfg).collect() == out


def test_field_flips_borderline_link_decision(spark):
    # without fields: score 0.9375 >= match_threshold 0.8 (accept-grade)
    base_cfg = ERConfig(**CFG_KW)
    r0 = _score(spark, base_cfg, ["x@a.com", "y@b.com"])
    assert r0["score"] == pytest.approx(0.9375)
    assert r0["score"] >= base_cfg.match_threshold

    # an EMAIL field (weight 1) disagreeing drags the same pair to
    # (0.9375 + 0) / 2 = 0.46875 — below even the review threshold
    cfg = ERConfig(**CFG_KW, fields=(FieldDef("email", "EMAIL"),))
    r1 = _score(spark, cfg, ["jane@a.com", "jane.b@b.com"])
    assert r1["score"] == pytest.approx(0.46875)
    assert r1["score"] < cfg.review_threshold

    # agreeing local part ('jane@x.com' vs 'JANE@y.org') lifts it back:
    # (0.9375 + 1) / 2 = 0.96875 — EMAIL compares the local part only
    r2 = _score(spark, cfg, ["jane@x.com", "JANE@y.org"])
    assert r2["score"] == pytest.approx(0.96875)
    assert r2["score"] >= cfg.match_threshold
    # is_match (the cluster-edge gate) is field-independent
    assert r1["is_match"] and r2["is_match"]


def test_numeric_tol_and_null_or_blank(spark):
    cfg = ERConfig(
        **CFG_KW,
        fields=(
            FieldDef("email", "NUMERIC_TOL", weight=1.0, tol=0.5),
        ),
    )
    # |3.2 - 3.6| = 0.4 <= 0.5 -> field sim 1.0
    assert _score(spark, cfg, ["3.2", "3.6"])["score"] == pytest.approx(0.96875)
    # |3.2 - 4.0| > 0.5 -> 0.0
    assert _score(spark, cfg, ["3.2", "4.0"])["score"] == pytest.approx(0.46875)

    nb = ERConfig(**CFG_KW, fields=(FieldDef("email", "NULL_OR_BLANK"),))
    # a blank side never penalizes
    assert _score(spark, nb, ["anything", None])["score"] == pytest.approx(0.96875)
    assert _score(spark, nb, ["same", "same"])["score"] == pytest.approx(0.96875)
    assert _score(spark, nb, ["one", "two"])["score"] == pytest.approx(0.46875)


def test_dont_use_and_config_hash(spark):
    cfg = ERConfig(**CFG_KW, fields=(FieldDef("email", "DONT_USE"),))
    # DONT_USE fields are carried but never scored: base score unchanged
    assert _score(spark, cfg, ["x", "y"])["score"] == pytest.approx(0.9375)
    # field configs version the model: different fields -> different hash
    assert cfg.config_hash() != ERConfig(**CFG_KW).config_hash()
    with pytest.raises(ValueError):
        FieldDef("email", "FUZZY_NOPE")


def test_fuzzy_trigram_jaccard(spark):
    cfg = ERConfig(**CFG_KW, fields=(FieldDef("email", "FUZZY"),))
    # identical after lower/trim -> 1.0: (0.9375 + 1) / 2
    assert _score(spark, cfg, ["  Acme Corp ", "acme corp"])["score"] == \
        pytest.approx(0.96875)
    # disjoint trigrams -> 0.0
    assert _score(spark, cfg, ["abcdef", "uvwxyz"])["score"] == \
        pytest.approx(0.46875)
    # partial overlap: 'jonathan' vs 'jonathon' — grams of 8 chars = 6 each,
    # shared {jon, ona, nat/ath...}: jon ona nat ath tha han | jon ona nat
    # ath tho hon -> inter {jon, ona, nat, ath} = 4, union 8 -> 0.5
    r = _score(spark, cfg, ["jonathan", "jonathon"])
    assert r["score"] == pytest.approx((0.9375 + 0.5) / 2)
    # short strings fall back to equality
    assert _score(spark, cfg, ["ab", "ab"])["score"] == pytest.approx(0.96875)
    assert _score(spark, cfg, ["ab", "ac"])["score"] == pytest.approx(0.46875)
    # one null penalizes, both null matches (NUMERIC_TOL contract)
    assert _score(spark, cfg, ["x-ray", None])["score"] == pytest.approx(0.46875)
    assert _score(spark, cfg, [None, None])["score"] == pytest.approx(0.96875)


def test_fuzzy_flips_borderline_link_decision(spark):
    """The reference's own config is FUZZY x4 (02A:132-136): a fuzzy
    metadata column must be able to move a borderline pair across the link
    accept threshold."""
    cfg = ERConfig(**CFG_KW, fields=(FieldDef("email", "FUZZY", weight=1.0),))
    near = _score(spark, cfg, ["jonathan smith llc", "jonathan smith inc"])
    far = _score(spark, cfg, ["jonathan smith llc", "zzgrubworks ltd"])
    assert near["score"] >= cfg.match_threshold, near["score"]
    assert far["score"] < cfg.match_threshold, far["score"]


def test_only_alphabets_fuzzy_and_text(spark):
    oaf = ERConfig(**CFG_KW, fields=(FieldDef("email", "ONLY_ALPHABETS_FUZZY"),))
    # digits/punct stripped before gramming: 'acme-123 corp' == 'ACME CORP.'
    assert _score(spark, oaf, ["acme-123 corp", "ACME CORP."])["score"] == \
        pytest.approx(0.96875)

    txt = ERConfig(**CFG_KW, fields=(FieldDef("email", "TEXT"),))
    # token sets {big,red,dog} vs {red,dog,big} -> 1.0
    assert _score(spark, txt, ["big red dog", "red  dog BIG"])["score"] == \
        pytest.approx(0.96875)
    # {a,b} vs {b,c}: inter 1, union 3
    assert _score(spark, txt, ["a b", "b c"])["score"] == \
        pytest.approx((0.9375 + 1 / 3) / 2)


def test_numeric_overlap(spark):
    """NUMERIC = overlap of ALL extracted numbers (Zingg 02A:119-121), not
    a single-value tolerance compare."""
    cfg = ERConfig(**CFG_KW, fields=(FieldDef("email", "NUMERIC"),))
    # {16, 4} vs {4, 16}: order and attachment irrelevant -> 1.0
    assert _score(spark, cfg, ["16gb ddr4", "ddr4 16 gb"])["score"] == \
        pytest.approx(0.96875)
    # {16, 4} vs {8, 3}: no overlap -> 0.0
    assert _score(spark, cfg, ["16gb ddr4", "8gb ddr3"])["score"] == \
        pytest.approx(0.46875)
    # numbers compare as VALUES: 016 == 16.0
    assert _score(spark, cfg, ["016 units", "16.0 units"])["score"] == \
        pytest.approx(0.96875)
    # partial overlap {16,4,3200} vs {16,4}: inter 2, union 3
    assert _score(spark, cfg, ["16gb ddr4 3200mhz", "ddr4 16gb"])["score"] == \
        pytest.approx((0.9375 + 2 / 3) / 2)
    # both number-free = agree (1.0); one number-free = disagree (0.0)
    assert _score(spark, cfg, ["none", "n/a"])["score"] == \
        pytest.approx(0.96875)
    assert _score(spark, cfg, ["none", "16gb"])["score"] == \
        pytest.approx(0.46875)
    # sign is part of the number: -5 and 5 do NOT agree
    assert _score(spark, cfg, ["-5 offset", "5 offset"])["score"] == \
        pytest.approx(0.46875)
    assert _score(spark, cfg, ["-5 offset", "offset -5.0"])["score"] == \
        pytest.approx(0.96875)
    # scientific notation compares by VALUE: 1e3 == 1000
    assert _score(spark, cfg, ["1e3 watts", "1000 watts"])["score"] == \
        pytest.approx(0.96875)
    assert _score(spark, cfg, ["2.5e-2 m", "0.025 m"])["score"] == \
        pytest.approx(0.96875)


def test_numeric_with_units(spark):
    """NUMERIC_WITH_UNITS keeps each number's unit suffix in the token:
    '16 GB' == '16gb' but '30mm' != '30 in'."""
    cfg = ERConfig(**CFG_KW, fields=(FieldDef("email", "NUMERIC_WITH_UNITS"),))
    assert _score(spark, cfg, ["16gb ddr4", "ddr4 16 GB"])["score"] == \
        pytest.approx(0.96875)
    assert _score(spark, cfg, ["16gb ddr4", "8gb ddr3"])["score"] == \
        pytest.approx(0.46875)
    # same value, different unit -> no overlap (units are tokens, not
    # converted quantities; kg vs lb is a schema problem)
    assert _score(spark, cfg, ["30mm", "30 in"])["score"] == \
        pytest.approx(0.46875)
    # an exponent's 'e' belongs to the NUMBER, never the unit: "1e3v"
    # is (1000.0, v), not (1.0, e3v) — and it equals "1000 V"
    assert _score(spark, cfg, ["1e3v", "1000 V"])["score"] == \
        pytest.approx(0.96875)
    # signed number keeps its unit: "-40c" == "-40 C" but != "40c"
    assert _score(spark, cfg, ["-40c", "-40 C"])["score"] == \
        pytest.approx(0.96875)
    assert _score(spark, cfg, ["-40c", "40c"])["score"] == \
        pytest.approx(0.46875)


def test_fuzzy_field_through_full_pipeline(spark, small_corpus, tmp_path):
    """FieldDef columns ride the whole flagship pipeline: signatures carry
    the metadata column, verify folds the FUZZY term into score, and the
    is_match gate (hence recall) is unchanged by fields."""
    from customer_er_spark.catalog import SparkCatalog
    from customer_er_spark.plans.pipeline import recall_vs_truth, run_initial
    from pyspark.sql import functions as F

    images = (
        spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
        .withColumn(
            "store",
            F.concat(F.lit("branch no. "), (F.crc32("image_id") % 3).cast("string")),
        )
    )
    cfg = ERConfig(
        shuffle_partitions=8,
        fields=(FieldDef("store", "FUZZY", weight=0.5),),
    )
    catalog = SparkCatalog(spark, str(tmp_path / "field_cat"))
    run_initial(spark, images, catalog, cfg)
    truth = spark.read.parquet(f"{small_corpus['dir']}/truth_pairs.parquet")
    rec = recall_vs_truth(spark, catalog.read_table("cluster_members"), truth)
    assert rec["recall"] == 1.0 and rec["precision"] == 1.0

    verified = catalog.read_table("verified_pairs").where("is_match")
    scores = verified.select("score").collect()
    assert scores and all(r["score"] is not None for r in scores)
    # the signature checkpoint carries the field column for future links
    assert "store" in catalog.read_table("signatures").columns
