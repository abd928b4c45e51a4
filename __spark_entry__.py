"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship near-duplicate clustering over the
sf0.001 documents table; `queries()` exposes one callable per implemented
operator from SURVEY.md §2 (+ the training-data-pipeline operator family);
`oracle_sql()` gives the DuckDB-equivalent SQL for EVERY query (36/36).
The three hash-randomized kernels (MinHash LSH, md5 SimHash, hyperplane
ANN) are checked through deterministic compositions: exact-verified output
that provably equals a SQL-computable set (minhash, simhash) or an
expected-empty violations relation over exact recomputation
(embedding_topk_lsh) — see each query's docstring.

Determinism notes baked into every oracle pair:
  * monetary sums go through DECIMAL (exact associativity) then back to
    DOUBLE, so shuffle-order float drift can't flip a digit;
  * ratio outputs are (numerator, denominator) integer pairs — round() of
    dyadic rationals can land on decimal .5 ties where HALF_UP (Spark) and
    half-even engines disagree;
  * every LIMIT/top-k orders by a unique full key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from customer_er_spark.config import ERConfig
from customer_er_spark.operators.pretrain import EMAIL_RE as _PII_EMAIL
from customer_er_spark.operators.pretrain import IPV4_RE as _PII_IPV4
from customer_er_spark.operators.pretrain import PHONE_RE as _PII_PHONE

SF_DEFAULT = "/root/testdata/sf0.001"

_CFG = ERConfig(shuffle_partitions=32)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Near-duplicate document clustering (the text twin of the image
    pipeline): MinHash LSH candidates -> Jaccard verify -> connected
    components -> every doc assigned a deterministic cluster_id."""
    from customer_er_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    docs = _t(spark, SF_DEFAULT, "documents")
    pairs = minhash_lsh_pairs(docs, _CFG, jaccard_min=0.5)
    clusters = dedup_clusters(pairs.select("id_l", "id_r"))
    return (
        docs.select(F.col("doc_id").cast("string").alias("doc_id"))
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
    )


# ---------------------------------------------------------------------------
# relational operator parity (SURVEY.md §2.A) — all DuckDB-checked
# ---------------------------------------------------------------------------


def q_dup_histogram(spark, sf):
    # two stacked groupBys: dup detection + cluster-size histogram
    # (≙ /root/reference/01_Prepare_Data.py:241-248, 02B:270-282)
    per_key = (
        _t(spark, sf, "orders").groupBy("o_custkey").agg(F.count("*").alias("recs"))
    )
    return (
        per_key.groupBy("recs")
        .agg(F.count("*").alias("clusters"))
    )


def q_selfjoin_dups(spark, sf):
    # self-join + theta filter + distinct (≙ 01:263-276)
    d = _t(spark, sf, "documents").select("doc_id", "lang", "source")
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )


def q_argmax_order(spark, sf):
    # arg-max via agg + join-back (≙ 03:262-275), min-key tie-break
    o = _t(spark, sf, "orders")
    mx = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max("o_totalprice").alias("max_price")
    )
    return (
        o.join(
            mx,
            (o.o_custkey == mx.ck) & (o.o_totalprice == mx.max_price),
        )
        .groupBy("o_custkey", "max_price")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
    )


def q_nullsafe_join(spark, sf):
    # COALESCE-canonicalized equi-join (≙ 03:220-242)
    c = _t(spark, sf, "customer").withColumn(
        "ck", F.coalesce(F.nullif(F.col("c_nationkey"), F.lit(3)), F.lit(-1))
    )
    s = _t(spark, sf, "supplier").withColumn(
        "sk", F.coalesce(F.nullif(F.col("s_nationkey"), F.lit(3)), F.lit(-1))
    )
    return (
        c.join(s, c.ck == s.sk)
        .groupBy(F.col("ck").alias("join_key"))
        .agg(F.count("*").alias("n_pairs"))
    )


def q_pricing_summary(spark, sf):
    # TPC-H Q1-shaped scan+filter+agg; decimal-exact sums
    li = _t(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(dec("l_discount")).cast("double").alias("sum_discount"),
        F.count("*").alias("count_order"),
    )


def q_revenue_per_nation(spark, sf):
    # multi-join with broadcast dims (≙ A13/A15); nation+region are tiny
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_window_topk(spark, sf):
    # window arg-max (our upgrade of the reference's agg+join-back A12)
    c = _t(spark, sf, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("c_nationkey", "c_custkey", "c_acctbal", "rn")
    )


def q_anti_join(spark, sf):
    # left_anti ≙ the pandas isin-negation at 02A:268
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_semi_join(spark, sf):
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    return (
        p.join(li, p.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
    )


def q_events_hourly(spark, sf):
    # event-time windowed aggregation (batch twin of the streaming path)
    e = _t(spark, sf, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


def q_rollup_revenue(spark, sf):
    # ROLLUP subtotals (SURVEY 2.C lists grouping sets as absent from the
    # reference; ours adds them) — decimal-exact sums at every level
    o = _t(spark, sf, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_asof_join(spark, sf):
    """As-of join (the canonical time-series operator Spark lacks as a
    built-in): for every (event_type, hour boundary), the latest event of
    that type strictly before the boundary.  Expressed as the scalable
    composition — candidate window filter -> per-key arg-max -> join-back
    with a deterministic event_id tie-break; every shuffle is keyed by
    event_type so nothing funnels through one partition.  DuckDB replays
    it with a native ASOF JOIN, so the value hash checks our composition
    against a reference implementation of the semantics."""
    e = _t(spark, sf, "events").select(
        "event_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    bounds = e.select(
        "event_type",
        (F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 1 HOUR")).alias("h"),
    ).distinct()
    cand = bounds.join(e, "event_type").where(F.col("ts") < F.col("h"))
    best = cand.groupBy("event_type", "h").agg(F.max("ts").alias("ts"))
    return (
        best.join(e, ["event_type", "ts"])
        .groupBy("event_type", "h", "ts")
        .agg(F.min("event_id").alias("event_id"))  # tie-break duplicates
        .select(
            "event_type",
            F.col("h").alias("boundary"),
            F.col("ts").alias("asof_ts"),
            "event_id",
        )
    )


def q_topk_events(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.orderBy(F.col("value").desc(), F.col("event_id").asc())
        .limit(100)
        .select("event_id", "value")
    )


def q_distinct_types(spark, sf):
    return _t(spark, sf, "events").select("event_type").distinct()


# ---------------------------------------------------------------------------
# training-data operators — dedup / text analysis (documents table)
# ---------------------------------------------------------------------------


def q_exact_dedup(spark, sf):
    from customer_er_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf, "documents"))


def q_token_counts(spark, sf):
    from customer_er_spark.operators.textops import token_counts

    return token_counts(_t(spark, sf, "documents"))


def q_quality_counts(spark, sf):
    from customer_er_spark.operators.textops import quality_counts

    return quality_counts(_t(spark, sf, "documents"))


def q_lang_distribution(spark, sf):
    return (
        _t(spark, sf, "documents").groupBy("lang").agg(F.count("*").alias("n_docs"))
    )


def q_ngram_jaccard(spark, sf):
    from customer_er_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf, "documents"), n=3, jaccard_min=0.6
    ).select("id_l", "id_r", "n_inter", "n_union")


def q_cosine_near_dup(spark, sf):
    """Embedding-cosine near-dup pairs — the EXACT prefix-filtered cosine
    join (operators/simjoin.py) over hashed word-3-gram count vectors of the
    documents table.  Unlike the MinHash/SimHash rows this is not a
    probabilistic blocker verified to be lucky: completeness is a theorem
    (AllPairs prefix bound), so the DuckDB oracle is a straight brute-force
    recomputation of every pair with cosine >= 0.9.  Integer counts make
    dot/norms exact; the single double division is expression-identical on
    both engines, so values hash-match without tolerance."""
    from customer_er_spark.operators.simjoin import cosine_near_dup_pairs

    return cosine_near_dup_pairs(
        _t(spark, sf, "documents"), threshold=0.9, dim=16384, n=3
    )


def q_minhash_lsh_pairs(spark, sf):
    """MinHash LSH candidates, verified by EXACT k-shingle Jaccard >= 9/10
    (integer-ratio predicate).  The MinHash kernel itself is hash-randomized
    and not SQL-replayable, but this composition is: LSH recall at Jaccard
    0.9 with 32 bands x 4 rows is 1 - (1 - 0.9^4)^32 ~ 1 - 1e-15, so the
    output EQUALS the exact 5-gram-Jaccard>=0.9 pair set DuckDB computes —
    a recall miss or an unsound candidate both break the value hash.

    ORACLE-GATE CONFIG COUPLING: set-equality only holds when no band
    degrades — the salted kernel intentionally samples within-bucket pairs
    once a bucket exceeds max_band_size, which on a duplicate-flood corpus
    would (by design) drop pairs the brute-force oracle keeps.  The gate
    therefore runs with salting effectively off (max_band_size 2^30);
    flood-mode behavior is covered by tests/test_flood.py instead."""
    from dataclasses import replace

    from customer_er_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        minhash_lsh_pairs,
    )

    docs = _t(spark, sf, "documents")
    cand = minhash_lsh_pairs(
        docs, replace(_CFG, max_band_size=1 << 30), jaccard_min=0.5
    )
    return exact_jaccard_for_pairs(cand, docs, n=_CFG.shingle_k).where(
        F.col("n_inter") * 10 >= F.col("n_union") * 9
    )


def q_simhash_pairs(spark, sf):
    # banded in Spark; pigeonhole (8 chunks > hamming_max) makes the banded
    # result equal DuckDB's brute-force replay, whose md5-SimHash bits come
    # from generated vote SQL, independent of Spark's Arrow batch kernel
    # (operators/dedup.simhash_signatures).
    # Same oracle-gate coupling as q_minhash_lsh_pairs: set-equality
    # requires zero degraded bands, so salting is effectively off here
    # (max_band_size 2^30); flood behavior is tests/test_flood.py's job.
    from customer_er_spark.operators.dedup import simhash_pairs

    return simhash_pairs(
        _t(spark, sf, "documents"), hamming_max=6, max_band_size=1 << 30
    )


def q_dedup_clusters(spark, sf):
    from customer_er_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf, "documents"), n=3, jaccard_min=0.8)
    return dedup_clusters(pairs.select("id_l", "id_r"))


def q_doc_fingerprints(spark, sf):
    # true winnowing (k=8, w=4) over md5 gram hashes — SQL-replayable
    from customer_er_spark.operators.textops import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf, "documents"), k=8, w=4)


def q_repetition_stats(spark, sf):
    # Gopher-style token-repetition signals (Rae et al. 2021 §A1.1):
    # integer counts so the DuckDB oracle hashes exactly
    from customer_er_spark.operators.textops import repetition_stats

    return repetition_stats(_t(spark, sf, "documents"))


def q_ngram_decontaminate(spark, sf):
    # GPT-3-style benchmark decontamination: deterministic md5-prefix split
    # of the documents table into "benchmark" (~3/16) and "corpus" halves,
    # then word-8-gram overlap.  Planted near-dups straddle the split, so
    # the result is non-vacuous (7 contaminated docs at sf0.01).
    from customer_er_spark.operators.textops import ngram_decontaminate

    docs = _t(spark, sf, "documents")
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "3"
    return ngram_decontaminate(
        docs.where(~is_bench), docs.where(is_bench), n=8
    )


def q_duplicate_spans(spark, sf):
    # corpus-level exact duplicate-substring detection (Lee et al. 2022
    # ExactSubstr at L-gram resolution): maximal spans whose every
    # 30-char substring repeats somewhere in the corpus
    from customer_er_spark.operators.textops import duplicate_spans

    return duplicate_spans(_t(spark, sf, "documents"), min_len=30)


def q_dedup_substrings(spark, sf):
    # the removal half: every doc with its duplicated spans cut out and
    # the remaining segments concatenated in order (value-checked text)
    from customer_er_spark.operators.textops import dedup_substrings

    return dedup_substrings(_t(spark, sf, "documents"), min_len=30)


def q_semantic_dedup(spark, sf):
    # SemDeDup-style survivor selection (Abbas et al. 2023) over the dense
    # embedding table: exact cosine-threshold pair graph -> connected
    # components -> keep one representative per semantic cluster.  The
    # paper restricts comparisons to k-means cells purely to shrink the
    # pair space at scale; this exact full-space twin is strictly more
    # complete (the scale path composes the same CC+survivor tail with
    # ivf_topk/lsh_topk candidate pairs).  cluster_id is the component's
    # canonical survivor under the engine's components.py rule (min of the
    # string-typed ids); keep marks the survivor.  500 rows at sf0.01 with
    # 59 threshold pairs merged.
    from customer_er_spark.operators.dedup import dedup_clusters
    from customer_er_spark.operators.similarity import (
        _dot_unrolled,
        _norm2_unrolled,
    )

    emb = _t(spark, sf, "embeddings")
    base = emb.select("vec_id", F.col("embedding").alias("vec")).withColumn(
        "nrm", F.sqrt(_norm2_unrolled("vec", 64))
    )
    a = base.select(
        F.col("vec_id").alias("id_l"),
        F.col("vec").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col("vec_id").alias("id_r"),
        F.col("vec").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.crossJoin(b)
        .where(F.col("id_l") < F.col("id_r"))
        .where(
            _dot_unrolled("va", "vb", 64) / (F.col("na") * F.col("nb"))
            >= F.lit(0.4)
        )
        .select("id_l", "id_r")
    )
    cc = dedup_clusters(pairs).select(
        F.col("doc_id").cast("bigint").alias("vec_id"),
        F.col("cluster_id").alias("cid"),
    )
    return (
        emb.select("vec_id")
        .join(cc, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("cid", F.col("vec_id").cast("string"))
            .cast("bigint")
            .alias("cluster_id"),
        )
        .withColumn("keep", F.col("vec_id") == F.col("cluster_id"))
    )


def q_pii_stats(spark, sf):
    # PII scrub demo with deterministically PLANTED PII (the synthetic
    # corpus contains none): every doc_id % 5 == 0 doc gains one email,
    # one IPv4 and one phone; counts + redacted text are value-checked
    from customer_er_spark.operators.pretrain import pii_stats

    docs = _t(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com at 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(" or +1-555-0123"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_stats(planted)


def q_stopgram_df(spark, sf):
    # boilerplate detector: word bigrams present in >= 25 documents
    from customer_er_spark.operators.pretrain import stopgram_df

    return stopgram_df(_t(spark, sf, "documents"), n=2, min_df=25)


def q_stratified_sample(spark, sf):
    # deterministic mixture weighting: keep 1/2 of en, 1/4 of de,
    # 1/8 of everything else, by md5-prefix threshold
    from customer_er_spark.operators.pretrain import stratified_sample

    return stratified_sample(
        _t(spark, sf, "documents"),
        rates={"en": 0.5, "de": 0.25},
        default_rate=0.125,
    ).select("doc_id", "lang")


def q_pack_sequences(spark, sf):
    # GPT-style concat-and-chunk packing: 128-token sequences inside 8
    # id-modulo shards (per-shard windows keep the sort partition-local)
    from customer_er_spark.operators.pretrain import pack_sequences

    return pack_sequences(
        _t(spark, sf, "documents"), seq_len=128, n_shards=8
    )


def q_calibration_report(spark, sf):
    # B1 parity: stratified similarity report over exact n-gram Jaccard
    # pairs (integer-ratio deciles — engine-exact bucketing)
    from customer_er_spark.operators.calibrate import calibration_report_ratio
    from customer_er_spark.operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf, "documents"), n=3, jaccard_min=0.1)
    return calibration_report_ratio(pairs)


def q_lang_id(spark, sf):
    from customer_er_spark.operators.textops import language_id

    return language_id(_t(spark, sf, "documents"))


def q_fuzzy_sim(spark, sf):
    """The FUZZY MatchType kernel (operators/verify._fuzzy_sim — trigram-set
    Jaccard, pure Catalyst) value-checked end-to-end: score consecutive
    documents (doc_id i vs i+1) as if they were a structured-field pair.
    Output is the integer (n_inter, n_union) pair per the no-round rule;
    DuckDB replays the same trigram sets with a grams CTE."""
    from customer_er_spark.operators.verify import _grams3

    d = _t(spark, sf, "documents").select(
        "doc_id", F.lower(F.trim(F.col("text"))).alias("s")
    )
    l = d.select(F.col("doc_id").alias("id_l"), F.col("s").alias("sl"))
    r = d.select((F.col("doc_id") - 1).alias("id_l"), F.col("s").alias("sr"))
    pairs = l.join(r, "id_l").where(
        (F.length("sl") >= 3) & (F.length("sr") >= 3)
    )
    gl, gr = _grams3(F.col("sl")), _grams3(F.col("sr"))
    inter = F.size(F.array_intersect(gl, gr)).cast("long")
    return pairs.select(
        "id_l",
        inter.alias("n_inter"),
        (F.size(gl) + F.size(gr)).cast("long").alias("n_sum"),
    )


def q_numeric_overlap(spark, sf):
    """The NUMERIC MatchType kernel (operators/verify.field_sim — overlap
    of ALL extracted numbers, Zingg 02A:119-121) value-checked end-to-end:
    consecutive documents scored as a structured-field pair.  The input
    string appends n_chars and doc_id%100 so every document carries
    numbers (non-vacuous even if the text has none).  Output is the
    integer (n_inter, n_sum) pair per the no-round rule; DuckDB replays
    regexp_extract_all + double cast + distinct + equi-join.  Both engines
    parse number strings with correctly-rounded strtod, so double equality
    is deterministic.  Uses the kernel's shared NUM_RE grammar (sign +
    capped exponent, verify.py) so '-5' != '5' and '1e3' == '1000'."""
    from customer_er_spark.operators.verify import NUM_RE, _norm_zero

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat_ws(
            " ",
            F.lower(F.col("text")),
            F.col("n_chars").cast("string"),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("s"),
    )

    def nums(c):
        return F.array_distinct(
            F.transform(
                F.regexp_extract_all(c, F.lit(NUM_RE), F.lit(0)),
                lambda x: _norm_zero(x.cast("double")),
            )
        )

    left = d.select(F.col("doc_id").alias("id_l"), nums(F.col("s")).alias("nl"))
    right = d.select(
        (F.col("doc_id") - 1).alias("id_l"), nums(F.col("s")).alias("nr")
    )
    pairs = left.join(right, "id_l")
    inter = F.size(F.array_intersect("nl", "nr")).cast("long")
    return pairs.select(
        "id_l",
        inter.alias("n_inter"),
        (F.size("nl") + F.size("nr")).cast("long").alias("n_sum"),
    )


def q_numeric_units_overlap(spark, sf):
    """The NUMERIC_WITH_UNITS MatchType kernel (operators/verify.field_sim)
    value-checked end-to-end: consecutive documents scored as a
    structured-field pair, tokens = (number value, attached unit letters).
    The composed string appends '<n_chars>ch <doc_id%97>px' so every
    document carries unit-bearing numbers.  Tokens are (double, string)
    STRUCTS on both sides — no double->string formatting is ever compared
    across engines (Spark renders 1e20 as '1.0E20', DuckDB as '1e+20'; a
    struct join sidesteps the whole class).  Output is the integer
    (n_inter, n_sum) pair per the no-round rule."""
    from customer_er_spark.operators.verify import NUM_UNIT_RE, _norm_zero

    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lower(F.col("text")),
            F.lit(" "),
            F.col("n_chars").cast("string"),
            F.lit("ch "),
            (F.col("doc_id") % 97).cast("string"),
            F.lit("px"),
        ).alias("s"),
    )

    def toks(c):
        return F.array_distinct(
            F.transform(
                F.regexp_extract_all(c, F.lit(NUM_UNIT_RE), F.lit(0)),
                lambda t: F.struct(
                    _norm_zero(
                        F.regexp_extract(t, NUM_UNIT_RE, 1).cast("double")
                    ).alias("v"),
                    F.regexp_extract(t, NUM_UNIT_RE, 2).alias("u"),
                ),
            )
        )

    left = d.select(F.col("doc_id").alias("id_l"), toks(F.col("s")).alias("tl"))
    right = d.select(
        (F.col("doc_id") - 1).alias("id_l"), toks(F.col("s")).alias("tr")
    )
    pairs = left.join(right, "id_l")
    inter = F.size(F.array_intersect("tl", "tr")).cast("long")
    return pairs.select(
        "id_l",
        inter.alias("n_inter"),
        (F.size("tl") + F.size("tr")).cast("long").alias("n_sum"),
    )


# ---------------------------------------------------------------------------
# sources: CSV scan round-trip (SURVEY §2.A A1) — the one operator that had
# no oracle row.  nation is identical at every scale factor (25 fixed rows),
# so the staging path and the oracle SQL can both be static.
# ---------------------------------------------------------------------------

_CSV_SCAN_DIR = "/tmp/er_csv_scan/nation"
_CSV_SCAN_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"


def q_csv_scan(spark, sf):
    """A1 parity (CSV scan, sources/readers.read_table_csv): write the
    nation table as a standard RFC-4180 CSV (header, doubled-quote
    escaping) and read it back through the engine's CSV source with an
    explicit schema (explicit by design — inferSchema is the reference's
    behavior but is sampling-dependent, so the committed ingest contract
    pins types; see readers.py).  DuckDB re-reads the same staged file
    with read_csv and the value hash checks the full round-trip."""
    from customer_er_spark.sources.readers import read_table_csv, write_table_csv

    n = _t(spark, sf, "nation")
    write_table_csv(n, _CSV_SCAN_DIR)
    return read_table_csv(spark, _CSV_SCAN_DIR, _CSV_SCAN_SCHEMA)


def q_census_counts(spark, sf):
    """Stateful streaming census (streaming/streams.stateful_dedup_counts,
    applyInPandasWithState) run to COMPLETION inside the query: the
    documents table is staged as a multi-file source, streamed in several
    availableNow micro-batches through the per-key state operator, and the
    update-mode emissions are folded to the final state per key (n_copies
    is monotone nondecreasing across batches, keep_id nonincreasing, so
    max/min recover the last state exactly).  The final census equals the
    batch exact_dedup aggregate by construction — which is precisely what
    the DuckDB oracle computes, making the custom stateful operator
    value-checkable instead of pytest-only (r6 verdict #7)."""
    import tempfile

    from customer_er_spark.streaming.streams import stateful_dedup_counts

    docs = _t(spark, sf, "documents")
    tmp = tempfile.mkdtemp(prefix="census_q_")
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    docs.repartition(6).write.parquet(src)  # several micro-batches

    def sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(src)
    )
    q = (
        stateful_dedup_counts(stream)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("text_hash")
        .agg(
            F.max("n_copies").alias("n_copies"),
            F.min("keep_id").alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# multimodal: MP4 container parsing (deterministic synthesized table —
# no video column exists in the driver testdata; the input is built
# in-process from customer_er_spark.mp4.build_minimal_mp4, so the oracle
# can predict every output value in closed form)
# ---------------------------------------------------------------------------

_N_VIDEOS = 50


def _videos_df(spark):
    # oracle-scale convenience only: 50 tiny MP4s are synthesized
    # driver-side so DuckDB can predict every output in closed form.  A
    # real deployment reads a (video_id, bytes) table from the lake; the
    # operators themselves (multimodal.video_meta/frame_sample) are
    # mapInPandas over whatever DataFrame they are handed.
    from customer_er_spark.mp4 import build_minimal_mp4

    rows = [
        (f"v{i:03d}",
         bytearray(build_minimal_mp4(
             n_frames=30 + (i * 7) % 120, fps=30, width=64, height=48,
             keyframe_every=10,
         )))
        for i in range(_N_VIDEOS)
    ]
    return spark.createDataFrame(rows, "video_id string, bytes binary")


# MJPEG pixel-decode oracle: solid-color frames, because a constant 8x8
# block is DC-only under the DCT — the whole encode->decode chain then has
# a CLOSED FORM (color matrix -> quantized DC -> inverse -> color matrix,
# each step plain IEEE-double arithmetic) that DuckDB evaluates exactly.
# Quality 92 scales both quant tables' [0][0] to 3 (pinned by pytest), and
# every color in the schedule is verified tie-free (no intermediate lands
# within 1e-6 of a rounding .5, where banker's vs half-away rounding could
# split engines) — tests/test_codecs.py::test_solid_jpeg_closed_form.
_N_PIXVIDS = 12
_PIX_FRAMES = 10
_PIX_EVERY = 5


def _solid_color(k: int) -> tuple[int, int, int]:
    return ((k * 37 + 11) % 256, (k * 83 + 5) % 256, (k * 53 + 29) % 256)


def _pix_videos_df(spark):
    import numpy as np

    from customer_er_spark.mp4 import build_mjpeg_mp4

    rows = []
    for i in range(_N_PIXVIDS):
        frames = [
            np.full(
                (16, 16, 3),
                _solid_color(i * _PIX_FRAMES + j),
                dtype=np.uint8,
            )
            for j in range(_PIX_FRAMES)
        ]
        rows.append(
            (f"pv{i:02d}", bytearray(build_mjpeg_mp4(frames, fps=30,
                                                     keyframe_every=5)))
        )
    return spark.createDataFrame(rows, "video_id string, bytes binary")


def q_frame_pixels_solid(spark, sf):
    """REAL video pixel decode, value-checked end to end: MJPEG-in-MP4
    videos of solid-color frames go through the full container path
    (stsd/stsz/stsc/stco sample ranges -> per-sample baseline JPEG decode
    in operators/multimodal.frame_pixels), and the decoded frames are
    folded to (uniform?, r, g, b).  The DuckDB oracle reproduces every
    channel value from the closed-form DC-only chain — so CORRECTNESS
    checks the decoder's actual pixel arithmetic, not just row counts."""
    import numpy as np
    import pandas as pd

    from customer_er_spark.operators.multimodal import frame_pixels

    px = frame_pixels(_pix_videos_df(spark), every_n=_PIX_EVERY)

    def fold(batches):
        for pdf in batches:
            out = []
            for vid, idx, t, ok, buf in zip(
                pdf.video_id, pdf.frame_idx, pdf.t_seconds, pdf.ok,
                pdf.pixels,
            ):
                a = np.frombuffer(buf, np.uint8).reshape(-1, 3)
                u = np.unique(a, axis=0)
                out.append(
                    (vid, int(idx), float(t),
                     bool(ok) and len(u) == 1,
                     int(u[0][0]), int(u[0][1]), int(u[0][2]))
                )
            yield pd.DataFrame(
                out,
                columns=["video_id", "frame_idx", "t_seconds", "uniform",
                         "r", "g", "b"],
            )

    return px.mapInPandas(
        fold,
        schema="video_id string, frame_idx long, t_seconds double, "
               "uniform boolean, r int, g int, b int",
    )


def q_frame_sample(spark, sf):
    """Real MP4 frame sampling: parse the ISO-BMFF box tree, expand the
    stts time-to-sample table, flag stss keyframes, sample every 25th
    frame.  Video i has 30 + (i*7)%120 frames at 30 fps with a keyframe
    every 10 samples, so DuckDB reproduces the exact rows from
    generate_series — including t_seconds, because idx*100/3000 and
    idx/30.0 are the same rational and IEEE division is correctly
    rounded."""
    from customer_er_spark.operators.multimodal import frame_sample

    return frame_sample(_videos_df(spark), every_n=25)


def q_video_meta(spark, sf):
    # container metadata from the same synthesized table; every column is
    # closed-form in i (keyframes are 1-based samples 1, 11, 21, ...)
    from customer_er_spark.operators.multimodal import video_meta

    return video_meta(_videos_df(spark))


# ---------------------------------------------------------------------------
# similarity search (embeddings table)
# ---------------------------------------------------------------------------


def q_embedding_topk(spark, sf):
    from customer_er_spark.operators.similarity import brute_force_topk

    return brute_force_topk(_t(spark, sf, "embeddings"), k=5, dim=64)


def _ann_violations(emb, ann, k: int, dim: int):
    """Property oracle shared by the approximate-ANN paths (LSH, IVF):
    emits VIOLATION rows (expected: none) so DuckDB's empty relation is a
    real value check.  Four properties, each deterministic even though the
    approximate candidate set is hash-/quantizer-dependent:
      cos_mismatch  a returned cos != the exact cosine recomputed from the
                    parquet vectors for that (query, neighbor) pair;
      rank_order    tie-tolerant ranking check: per query, rank must be the
                    dense sequence 1..n AND cos must be non-increasing in
                    rank.  (Deliberately NOT a re-derivation of the order
                    from the ROUNDED cos column: two cosines differing by
                    < 1e-6 round equal and may legitimately sort either way
                    by neighbor_id — the operator breaks such ties on the
                    unrounded value, which this relation cannot see.)
      dominance     the approximate rank-r cos exceeds the EXACT rank-r cos
                    for the same query (impossible for a true subset);
      coverage      NON-VACUITY, so an ANN operator returning zero (or too
                    few) rows cannot pass by emptiness: every query that
                    has >= k exact neighbors must return k rows.  Healthy
                    at these sizes because the candidate fan-out (buckets x
                    tables / probed cells) far exceeds k; the hashes are
                    seeded, so the check is deterministic per dataset.
    Any unsound pair, wrong score, broken ranking, or missing output
    produces a row and fails the hash compare."""
    from customer_er_spark.operators.similarity import (
        _dot_unrolled,
        _norm2_unrolled,
        brute_force_topk,
    )

    lsh = ann
    base = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    ).withColumn("nrm", F.sqrt(_norm2_unrolled("vec", dim)))
    q = base.select(
        F.col("vid").alias("query_id"), F.col("vec").alias("qv"), F.col("nrm").alias("qn")
    )
    c = base.select(
        F.col("vid").alias("neighbor_id"), F.col("vec").alias("cv"), F.col("nrm").alias("cn")
    )
    rescored = (
        lsh.join(q, "query_id")
        .join(c, "neighbor_id")
        .withColumn(
            "exact_cos",
            F.round(
                _dot_unrolled("qv", "cv", dim) / (F.col("qn") * F.col("cn")), 6
            ),
        )
        .select("query_id", "neighbor_id", "cos", "rank", "exact_cos")
    )
    viol_cos = rescored.where(F.col("cos") != F.col("exact_cos")).select(
        "query_id",
        "neighbor_id",
        F.lit("cos_mismatch").alias("kind"),
        F.col("cos").alias("lsh_cos"),
        F.col("exact_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rank").asc())
    viol_rank = (
        lsh.withColumn("rn", F.row_number().over(w))
        .withColumn("prev_cos", F.lag("cos").over(w))
        .where(
            (F.col("rn") != F.col("rank"))  # rank not dense 1..n
            | (F.col("prev_cos") < F.col("cos"))  # cos increases with rank
        )
        .select(
            "query_id",
            "neighbor_id",
            F.lit("rank_order").alias("kind"),
            F.col("cos").alias("lsh_cos"),
            F.lit(None).cast("double").alias("exact_cos"),
        )
    )
    exact = brute_force_topk(emb, k=k, dim=dim).select(
        "query_id", F.col("neighbor_id").alias("x_nb"), F.col("cos").alias("x_cos"), "rank"
    )
    viol_dom = (
        lsh.join(exact, ["query_id", "rank"])
        .where(F.col("cos") > F.col("x_cos"))
        .select(
            "query_id",
            "neighbor_id",
            F.lit("dominance").alias("kind"),
            F.col("cos").alias("lsh_cos"),
            F.col("x_cos").alias("exact_cos"),
        )
    )
    # coverage (non-vacuity): queries with >= k exact neighbors must return
    # k rows; payload columns carry (returned, expected) counts
    exact_full = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    ret_cnt = lsh.groupBy("query_id").agg(F.count("*").alias("n_ret"))
    viol_cov = (
        exact_full.where(F.col("n_exact") >= k)
        .join(ret_cnt, "query_id", "left")
        .where(F.coalesce("n_ret", F.lit(0)) < k)
        .select(
            "query_id",
            F.lit(None).cast("long").alias("neighbor_id"),
            F.lit("coverage").alias("kind"),
            F.coalesce("n_ret", F.lit(0)).cast("double").alias("lsh_cos"),
            F.lit(float(k)).alias("exact_cos"),
        )
    )
    return (
        viol_cos.unionByName(viol_rank).unionByName(viol_dom).unionByName(viol_cov)
    )


def q_embedding_topk_lsh(spark, sf):
    # hyperplane-LSH ANN checked by _ann_violations (expected-empty)
    from customer_er_spark.operators.similarity import lsh_topk

    emb = _t(spark, sf, "embeddings")
    return _ann_violations(emb, lsh_topk(emb, k=5, dim=64), k=5, dim=64)


def q_embedding_topk_ivf(spark, sf):
    # IVF (k-means inverted file) ANN, same expected-empty property oracle
    from customer_er_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    return _ann_violations(
        emb, ivf_topk(emb, k=5, dim=64, n_centroids=16, n_probe=4), k=5, dim=64
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dup_histogram": q_dup_histogram,
        "selfjoin_dups": q_selfjoin_dups,
        "argmax_order": q_argmax_order,
        "nullsafe_join": q_nullsafe_join,
        "pricing_summary": q_pricing_summary,
        "revenue_per_nation": q_revenue_per_nation,
        "window_topk": q_window_topk,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "events_hourly": q_events_hourly,
        "rollup_revenue": q_rollup_revenue,
        "asof_join": q_asof_join,
        "topk_events": q_topk_events,
        "distinct_types": q_distinct_types,
        "exact_dedup": q_exact_dedup,
        "token_counts": q_token_counts,
        "quality_counts": q_quality_counts,
        "lang_distribution": q_lang_distribution,
        "ngram_jaccard": q_ngram_jaccard,
        "cosine_near_dup": q_cosine_near_dup,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_pairs": q_simhash_pairs,
        "dedup_clusters": q_dedup_clusters,
        "doc_fingerprints": q_doc_fingerprints,
        "repetition_stats": q_repetition_stats,
        "ngram_decontaminate": q_ngram_decontaminate,
        "duplicate_spans": q_duplicate_spans,
        "dedup_substrings": q_dedup_substrings,
        "semantic_dedup": q_semantic_dedup,
        "pii_stats": q_pii_stats,
        "stopgram_df": q_stopgram_df,
        "stratified_sample": q_stratified_sample,
        "pack_sequences": q_pack_sequences,
        "calibration_report": q_calibration_report,
        "lang_id": q_lang_id,
        "fuzzy_sim": q_fuzzy_sim,
        "numeric_overlap": q_numeric_overlap,
        "numeric_units_overlap": q_numeric_units_overlap,
        "csv_scan": q_csv_scan,
        "census_counts": q_census_counts,
        "frame_pixels_solid": q_frame_pixels_solid,
        "embedding_topk": q_embedding_topk,
        "embedding_topk_lsh": q_embedding_topk_lsh,
        "embedding_topk_ivf": q_embedding_topk_ivf,
        "frame_sample": q_frame_sample,
        "video_meta": q_video_meta,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

# Shared CTE chain for the duplicate-substring oracles (L = 30): exploded
# L-gram start positions -> window count per gram md5 -> duplicated
# positions -> gaps-and-islands interval merge.  Mirrors
# operators/textops.py::duplicate_spans clause-for-clause.
_DUP_SPANS_SQL = """
            WITH g AS (
              SELECT doc_id, CAST(u.p AS INT) AS p,
                     md5(substr(text, CAST(u.p AS INT), 30)) AS gh
              FROM documents,
                   UNNEST(generate_series(1, length(text) - 29)) AS u(p)
              WHERE length(text) >= 30
            ),
            hits AS (
              SELECT doc_id, p FROM (
                SELECT doc_id, p, count(*) OVER (PARTITION BY gh) AS c FROM g
              ) WHERE c >= 2
            ),
            isl AS (
              SELECT doc_id, p,
                     CASE WHEN p > COALESCE(max(p + 30) OVER (
                            PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0)
                     THEN 1 ELSE 0 END AS ni
              FROM hits
            ),
            isl2 AS (
              SELECT doc_id, p,
                     sum(ni) OVER (PARTITION BY doc_id ORDER BY p) AS island
              FROM isl
            )
"""


def _ngram_pairs_cte(
    jaccard_min: float, n: int = 3, ratio: tuple[int, int] | None = None
) -> str:
    """Shared DuckDB CTE block: exact n-gram Jaccard pairs over documents,
    ending in scored(id_l, id_r, n_inter, n_union).  When `ratio`=(num, den)
    is given the threshold is the exact integer comparison
    den*n_inter >= num*n_union (no float in the predicate at all)."""
    if ratio:
        num, den = ratio
        pred = f"{den} * n_inter >= {num} * (sl.n_grams + sr.n_grams - n_inter)"
    else:
        pred = (
            f"CAST(n_inter AS DOUBLE) / (sl.n_grams + sr.n_grams - n_inter)"
            f" >= {jaccard_min}"
        )
    return f"""
            d AS (SELECT doc_id, {_NORM} AS t FROM documents),
            pos AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - {n - 1})) AS g
                    FROM d WHERE length(t) >= {n}),
            grams AS (SELECT DISTINCT doc_id, substring(t, CAST(g AS INT), {n}) AS gram FROM pos),
            sizes AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_inter
                      FROM grams a JOIN grams b
                        ON a.gram = b.gram AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            scored AS (
              SELECT id_l, id_r, n_inter,
                     (sl.n_grams + sr.n_grams - n_inter) AS n_union
              FROM inter
              JOIN sizes sl ON id_l = sl.doc_id
              JOIN sizes sr ON id_r = sr.doc_id
              WHERE {pred})
    """


def _lang_id_sql() -> str:
    """DuckDB replay of operators/textops.language_id — generated from the
    same _LANG_MARKERS table so the two can never drift."""
    from customer_er_spark.operators.textops import _LANG_MARKERS

    def score(markers: tuple[str, ...]) -> str:
        expr = "0.0"
        for m in markers:
            esc = m.replace("'", "''")
            expr += (
                f" + (length(s) - length(replace(s, '{esc}', '')))"
                f" / {float(len(m))}"
            )
        return expr

    score_cols = ",\n                   ".join(
        f"({score(marks)}) AS s_{lang}" for lang, marks in _LANG_MARKERS.items()
    )
    greatest = "greatest(" + ", ".join(f"s_{l}" for l in _LANG_MARKERS) + ")"
    case = "CASE WHEN m <= 0 THEN 'unknown' " + " ".join(
        f"WHEN s_{l} = m THEN '{l}'" for l in sorted(_LANG_MARKERS)
    ) + " END"
    return f"""
            WITH t AS (SELECT doc_id, ' ' || lower(coalesce(text, '')) || ' ' AS s
                       FROM documents),
            sc AS (SELECT doc_id,
                   {score_cols}
                   FROM t)
            SELECT doc_id, {case} AS lang_pred
            FROM (SELECT *, {greatest} AS m FROM sc)
    """


def _numeric_overlap_sql() -> str:
    """DuckDB replay of the NUMERIC kernel — generated from the SAME
    NUM_RE grammar the Catalyst kernel compiles (verify.py), so the two
    can never drift.  NUM_RE is RE2-safe (no lookarounds) by contract."""
    from customer_er_spark.operators.verify import NUM_RE

    return f"""
            WITH d AS (SELECT doc_id,
                              lower(text) || ' ' || CAST(n_chars AS VARCHAR)
                              || ' ' || CAST(doc_id % 100 AS VARCHAR) AS s
                       FROM documents),
            toks AS (SELECT doc_id,
                            unnest(regexp_extract_all(s, '{NUM_RE}')) AS t
                     FROM d),
            nums AS (SELECT DISTINCT doc_id,
                            CASE WHEN CAST(t AS DOUBLE) = 0 THEN 0.0
                                 ELSE CAST(t AS DOUBLE) END AS v
                     FROM toks),
            sizes AS (SELECT doc_id, count(*) AS n FROM nums GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_l, count(*) AS n_inter
                      FROM nums a JOIN nums b
                        ON a.v = b.v AND b.doc_id = a.doc_id + 1
                      GROUP BY 1)
            SELECT sl.doc_id AS id_l,
                   COALESCE(i.n_inter, 0) AS n_inter,
                   sl.n + sr.n AS n_sum
            FROM sizes sl
            JOIN sizes sr ON sr.doc_id = sl.doc_id + 1
            LEFT JOIN inter i ON i.id_l = sl.doc_id
    """


def _numeric_units_overlap_sql() -> str:
    """DuckDB replay of the NUMERIC_WITH_UNITS kernel from the SAME
    NUM_UNIT_RE grammar: group 1 = number, group 2 = unit letters; token
    identity is the (double value, unit string) PAIR, joined column-wise
    so no double is ever formatted to text."""
    from customer_er_spark.operators.verify import NUM_UNIT_RE

    return f"""
            WITH d AS (SELECT doc_id,
                              lower(text) || ' ' || CAST(n_chars AS VARCHAR)
                              || 'ch ' || CAST(doc_id % 97 AS VARCHAR)
                              || 'px' AS s
                       FROM documents),
            raw AS (SELECT doc_id,
                           unnest(regexp_extract_all(s, '{NUM_UNIT_RE}')) AS t
                    FROM d),
            toks AS (SELECT DISTINCT doc_id,
                            CASE WHEN CAST(regexp_extract(t, '{NUM_UNIT_RE}', 1)
                                          AS DOUBLE) = 0 THEN 0.0
                                 ELSE CAST(regexp_extract(t, '{NUM_UNIT_RE}', 1)
                                           AS DOUBLE) END AS v,
                            regexp_extract(t, '{NUM_UNIT_RE}', 2) AS u
                     FROM raw),
            sizes AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_l, count(*) AS n_inter
                      FROM toks a JOIN toks b
                        ON a.v = b.v AND a.u = b.u
                       AND b.doc_id = a.doc_id + 1
                      GROUP BY 1)
            SELECT sl.doc_id AS id_l,
                   COALESCE(i.n_inter, 0) AS n_inter,
                   sl.n + sr.n AS n_sum
            FROM sizes sl
            JOIN sizes sr ON sr.doc_id = sl.doc_id + 1
            LEFT JOIN inter i ON i.id_l = sl.doc_id
    """


_ANN_EMPTY_ORACLE = """
    SELECT CAST(NULL AS BIGINT) AS query_id,
           CAST(NULL AS BIGINT) AS neighbor_id,
           CAST(NULL AS VARCHAR) AS kind,
           CAST(NULL AS DOUBLE) AS lsh_cos,
           CAST(NULL AS DOUBLE) AS exact_cos
    WHERE 1 = 0
"""


def _simhash_oracle() -> str:
    from customer_er_spark.operators.dedup import simhash_oracle_sql

    return simhash_oracle_sql(hamming_max=6)


def _cosine_near_dup_sql(threshold: float = 0.9, dim: int = 16384, n: int = 3) -> str:
    """Brute-force DuckDB twin of operators/simjoin.cosine_near_dup_pairs.

    Recomputes EVERY pair's cosine over the same hashed word-n-gram count
    vectors (no prefix filter — completeness of the Spark side is exactly
    what this oracle checks).  Feature id mirrors simjoin._md5_bucket:
    int(md5(gram)[:6], 16) % dim, spelled as strpos digit arithmetic here
    because DuckDB has no base-16 conv().  Integer dot/norms; one double
    division + round(6), the same expression shape as the Spark side, so
    values hash-match with no tolerance."""
    hexd = "0123456789abcdef"
    hex6 = " + ".join(
        f"(strpos('{hexd}', substring(m, {p}, 1)) - 1) * {16 ** (6 - p)}"
        for p in range(1, 7)
    )
    return f"""
        WITH d AS (SELECT doc_id,
                          regexp_split_to_array(trim(text), '\\s+') AS t
                   FROM documents),
        tok AS (SELECT doc_id, t, len(t) AS nt FROM d WHERE len(t) >= {n}),
        pos AS (SELECT doc_id, t,
                       unnest(generate_series(1, nt - {n - 1})) AS i
                FROM tok),
        grams AS (SELECT doc_id,
                         md5(array_to_string(t[i:i+{n - 1}], ' ')) AS m
                  FROM pos),
        feats AS (SELECT doc_id AS vec_id,
                         ({hex6}) % {dim} AS feature,
                         count(*) AS weight
                  FROM grams GROUP BY 1, 2),
        norms AS (SELECT vec_id, sum(weight * weight) AS n2
                  FROM feats GROUP BY 1),
        dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                        sum(a.weight * b.weight) AS dot
                 FROM feats a JOIN feats b
                   ON a.feature = b.feature AND a.vec_id < b.vec_id
                 GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(CAST(dot AS DOUBLE)
                     / (sqrt(CAST(na.n2 AS DOUBLE))
                        * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos
        FROM dots
        JOIN norms na ON na.vec_id = id_a
        JOIN norms nb ON nb.vec_id = id_b
        WHERE CAST(dot AS DOUBLE)
              / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
              >= {threshold}
    """


def _unrolled_cosine_exprs(dim: int = 64) -> tuple[str, str, str]:
    """(dot, norm_a, norm_b) SQL strings with the SAME left-to-right
    double-precision operation order as the Spark side's _dot_unrolled /
    _norm2_unrolled — the property that makes threshold decisions
    bit-identical across engines.  Single source for every cosine oracle."""
    dot = "+".join(
        f"(CAST(a.embedding[{i}] AS DOUBLE)*CAST(b.embedding[{i}] AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    na = "+".join(
        f"(CAST(a.embedding[{i}] AS DOUBLE)*CAST(a.embedding[{i}] AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    nb = na.replace("a.embedding", "b.embedding")
    return dot, na, nb


def _cosine_sql() -> str:
    dot, na, nb = _unrolled_cosine_exprs()
    return f"""
WITH scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ({dot})/(sqrt({na})*sqrt({nb})) AS cos
  FROM embeddings a, embeddings b
  WHERE a.vec_id != b.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, round(cos, 6) AS cos, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def _semantic_dedup_sql() -> str:
    # exact cosine-threshold pair graph (shared _unrolled_cosine_exprs ->
    # bit-identical threshold decisions vs the Spark side), then the same
    # recursive-CC + string-min survivor rule the dedup_clusters oracle uses
    dot, na, nb = _unrolled_cosine_exprs()
    return f"""
WITH RECURSIVE scored AS (
  SELECT a.vec_id AS id_l, b.vec_id AS id_r
  FROM embeddings a, embeddings b
  WHERE a.vec_id < b.vec_id
    AND ({dot})/(sqrt({na})*sqrt({nb})) >= 0.4),
prs AS (SELECT CAST(id_l AS VARCHAR) AS x, CAST(id_r AS VARCHAR) AS y
        FROM scored),
edges AS (SELECT x, y FROM prs UNION SELECT y, x FROM prs),
reach(n, r) AS (
  SELECT x, x FROM edges
  UNION
  SELECT e.y, reach.r FROM reach JOIN edges e ON e.x = reach.n),
cc AS (SELECT n, min(r) AS r FROM reach GROUP BY n)
SELECT e.vec_id,
       CAST(COALESCE(cc.r, CAST(e.vec_id AS VARCHAR)) AS BIGINT) AS cluster_id,
       (COALESCE(cc.r, CAST(e.vec_id AS VARCHAR)) = CAST(e.vec_id AS VARCHAR))
         AS keep
FROM embeddings e LEFT JOIN cc ON cc.n = CAST(e.vec_id AS VARCHAR)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "dup_histogram": """
            SELECT recs, count(*) AS clusters FROM (
              SELECT o_custkey, count(*) AS recs FROM orders GROUP BY o_custkey
            ) GROUP BY recs
        """,
        "selfjoin_dups": """
            SELECT DISTINCT a.doc_id AS doc_id
            FROM documents a JOIN documents b
              ON a.lang = b.lang AND a.source = b.source
             AND a.doc_id != b.doc_id
        """,
        "argmax_order": """
            SELECT o.o_custkey, m.max_price, min(o.o_orderkey) AS o_orderkey
            FROM orders o JOIN (
              SELECT o_custkey AS ck, max(o_totalprice) AS max_price
              FROM orders GROUP BY o_custkey
            ) m ON o.o_custkey = m.ck AND o.o_totalprice = m.max_price
            GROUP BY o.o_custkey, m.max_price
        """,
        "nullsafe_join": """
            SELECT COALESCE(NULLIF(c.c_nationkey, 3), -1) AS join_key,
                   count(*) AS n_pairs
            FROM customer c JOIN supplier s
              ON COALESCE(NULLIF(c.c_nationkey, 3), -1)
               = COALESCE(NULLIF(s.s_nationkey, 3), -1)
            GROUP BY 1
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_discount,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "revenue_per_nation": """
            SELECT r_name, n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r_name, n_name
        """,
        "window_topk": """
            SELECT c_nationkey, c_custkey, c_acctbal, CAST(rn AS INT) AS rn FROM (
              SELECT c_nationkey, c_custkey, c_acctbal,
                     row_number() OVER (PARTITION BY c_nationkey
                                        ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
              FROM customer
            ) WHERE rn <= 3
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "semi_join": """
            SELECT p_brand, count(*) AS n_parts FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
            GROUP BY p_brand
        """,
        "events_hourly": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "rollup_revenue": """
            SELECT o_orderstatus, o_orderpriority,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                     AS revenue,
                   count(*) AS n_orders
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        # asof_join — DuckDB's native ASOF JOIN is the reference
        # implementation our Spark composition must value-match
        "asof_join": """
            WITH e AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                       FROM events),
            bounds AS (SELECT DISTINCT event_type,
                              date_trunc('hour', ts) + INTERVAL 1 HOUR AS h
                       FROM e),
            matched AS (
              SELECT b.event_type, b.h, e.ts
              FROM bounds b ASOF JOIN e
                ON b.event_type = e.event_type AND e.ts < b.h)
            SELECT m.event_type, m.h AS boundary, m.ts AS asof_ts,
                   min(e2.event_id) AS event_id
            FROM matched m
            JOIN e e2 ON e2.event_type = m.event_type AND e2.ts = m.ts
            GROUP BY 1, 2, 3
        """,
        "topk_events": """
            SELECT event_id, value FROM events
            ORDER BY value DESC, event_id ASC LIMIT 100
        """,
        "distinct_types": "SELECT DISTINCT event_type FROM events",
        "frame_pixels_solid": f"""
            -- closed-form decode of a DC-only (solid-color) baseline JPEG
            -- at quality 92 (both quant tables' [0][0] scale to 3):
            --   rgb -> ycbcr (JFIF matrix) -> v' = 3*round(8*(v-128)/3)/8+128
            --   -> ycbcr -> rgb, final round+clip.  All literals e-notation
            -- so DuckDB computes in DOUBLE (a bare 0.299 would be DECIMAL);
            -- the color schedule is verified tie-free, so round() agrees
            -- with numpy's banker's rounding on every value.
            WITH f AS (
              SELECT i, j, i*{_PIX_FRAMES}+j AS k
              FROM generate_series(0, {_N_PIXVIDS - 1}) t(i),
                   generate_series(0, {_PIX_FRAMES - 1}) u(j)
              WHERE j % {_PIX_EVERY} = 0
            ), c AS (
              SELECT i, j,
                     CAST((k*37+11)%256 AS DOUBLE) AS r0,
                     CAST((k*83+5)%256 AS DOUBLE) AS g0,
                     CAST((k*53+29)%256 AS DOUBLE) AS b0
              FROM f
            ), ycc AS (
              SELECT i, j,
                2.99e-1*r0 + 5.87e-1*g0 + 1.14e-1*b0 AS y,
                -1.68736e-1*r0 - 3.31264e-1*g0 + 5e-1*b0 + 1.28e2 AS cb,
                5e-1*r0 - 4.18688e-1*g0 - 8.1312e-2*b0 + 1.28e2 AS cr
              FROM c
            ), dq AS (
              SELECT i, j,
                3*round(8*(y-1.28e2)/3)/8 + 1.28e2 AS y2,
                3*round(8*(cb-1.28e2)/3)/8 + 1.28e2 AS cb2,
                3*round(8*(cr-1.28e2)/3)/8 + 1.28e2 AS cr2
              FROM ycc
            )
            SELECT 'pv' || lpad(CAST(i AS VARCHAR), 2, '0') AS video_id,
                   CAST(j AS BIGINT) AS frame_idx,
                   (j*100)/3e3 AS t_seconds,
                   TRUE AS uniform,
                   CAST(least(greatest(round(y2 + 1.402e0*(cr2-1.28e2)), 0e0), 2.55e2) AS INT) AS r,
                   CAST(least(greatest(round(y2 - 3.44136e-1*(cb2-1.28e2) - 7.14136e-1*(cr2-1.28e2)), 0e0), 2.55e2) AS INT) AS g,
                   CAST(least(greatest(round(y2 + 1.772e0*(cb2-1.28e2)), 0e0), 2.55e2) AS INT) AS b
            FROM dq
        """,
        "census_counts": f"""
            SELECT md5({_NORM}) AS text_hash, count(*) AS n_copies,
                   min(doc_id) AS keep_id
            FROM documents GROUP BY 1
        """,
        "exact_dedup": f"""
            SELECT md5({_NORM}) AS text_hash, count(*) AS n_copies,
                   min(doc_id) AS keep_id
            FROM documents GROUP BY 1
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT)
                     AS n_tokens_ws,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(
                          trim(regexp_replace(trim(text),
                               '([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])', '\1 ', 'g')),
                          '\s+')) END AS INT) AS n_tokens_bpe
            FROM documents
        """,
        "quality_counts": r"""
            SELECT doc_id,
                   CAST(length(text) AS INT) AS n_chars_q,
                   CAST(length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS INT) AS n_alpha,
                   CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digit,
                   CAST(length(text)
                        - (length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))
                        - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                        - (length(text) - length(regexp_replace(text, '\s', '', 'g'))) AS INT) AS n_punct,
                   CAST(len(regexp_split_to_array(text,
                        '(?i)\b(the|a|an|and|or|of|to|in|is|it)\b')) - 1 AS INT) AS n_stop
            FROM documents
        """,
        "lang_distribution": "SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang",
        # repetition_stats — word-n-gram instance generation replayed via
        # list slicing over the same whitespace tokenization
        "repetition_stats": r"""
            WITH toks AS (
              SELECT doc_id, trim(text) AS tt,
                     regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents
            ),
            base AS (
              SELECT doc_id,
                     CAST(CASE WHEN length(tt) = 0 THEN 0 ELSE len(t) END AS INT)
                       AS n_tokens
              FROM toks
            ),
            g2 AS (
              SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
              FROM toks, UNNEST(range(1, len(t))) AS u(i)
              WHERE len(t) >= 2
            ),
            top2 AS (
              SELECT doc_id, CAST(max(c) AS INT) AS top2_cnt
              FROM (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2)
              GROUP BY doc_id
            ),
            g3 AS (
              SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram
              FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 3
            ),
            dup3 AS (
              SELECT doc_id, CAST(sum(c) AS INT) AS dup3_cnt
              FROM (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2)
              WHERE c >= 2 GROUP BY doc_id
            )
            SELECT b.doc_id, b.n_tokens,
                   COALESCE(top2.top2_cnt, 0) AS top2_cnt,
                   COALESCE(dup3.dup3_cnt, 0) AS dup3_cnt
            FROM base b
            LEFT JOIN top2 USING (doc_id)
            LEFT JOIN dup3 USING (doc_id)
        """,
        # duplicate_spans — L-gram start explode via generate_series,
        # window count per gram md5, gaps-and-islands merge: replays the
        # Spark plan clause-for-clause
        "duplicate_spans": _DUP_SPANS_SQL
        + """
            SELECT doc_id, CAST(min(p) AS INT) AS span_start,
                   CAST(max(p + 30) AS INT) AS span_end,
                   CAST(max(p + 30) - min(p) AS INT) AS span_len
            FROM isl2 GROUP BY doc_id, island
        """,
        # dedup_substrings — spans CTE + sentinel span at len+1, gap
        # segments via lag(span_end), ordered empty-separator string_agg
        "dedup_substrings": _DUP_SPANS_SQL
        + """
            , spans AS (
              SELECT doc_id, CAST(min(p) AS INT) AS span_start,
                     CAST(max(p + 30) AS INT) AS span_end
              FROM isl2 GROUP BY doc_id, island
            ),
            base AS (SELECT doc_id, text AS t, length(text) AS n FROM documents),
            allspans AS (
              SELECT doc_id, span_start, span_end FROM spans
              UNION ALL
              SELECT doc_id, CAST(n + 1 AS INT), CAST(n + 1 AS INT) FROM base
            ),
            segs AS (
              SELECT doc_id, span_start,
                     COALESCE(lag(span_end) OVER (
                       PARTITION BY doc_id ORDER BY span_start), 1) AS seg_start
              FROM allspans
            )
            SELECT s.doc_id,
                   -- COALESCE: a NULL-text doc has one all-NULL segment
                   -- group; Spark's array_join drops nulls and emits '',
                   -- so the oracle must too
                   COALESCE(string_agg(
                       substr(b.t, s.seg_start, s.span_start - s.seg_start),
                       '' ORDER BY s.seg_start), '') AS clean_text
            FROM segs s JOIN base b USING (doc_id)
            GROUP BY s.doc_id
        """,
        # pii_stats — same planted-PII construction, counts via
        # regexp_extract_all, redaction via the same module-level patterns
        "pii_stats": f"""
            WITH planted AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0 THEN
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com at 10.0.0.'
                            || CAST(doc_id % 256 AS VARCHAR)
                            || ' or +1-555-0123'
                     ELSE text END AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT)
                     AS n_emails,
                   CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS INT)
                     AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT)
                     AS n_phones,
                   regexp_replace(regexp_replace(regexp_replace(
                       text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                       '{_PII_IPV4}', '<IP>', 'g'),
                       '{_PII_PHONE}', '<PHONE>', 'g') AS text_redacted
            FROM planted
        """,
        # stopgram_df — distinct word-bigram per doc, document frequency
        "stopgram_df": r"""
            WITH toks AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents
            ),
            g AS (
              SELECT DISTINCT doc_id, array_to_string(t[i:i+1], ' ') AS gram
              FROM toks, UNNEST(range(1, len(t))) AS u(i)
              WHERE len(t) >= 2
            )
            SELECT gram, CAST(count(*) AS INT) AS df
            FROM g GROUP BY gram HAVING count(*) >= 25
        """,
        # stratified_sample — md5-prefix thresholds: en 1/2, de 1/4,
        # default 1/8 (hex thresholds = rate * 16^8)
        "stratified_sample": """
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
                  CASE lang WHEN 'en' THEN '80000000'
                            WHEN 'de' THEN '40000000'
                            ELSE '20000000' END
        """,
        # pack_sequences — identical shard/cumsum/chunk-interval math
        "pack_sequences": r"""
            WITH toks AS (
              SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\s+'))
                          END AS BIGINT) AS n
              FROM documents
            ),
            laid AS (
              SELECT doc_id, shard, n,
                     CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n
                          AS BIGINT) AS start_off
              FROM toks WHERE n > 0
            ),
            expl AS (
              SELECT doc_id, shard, start_off, n, CAST(c AS INT) AS chunk_id
              FROM laid,
                   UNNEST(range(start_off // 128,
                                (start_off + n - 1) // 128 + 1)) AS u(c)
            )
            SELECT doc_id, shard, chunk_id,
                   CAST(LEAST(start_off + n, (chunk_id + 1) * 128)
                        - GREATEST(start_off, chunk_id * 128) AS INT)
                     AS tok_in_chunk,
                   CAST(start_off AS BIGINT) AS start_off
            FROM expl
        """,
        # ngram_decontaminate — same md5-prefix benchmark/corpus split,
        # distinct word-8-gram intersection counted per corpus doc
        "ngram_decontaminate": r"""
            WITH toks AS (
              SELECT doc_id,
                     substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '3' AS is_bench,
                     regexp_split_to_array(trim(text), '\s+') AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id, is_bench, array_to_string(t[i:i+7], ' ') AS gram
              FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
              WHERE len(t) >= 8
            ),
            bench AS (SELECT DISTINCT gram FROM grams WHERE is_bench),
            corpus AS (
              SELECT DISTINCT doc_id, gram FROM grams WHERE NOT is_bench
            )
            SELECT doc_id, CAST(count(*) AS INT) AS n_hits
            FROM corpus JOIN bench USING (gram)
            GROUP BY doc_id
        """,
        "ngram_jaccard": f"""
            WITH {_ngram_pairs_cte(0.6)}
            SELECT id_l, id_r, n_inter, n_union FROM scored
        """,
        # cosine_near_dup — brute-force recomputation of the EXACT
        # prefix-filtered cosine join (no recall knob to be lucky about:
        # completeness is the AllPairs bound, so the sets must be equal)
        "cosine_near_dup": _cosine_near_dup_sql(0.9, dim=16384, n=3),
        "dedup_clusters": f"""
            WITH RECURSIVE {_ngram_pairs_cte(0.8)},
            prs AS (SELECT CAST(id_l AS VARCHAR) AS a, CAST(id_r AS VARCHAR) AS b
                    FROM scored),
            edges AS (SELECT a, b FROM prs UNION SELECT b, a FROM prs),
            reach(n, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.n
            )
            SELECT n AS doc_id, min(r) AS cluster_id FROM reach GROUP BY n
        """,
        "calibration_report": f"""
            WITH {_ngram_pairs_cte(0.1)}
            SELECT least(CAST((10 * n_inter) // n_union AS INT), 9) AS stratum,
                   count(*) AS n_pairs,
                   min(CAST(id_l AS VARCHAR) || '|' || CAST(id_r AS VARCHAR))
                     AS example_pair
            FROM scored
            GROUP BY 1
        """,
        "doc_fingerprints": f"""
            WITH d AS (SELECT doc_id, {_NORM} AS t FROM documents),
            pos AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 7)) AS p
                    FROM d WHERE length(t) >= 11),
            g AS (SELECT doc_id, CAST(p AS INT) AS p, length(t) - 7 AS n_grams,
                         md5(substring(t, CAST(p AS INT), 8)) AS gh
                  FROM pos),
            wm AS (SELECT doc_id, p, n_grams,
                          min(gh) OVER (PARTITION BY doc_id ORDER BY p
                                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                            AS fp
                   FROM g)
            SELECT DISTINCT doc_id, fp FROM wm WHERE p <= n_grams - 3
        """,
        "lang_id": _lang_id_sql(),
        # fuzzy_sim — DuckDB replays the FUZZY MatchType trigram kernel:
        # distinct trigrams of lower(trim(text)) per doc, intersect counts
        # for consecutive doc_id pairs (same no-round integer-pair rule)
        "fuzzy_sim": """
            WITH d AS (SELECT doc_id, lower(trim(text)) AS s FROM documents),
            pos AS (SELECT doc_id, s,
                           unnest(generate_series(1, length(s) - 2)) AS g
                    FROM d WHERE length(s) >= 3),
            grams AS (SELECT DISTINCT doc_id,
                             substring(s, CAST(g AS INT), 3) AS gram
                      FROM pos),
            sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
            inter AS (SELECT a.doc_id AS id_l, count(*) AS n_inter
                      FROM grams a JOIN grams b
                        ON a.gram = b.gram AND b.doc_id = a.doc_id + 1
                      GROUP BY 1)
            SELECT sl.doc_id AS id_l,
                   COALESCE(i.n_inter, 0) AS n_inter,
                   sl.n + sr.n AS n_sum
            FROM sizes sl
            JOIN sizes sr ON sr.doc_id = sl.doc_id + 1
            LEFT JOIN inter i ON i.id_l = sl.doc_id
        """,
        # numeric_overlap — DuckDB replays the NUMERIC MatchType kernel:
        # extract all numbers (shared sign+capped-exponent grammar NUM_RE,
        # RE2-compatible), cast to double, -0 -> 0, distinct per doc,
        # intersect counts on consecutive doc_id pairs (same integer-pair
        # rule).  sizes covers every doc because the composed string
        # always carries at least one number (n_chars is appended).
        "numeric_overlap": _numeric_overlap_sql(),
        # numeric_units_overlap — same composition for NUMERIC_WITH_UNITS:
        # tokens are (value, unit) pairs joined as columns, never as
        # formatted strings (see q_numeric_units_overlap docstring).
        "numeric_units_overlap": _numeric_units_overlap_sql(),
        # csv_scan — re-read the file the Spark query staged (RFC-4180,
        # doubled-quote escaping = DuckDB's default dialect); explicit
        # column types mirror the engine's pinned-schema ingest contract
        "csv_scan": f"""
            SELECT * FROM read_csv('{_CSV_SCAN_DIR}/*.csv', header=true,
              columns={{'n_nationkey': 'INTEGER', 'n_name': 'VARCHAR',
                        'n_regionkey': 'INTEGER'}})
        """,
        "embedding_topk": _cosine_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        # the three hash-randomized kernels get VALUE-level oracles via
        # deterministic compositions (see each query's docstring):
        # minhash_lsh_pairs — LSH recall at jacc>=0.9 is ~1-1e-15, so the
        # exact-verified output equals DuckDB's exact 5-gram pair set;
        "minhash_lsh_pairs": f"""
            WITH {_ngram_pairs_cte(0.9, n=5, ratio=(9, 10))}
            SELECT id_l, id_r, n_inter, n_union FROM scored
        """,
        # simhash_pairs — DuckDB recomputes the md5-SimHash bits with
        # generated vote SQL and pairs them brute-force; pigeonhole banding
        # finds the same set;
        "simhash_pairs": _simhash_oracle(),
        # embedding_topk_lsh / embedding_topk_ivf — violations queries:
        # expected-empty relation with a typed schema (cos/rank/dominance
        # checks run Spark-side against exact recomputation; any failure
        # emits a row).
        "embedding_topk_lsh": _ANN_EMPTY_ORACLE,
        "embedding_topk_ivf": _ANN_EMPTY_ORACLE,
        # frame_sample / video_meta — the Spark side REALLY parses MP4
        # boxes (mp4.parse_mp4) over a deterministically synthesized table;
        # the oracle reproduces the expected rows in closed form from the
        # same (n_frames, fps, keyframe_every) generator parameters.
        "frame_sample": f"""
            WITH v AS (
              SELECT CAST(i AS INT) AS i, 30 + (CAST(i AS INT) * 7) % 120 AS n_frames
              FROM range({_N_VIDEOS}) t(i)),
            f AS (
              SELECT i, unnest(generate_series(0, n_frames - 1, 25)) AS frame_idx
              FROM v)
            SELECT 'v' || lpad(CAST(i AS VARCHAR), 3, '0') AS video_id,
                   CAST(frame_idx AS BIGINT) AS frame_idx,
                   CAST(frame_idx AS DOUBLE) / 30 AS t_seconds,
                   (frame_idx % 10 = 0) AS is_sync
            FROM f
        """,
        "video_meta": f"""
            SELECT 'v' || lpad(CAST(i AS VARCHAR), 3, '0') AS video_id,
                   TRUE AS ok,
                   CAST(30 + (CAST(i AS INT) * 7) % 120 AS DOUBLE) / 30
                     AS duration_s,
                   CAST(1 AS INT) AS n_tracks,
                   CAST(64 AS INT) AS width,
                   CAST(48 AS INT) AS height,
                   CAST(30 + (CAST(i AS INT) * 7) % 120 AS BIGINT) AS n_frames,
                   CAST((30 + (CAST(i AS INT) * 7) % 120 + 9) // 10 AS BIGINT)
                     AS n_keyframes
            FROM range({_N_VIDEOS}) t(i)
        """,
    }


if __name__ == "__main__":
    from customer_er_spark.session import get_spark

    s = get_spark("entry-smoke")
    df = entry(s)
    print("entry rows:", df.count())
    df.show(5)
