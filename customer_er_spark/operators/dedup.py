"""Deduplication operator family over text documents.

The image+caption pipeline (plans/pipeline.py) is the flagship; these are
the same LSH machinery re-targeted at a plain `documents(doc_id, text, ...)`
table — the operator set a large-scale training-data pipeline needs:

  exact_dedup          hash-groupBy on normalized text (pure SQL, md5)
  minhash_lsh_pairs    shingle -> MinHash -> band -> salted in-partition
                       pair expansion (operators/banded.py)
  simhash_pairs        64-bit md5 SimHash — one mapInArrow batch kernel,
                       banded by pigeonhole chunks through the same salted
                       kernel; DuckDB replays its bits in SQL
  ngram_jaccard_pairs  exact character-n-gram Jaccard via a gram join
                       (pure SQL — the DuckDB-checkable near-dup oracle)
  dedup_clusters       connected components over any pair set -> keep/drop

Skew policy: every banded self-join here routes through
operators/banded.banded_pairs — hot buckets (duplicate floods: boilerplate,
empty strings, error pages that share every band) are sub-salted to
O(m * max_band_size) pair volume with representative chaining for
connectivity, never O(m^2).  All declarative where possible; Python only
inside Arrow-batched kernels (MinHash and SimHash signatures).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customer_er_spark.config import ERConfig
from customer_er_spark.functions.minhash import make_minhash_udf
from customer_er_spark.functions.partitioning import fan_out, shuffle_width
from customer_er_spark.functions.simhash import md5_simhash_batch
from customer_er_spark.functions.text import normalize_caption
from customer_er_spark.operators.banded import banded_pairs
from customer_er_spark.operators.candidates import minhash_band_key_cols
from customer_er_spark.operators.components import connected_components
from customer_er_spark.operators.materialize import materialize, owned, shared


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(text_hash, n_copies, keep_id): one row per distinct normalized text
    with >= 1 copy; keep_id = min id (deterministic survivor)."""
    norm = normalize_caption(F.col(text_col))
    return (
        docs.select(F.col(id_col), F.md5(norm).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


def minhash_signatures(
    docs: DataFrame, cfg: ERConfig, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    mh = make_minhash_udf(cfg.shingle_k, cfg.num_hashes, cfg.minhash_seed)
    # adaptive fan-out BEFORE the UDF (same lesson as
    # signatures.compute_signatures): a compact one-row-group parquet
    # input otherwise runs the whole signature stage on ONE task —
    # measured 10-13.5 s single-task vs ~1 s fanned at sf1.0.  No-op when
    # the scan already offers enough splits (functions/partitioning.py).
    return fan_out(
        docs.select(
            F.col(id_col).alias("doc_id"),
            normalize_caption(F.col(text_col)).alias("text_norm"),
        ),
        cfg.shuffle_partitions,
        "doc_id",
    ).withColumn("minhash", mh(F.col("text_norm")))


def minhash_band_keys(sig: DataFrame, cfg: ERConfig) -> DataFrame:
    """(doc_id, band_key): one row per (doc, band); the wide minhash array
    is projected AWAY here — pairs are gated and deduplicated on 8-byte
    keys first, signatures join back after (verify-shuffle-width lesson)."""
    keys = minhash_band_key_cols(cfg)
    return sig.select("doc_id", F.explode(F.array(*keys)).alias("band_key"))


def minhash_lsh_pairs(
    docs: DataFrame,
    cfg: ERConfig | None = None,
    jaccard_min: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidate pairs via MinHash LSH, verified by the signature
    Jaccard estimate: (id_l, id_r, jacc).

    Scale shape: band rows -> banded_pairs (ONE exchange, in-partition pair
    expansion, hot-band sub-salting with representative chaining, distinct)
    -> join the 128-long signatures back onto the (small) distinct pair set
    for the Jaccard-estimate verify.  A duplicate flood of m identical docs
    costs O(m * max_band_size) pairs, not O(m^2).

    The output is an operators/materialize cut, persisted and owned by
    the caller (free it with unpersist()).  Everything cached to build it
    is released before return."""
    cfg = cfg or ERConfig()
    with owned():
        return materialize(
            _minhash_verified(docs, cfg, jaccard_min, id_col, text_col)
        )


def _minhash_verified(
    docs: DataFrame, cfg: ERConfig, jaccard_min: float, id_col: str,
    text_col: str,
) -> DataFrame:
    # shared: the signature is referenced three times (banding + both join
    # sides); without it the pandas UDF recomputes per reference.  In the
    # checkpointed pipeline (plans/pipeline.py) the catalog write plays this
    # role durably.
    sig = shared(minhash_signatures(docs, cfg, id_col, text_col))
    # distinct=False: the Jaccard estimate is a pure function of the pair
    # and the >= jaccard_min filter is highly selective, so candidates are
    # scored WITH band multiplicity and only the few survivors are deduped
    # below — the pair-key distinct exchange (21.2M rows at sf1.0 guarding
    # a 2.5k-row result) disappears from the plan.
    pairs, _stats = banded_pairs(
        minhash_band_keys(sig, cfg),
        id_col="doc_id",
        max_band_size=cfg.max_band_size,
        shuffle_partitions=cfg.shuffle_partitions,
        distinct=False,
    )
    # Jaccard-estimate verify: score the (narrow) candidate pairs against a
    # BOUNDED broadcast of the signature matrix (functions/pairscore.py —
    # count_equal/num_hashes is exactly the aggregate(zip_with(...)) sum of
    # 0.0/1.0 doubles, so values are bit-identical).  The prior join path
    # shipped the 128-long arrays onto every candidate through two wide
    # shuffles (21M pairs x ~2 KB at sf1.0) and evaluated the interpreted
    # zip_with chain per pair — measured 17 s of the stage; it remains the
    # fallback for oversized or non-long-id tables.
    from customer_er_spark.functions.pairscore import (
        collect_bounded_matrix,
        equality_fraction_pair_scores,
    )
    import numpy as np

    matrix = collect_bounded_matrix(
        sig, "doc_id", "minhash", np.int64, max_rows=500_000
    )
    if matrix is not None:
        scored = equality_fraction_pair_scores(
            docs.sparkSession, pairs, matrix[0], matrix[1], cfg.num_hashes
        )
    else:
        sl = sig.select(F.col("doc_id").alias("id_l"), F.col("minhash").alias("mh_l"))
        sr = sig.select(F.col("doc_id").alias("id_r"), F.col("minhash").alias("mh_r"))
        scored = (
            pairs.join(sl, "id_l")
            .join(sr, "id_r")
            .withColumn(
                "jacc",
                F.aggregate(
                    F.zip_with("mh_l", "mh_r", lambda a, b: (a == b).cast("double")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.lit(float(cfg.num_hashes)),
            )
            .select("id_l", "id_r", "jacc")
        )
    return (
        scored.where(F.col("jacc") >= jaccard_min)
        .select("id_l", "id_r", F.round("jacc", 6).alias("jacc"))
        .distinct()  # survivors only (jacc is pair-deterministic, so
        #              distinct here equals the old pre-score distinct)
    )


# ---------------------------------------------------------------------------
# SimHash — md5-based, one Arrow pass, DuckDB-replayable
# ---------------------------------------------------------------------------
#
# Token hash = first 16 hex chars (64 bits) of md5(token); bit i of the
# token hash (i = 4*(p-1) + b for hex-digit position p in 1..16, bit b in
# 0..3) votes +1/-1; the document's SimHash bit i is 1 iff the vote sum is
# positive.  The hash is carried as two non-negative 32-bit halves
# (sim_lo = bits 0..31, sim_hi = bits 32..63) so every expression stays
# inside plain BIGINT arithmetic in BOTH engines — no 64-bit sign games.
# Spark computes the votes in a numpy batch kernel
# (functions/simhash.md5_simhash_batch); the oracle computes them with the
# generated scalar SQL below, so DuckDB checks the kernel independently.

_HEX = "0123456789abcdef"


def _simhash_bit_sql(p: int, b: int) -> str:
    """SQL for bit b of hex digit p of md5 column `m` (0/1)."""
    return f"((strpos('{_HEX}', substring(m, {p}, 1)) - 1) >> {b}) & 1"


def _simhash_half_sql(bits: range) -> str:
    """SQL assembling SimHash bits `bits` (absolute indices) into one
    non-negative 32-bit half from the vote-count columns c_<i>."""
    terms = [
        f"(CASE WHEN c_{i} > 0 THEN {1 << (i - bits.start)} ELSE 0 END)"
        for i in bits
    ]
    return "(" + " + ".join(terms) + ")"


def _simhash_vote_sqls() -> list[str]:
    """64 aggregate SQL strings: c_<i> = sum over tokens of (2*bit_i - 1)."""
    out = []
    for i in range(64):
        p, b = i // 4 + 1, i % 4
        out.append(f"sum(2 * ({_simhash_bit_sql(p, b)}) - 1) AS c_{i}")
    return out


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, sim_hi, sim_lo): 64-bit md5 SimHash as two uint32-valued
    BIGINT halves, one mapInArrow pass of functions/simhash.md5_simhash_batch
    over the normalized text.  Docs with empty normalized text are excluded
    (no tokens -> no signature).  doc_id keeps its input type;
    shuffle_partitions=None fans out to the session's shuffle width."""
    # adaptive fan-out BEFORE the kernel: a one-row-group parquet input
    # otherwise runs the whole signature pass on ONE task.  The shuffle
    # moved is just (id, normalized text) — narrow — and it is a no-op
    # when the scan already offers enough splits.
    base = fan_out(
        docs.select(
            F.col(id_col).alias("doc_id"),
            normalize_caption(F.col(text_col)).alias("t"),
        ).where(F.length("t") > 0),
        shuffle_width(docs, shuffle_partitions),
        "doc_id",
    )
    schema = T.StructType([
        base.schema["doc_id"],
        T.StructField("sim_hi", T.LongType()),
        T.StructField("sim_lo", T.LongType()),
    ])

    def sign(batches):
        for b in batches:
            hi, lo = md5_simhash_batch(b.column(1))
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(hi), pa.array(lo)],
                names=["doc_id", "sim_hi", "sim_lo"],
            )

    return base.mapInArrow(sign, schema=schema)


def _simhash_signature_sql(table: str) -> str:
    """DuckDB SQL for (doc_id, sim_hi, sim_lo) over `table`: the same
    normalization and token split as simhash_signatures, with the votes as
    generated scalar SQL.  The whitespace class is Java's \\s (RE2's
    lacks \\x0B), and trim(.., ' ') strips spaces only, as Spark's trim
    does (DuckDB's one-argument trim also strips NBSP and U+3000)."""
    norm = (r"trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g'), "
            r"' ')")
    votes = ",\n               ".join(_simhash_vote_sqls())
    return f"""
        WITH d AS (SELECT doc_id, {norm} AS t FROM {table}),
        tok AS (SELECT doc_id, unnest(string_split(t, ' ')) AS tk
                FROM d WHERE length(t) > 0),
        md AS (SELECT doc_id, md5(tk) AS m FROM tok),
        votes AS (SELECT doc_id,
               {votes}
               FROM md GROUP BY doc_id)
        SELECT doc_id, {_simhash_half_sql(range(32, 64))} AS sim_hi,
               {_simhash_half_sql(range(0, 32))} AS sim_lo
        FROM votes
    """


def simhash_oracle_sql(
    hamming_max: int = 6, table: str = "documents"
) -> str:
    """DuckDB replay of simhash_pairs: the md5 SimHash votes as generated
    scalar SQL (independent of the Spark batch kernel), then a brute-force
    O(n^2) self-join (the oracle does not band — pigeonhole banding with
    chunks > hamming_max finds exactly this set)."""
    return f"""
        WITH sim AS ({_simhash_signature_sql(table)})
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
               CAST(bit_count(xor(a.sim_hi, b.sim_hi))
                    + bit_count(xor(a.sim_lo, b.sim_lo)) AS INT) AS hamming
        FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sim_hi, b.sim_hi))
              + bit_count(xor(a.sim_lo, b.sim_lo)) <= {hamming_max}
    """


def simhash_band_keys(sim: DataFrame, chunks: int = 8) -> DataFrame:
    """(doc_id, sim_hi, sim_lo, band_key): one row per unordered pair of
    the 64-bit SimHash's `chunks` equal slices (see simhash_pairs)."""
    from itertools import combinations

    cb = 64 // chunks
    mask = (1 << cb) - 1

    def chunk(c: int):
        lo_bit = c * cb
        half = F.col("sim_lo") if lo_bit < 32 else F.col("sim_hi")
        shift = lo_bit if lo_bit < 32 else lo_bit - 32
        return F.shiftrightunsigned(half, shift).bitwiseAND(F.lit(mask))

    keys = [
        F.xxhash64(F.lit(ci), F.lit(cj), chunk(ci), chunk(cj))
        for ci, cj in combinations(range(chunks), 2)
    ]
    return sim.select(
        "doc_id", "sim_hi", "sim_lo", F.explode(F.array(*keys)).alias("band_key")
    )


def simhash_pairs(
    docs: DataFrame,
    hamming_max: int = 6,
    chunks: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_band_size: int = 1024,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: (id_l, id_r, hamming).

    Signatures come from simhash_signatures (one Arrow batch-kernel pass);
    shuffle_partitions (None: the session's spark.sql.shuffle.partitions)
    sizes both its fan-out and the banding exchange.

    max_band_size is 1024 here (vs 256 for the image pipeline): 2-chunk
    SimHash keys on natural text still concentrate a few hundred documents
    in the most popular chunk-value pairs (measured max 291 at sf0.1 —
    skew, not duplication), and a 1024-member bucket costs at most ~0.5M
    in-partition gated codegen comparisons — sub-second — while a genuine
    flood (>> 1024 identical texts sharing ALL keys) still salts safely.

    MULTI-INDEX pair-of-chunks banding (same scheme as the image pipeline's
    pHash keys, candidates.band_keys / HmSearch-style): the 64-bit SimHash
    splits into `chunks` equal slices and every unordered PAIR of chunks
    forms one band key.  Pigeonhole: a pair within Hamming distance
    chunks-2 keeps >= 2 clean chunks, so it shares at least one 2-chunk
    key — with hamming_max <= chunks - 2 the banded result EQUALS the
    brute-force set (which is what simhash_oracle_sql checks).

    Why pairs of chunks and not single chunks: SimHash bit votes on natural
    text are dominated by common tokens, so single 8-bit chunk values are
    heavily SKEWED — buckets grow linearly with corpus size and the salted
    kernel would degrade recall on perfectly ordinary corpora (measured at
    sf0.1: single-chunk banding lost 8% of true pairs to salting).
    2-chunk keys have 2^16 effective values — ~256x fewer random
    collisions, buckets stay small on natural data, and salting engages
    only for genuine duplicate floods (which share ALL keys and still
    degrade safely to O(m * max_band_size) + chain connectivity).

    The full 64-bit Hamming gate runs in-partition before the distinct, so
    random 2-chunk collisions die in codegen without being shuffled.

    Ends in an output cut (operators/materialize): the returned DataFrame
    is persisted and belongs to the caller, who frees it with unpersist()."""
    if 64 % chunks or 32 % (64 // chunks):
        raise ValueError("chunks must be one of 2, 4, 8, 16, 32, 64")
    if hamming_max > chunks - 2:
        raise ValueError(
            f"hamming_max {hamming_max} exceeds the pigeonhole guarantee of "
            f"{chunks} chunks in pairs (recall only assured up to {chunks - 2})"
        )
    shuffle_partitions = shuffle_width(docs, shuffle_partitions)
    sim = simhash_signatures(docs, id_col, text_col, shuffle_partitions)
    bands = simhash_band_keys(sim, chunks)
    gate = (
        f"(bit_count({{l}}.sim_hi ^ {{r}}.sim_hi) "
        f"+ bit_count({{l}}.sim_lo ^ {{r}}.sim_lo)) <= {hamming_max}"
    )
    with owned():
        pairs, _stats = banded_pairs(
            bands,
            id_col="doc_id",
            payload_cols=("sim_hi", "sim_lo"),
            gate=gate,
            max_band_size=max_band_size,
            shuffle_partitions=shuffle_partitions,
            emit_payload=True,
        )
        return materialize(pairs.select(
            "id_l",
            "id_r",
            (
                F.bit_count(F.col("sim_hi_l").bitwiseXOR(F.col("sim_hi_r")))
                + F.bit_count(F.col("sim_lo_l").bitwiseXOR(F.col("sim_lo_r")))
            ).cast("int").alias("hamming"),
        ))


def ngram_grams(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, gram): distinct character n-grams — pure SQL (lateral
    explode over positions), no UDF, so DuckDB can replay it exactly."""
    norm = normalize_caption(F.col(text_col))
    return (
        docs.select(F.col(id_col).alias("doc_id"), norm.alias("t"))
        .where(F.length("t") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("t") - (n - 1))).alias("g"),
            "t",
        )
        .select("doc_id", F.substring(F.col("t"), F.col("g"), n).alias("gram"))
        .distinct()
    )


def exact_jaccard_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram-set Jaccard for an EXISTING candidate pair set:
    (id_l, id_r, n_inter, n_union).  Pure SQL (gram sets + array_intersect)
    so DuckDB can replay the same values; cost is bounded by the candidate
    count, not n^2."""
    gram_sets = ngram_grams(docs, n, id_col, text_col).groupBy("doc_id").agg(
        F.collect_list("gram").alias("gset"), F.count("*").alias("n_grams")
    )
    return (
        pairs.select("id_l", "id_r")
        .join(
            gram_sets.select(
                F.col("doc_id").alias("id_l"),
                F.col("gset").alias("gs_l"),
                F.col("n_grams").alias("sz_l"),
            ),
            "id_l",
        )
        .join(
            gram_sets.select(
                F.col("doc_id").alias("id_r"),
                F.col("gset").alias("gs_r"),
                F.col("n_grams").alias("sz_r"),
            ),
            "id_r",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("gs_l", "gs_r")).cast("long")
        )
        .withColumn("n_union", F.col("sz_l") + F.col("sz_r") - F.col("n_inter"))
        .select("id_l", "id_r", "n_inter", "n_union")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    jaccard_min: float = 0.6,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact n-gram-set Jaccard near-dup pairs:
    (id_l, id_r, n_inter, n_union, jacc).

    Exact (not probabilistic) — this is the oracle-checkable twin of
    minhash_lsh_pairs, and BOTH modes produce identical above-threshold
    output:

      prefix_filter=True (default, the scale path): PPJoin-style prefix
        filtering (Chaudhuri et al. SSJoin'06 / Bayardo et al. WWW'07).
        Grams are globally ordered by (doc frequency asc, gram asc); each
        doc indexes only its first ceil((1-t)*|A|)+1 grams — its RAREST
        ones.  Lemma: two sets with Jaccard >= t must share an element
        within these prefixes, so joining on prefix grams finds every
        qualifying pair while ubiquitous stopword grams (the quadratic
        skew risk of a naive gram join) never enter the index.  Exact
        intersections are then computed per candidate via array_intersect
        over the full gram sets (JVM-side, bounded by candidate count).
      prefix_filter=False: the naive full inverted-index join (kept as the
        brute-force twin for tests; its hot-gram partitions rely on AQE
        skew splitting).
    """
    grams = ngram_grams(docs, n, id_col, text_col)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    # jacc is kept as the raw (unrounded) double; oracle comparisons should
    # use the integer columns — round() of a dyadic-rational ratio (e.g.
    # 1/128) can land exactly on a .5 decimal tie, where Spark (HALF_UP)
    # and other engines (half-even) disagree.
    if not prefix_filter:
        gl = grams.select(F.col("doc_id").alias("id_l"), "gram")
        gr = grams.select(F.col("doc_id").alias("id_r"), "gram")
        inter = (
            gl.join(gr, "gram")
            .where(F.col("id_l") < F.col("id_r"))
            .groupBy("id_l", "id_r")
            .agg(F.count("*").alias("n_inter"))
        )
        sl = sizes.select(F.col("doc_id").alias("id_l"), F.col("n_grams").alias("sz_l"))
        sr = sizes.select(F.col("doc_id").alias("id_r"), F.col("n_grams").alias("sz_r"))
        return (
            inter.join(sl, "id_l")
            .join(sr, "id_r")
            .withColumn("n_union", F.col("sz_l") + F.col("sz_r") - F.col("n_inter"))
            .withColumn("jacc", F.col("n_inter") / F.col("n_union"))
            .where(F.col("jacc") >= jaccard_min)
            .select("id_l", "id_r", "n_inter", "n_union", "jacc")
        )

    from pyspark.sql import Window

    # global gram order: rare first (doc frequency asc, gram asc tie-break)
    gram_df = grams.groupBy("gram").agg(F.count("*").alias("gram_df"))
    ranked = (
        grams.join(gram_df, "gram")
        .join(sizes, "doc_id")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("gram_df", "gram")
            ),
        )
    )
    # prefix length ceil((1-t)*|A|)+1: one more than the provable minimum,
    # guarding float rounding on the safe (longer) side
    prefix = ranked.where(
        F.col("rk")
        <= F.ceil(F.lit(1.0 - jaccard_min) * F.col("n_grams")).cast("int") + 1
    ).select("doc_id", "gram")
    cand = (
        prefix.select(F.col("doc_id").alias("id_l"), "gram")
        .join(prefix.select(F.col("doc_id").alias("id_r"), "gram"), "gram")
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r")
        .distinct()
    )
    return (
        exact_jaccard_for_pairs(cand, docs, n, id_col, text_col)
        .withColumn("jacc", F.col("n_inter") / F.col("n_union"))
        .where(F.col("jacc") >= jaccard_min)
        .select("id_l", "id_r", "n_inter", "n_union", "jacc")
    )


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) via connected components over any pair set;
    cluster_id = min doc_id in the component (survivor)."""
    typed = pairs.select(
        F.col("id_l").cast("string").alias("id_l"),
        F.col("id_r").cast("string").alias("id_r"),
    )
    return connected_components(typed).select(
        F.col("image_id").alias("doc_id"), "cluster_id"
    )
