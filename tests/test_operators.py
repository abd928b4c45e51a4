"""Operator-library tests: similarity search, textops, multimodal plumbing,
dedup variants."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from customer_er_spark.config import ERConfig

CFG = ERConfig(shuffle_partitions=8)
SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_lsh_topk_recall_vs_brute_force(spark, embeddings):
    from customer_er_spark.operators.similarity import brute_force_topk, lsh_topk

    bf = brute_force_topk(embeddings, k=5, dim=64)
    # collision prob per table ~ (1 - theta/pi)^planes: these neighbors are
    # only moderately similar, so recall needs few planes x many tables
    approx = lsh_topk(embeddings, k=5, dim=64, n_planes=4, n_tables=16)
    hits = bf.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    total = bf.count()
    assert total == embeddings.count() * 5
    recall = hits / total
    assert recall >= 0.75, recall  # approximate path; brute force is exact


def test_brute_force_cosine_values(spark, embeddings):
    from customer_er_spark.operators.similarity import brute_force_topk

    rows = brute_force_topk(embeddings.limit(20), k=3, dim=64).collect()
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in embeddings.limit(20).collect()}
    for r in rows[:20]:
        a, b = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cos"] - want) < 1e-6


def test_ngram_jaccard_exactness(spark):
    from customer_er_spark.operators.dedup import ngram_jaccard_pairs

    data = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgh"), (3, "abcdxfgh"), (4, "zzzzzzzz")],
        ["doc_id", "text"],
    )
    rows = {(r["id_l"], r["id_r"]): r for r in
            ngram_jaccard_pairs(data, n=3, jaccard_min=0.1).collect()}
    assert rows[(1, 2)]["jacc"] == 1.0
    # "abcdefgh" vs "abcdxfgh": grams {abc,bcd,cde,def,efg,fgh} vs
    # {abc,bcd,cdx,dxf,xfg,fgh} -> inter={abc,bcd,fgh}=3, union=9
    assert rows[(1, 3)]["n_inter"] == 3
    assert rows[(1, 3)]["n_union"] == 9
    assert (1, 4) not in rows and (2, 4) not in rows


def test_language_id(spark):
    from customer_er_spark.operators.textops import language_id

    data = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is running"),
            (2, "el perro de la casa que corre con la gata"),
            (3, "xyzzy qwerty"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(data).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "unknown"


def test_fingerprint_stability(spark):
    from customer_er_spark.operators.textops import min_shingle_hash

    data = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps")],
        ["doc_id", "text"],
    )
    got = [r["min_shingle_hash"] for r in min_shingle_hash(data).collect()]
    assert got[0] == got[1] != 0


def test_language_id_matches_udf_twin(spark):
    """The Catalyst marker expression must agree with the pandas-UDF
    reference implementation on mixed/empty/null inputs."""
    from customer_er_spark.operators.textops import lang_id_udf, language_id
    from pyspark.sql import functions as F

    data = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is running"),
            (2, "el perro de la casa que corre con la gata"),
            (3, "le chien est dans la maison avec les chats"),
            (4, "der hund und die katze ist schnell"),
            (5, "xyzzy qwerty"),
            (6, ""),
            (7, None),
            (8, "de la " * 3),  # es/fr tie on shared markers
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(data).collect()}
    ref = {
        r["doc_id"]: r["ref"]
        for r in data.select("doc_id", lang_id_udf(F.col("text")).alias("ref")).collect()
    }
    assert got == ref, (got, ref)


def test_winnow_fingerprints_edit_locality(spark):
    """Winnowing property: a single character edit perturbs only the
    k+w-1 windows overlapping it — most fingerprints survive."""
    from customer_er_spark.operators.textops import winnow_fingerprints

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls gently on the quiet old town square near the river bend"
    )
    edited = base.replace("rain", "raXn")
    data = spark.createDataFrame(
        [(1, base), (2, edited)], ["doc_id", "text"]
    )
    fps = winnow_fingerprints(data, k=8, w=4)
    got = {1: set(), 2: set()}
    for r in fps.collect():
        got[r["doc_id"]].add(r["fp"])
    inter = got[1] & got[2]
    union = got[1] | got[2]
    assert len(got[1]) > 10
    assert len(inter) / len(union) >= 0.8, (len(inter), len(union))
    # identical docs -> identical fingerprint sets
    same = spark.createDataFrame([(1, base), (2, base)], ["doc_id", "text"])
    g = {1: set(), 2: set()}
    for r in winnow_fingerprints(same, k=8, w=4).collect():
        g[r["doc_id"]].add(r["fp"])
    assert g[1] == g[2]


def test_multimodal_decode_meta(spark, small_corpus):
    from customer_er_spark.operators.multimodal import decode_meta

    images = spark.read.parquet(f"{small_corpus['dir']}/images.parquet").limit(50)
    meta = decode_meta(images)
    rows = meta.collect()
    assert len(rows) == 50
    assert all(r["ok"] for r in rows)
    assert all(r["height"] == 32 and r["width"] == 32 for r in rows)
    # poison row must not kill the stage
    poisoned = images.withColumn(
        "bytes", F.when(F.col("image_id").endswith("1"),
                        F.lit(b"junk")).otherwise(F.col("bytes"))
    )
    bad = decode_meta(poisoned).where("NOT ok").count()
    assert bad > 0


def test_multimodal_stub_format_raises(spark, small_corpus):
    from customer_er_spark.operators.multimodal import decode_meta

    images = (
        spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
        .limit(5)
        .withColumn("fmt", F.lit("mp4"))
    )
    # stubbed codec (audio/video) -> ok=False rows, not a crash
    rows = decode_meta(images).collect()
    assert all(not r["ok"] for r in rows)
    # mislabeled format (png bytes tagged jpeg) -> decode error, not a crash
    mislabeled = (
        spark.read.parquet(f"{small_corpus['dir']}/images.parquet")
        .limit(5)
        .withColumn("fmt", F.lit("jpeg"))
    )
    assert all(not r["ok"] for r in decode_meta(mislabeled).collect())


def test_multimodal_resize_and_features(spark, small_corpus):
    from customer_er_spark.operators.multimodal import image_features, resize_images

    images = spark.read.parquet(f"{small_corpus['dir']}/images.parquet").limit(20)
    small = resize_images(images, 8, 8).collect()
    assert all(r["h"] == 8 and r["w"] == 8 for r in small)
    feats = image_features(images, n_bins=16).collect()
    assert all(len(r["features"]) == 16 for r in feats)
    assert all(abs(sum(r["features"]) - 1.0) < 1e-9 for r in feats)


def test_frame_sample_plan(spark):
    from customer_er_spark.operators.multimodal import frame_sample_plan

    vids = spark.createDataFrame([("v1", 100), ("v2", 10)], ["image_id", "n_frames"])
    rows = frame_sample_plan(vids, every_n=30).collect()
    got = {(r["image_id"], r["frame_idx"]) for r in rows}
    assert got == {("v1", 0), ("v1", 30), ("v1", 60), ("v1", 90), ("v2", 0)}


def test_exact_dedup_survivor(spark):
    from customer_er_spark.operators.dedup import exact_dedup

    data = spark.createDataFrame(
        [(10, "Same  Text"), (3, "same text"), (7, "other")],
        ["doc_id", "text"],
    )
    rows = {r["text_hash"]: r for r in exact_dedup(data).collect()}
    dup = [r for r in rows.values() if r["n_copies"] == 2]
    assert len(dup) == 1 and dup[0]["keep_id"] == 3  # normalized + min id


def _simhash_docs(n=600, seed=5):
    """Texts DuckDB and Spark normalize alike, built to trip a kernel that
    splits on anything but " ": multi-byte UTF-8, NBSP / U+3000 / \\x1c-
    \\x1f inside tokens and at text ends, tab/CR/LF/VT/FF runs, repeats,
    NULL/empty/blank."""
    import random

    rng = random.Random(seed)
    pieces = ["alpha", "b\u00e9ta", "\u65e5\u672c", "x\u00a0y", "x\u3000y",
              "\x1f", "q\x1cr", "TOK", "tok", "\u2603", "z", "", "dup", "dup"]
    seps = [" ", "  ", "\t", "\r\n", "\n", " \t ", "\x0b\f", "\u3000",
            "\x1f"]
    texts = [
        "".join(rng.choice(pieces) + rng.choice(seps)
                for _ in range(rng.randint(0, 20)))
        for _ in range(n)
    ]
    return texts + [None, "", "   ", "\t\n", texts[7], texts[9]]


def _duckdb_rows(sql, rows, id_type):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("d", pd.DataFrame(rows, columns=["doc_id", "text"]))
    con.execute(f"CREATE TABLE documents AS SELECT CAST(doc_id AS {id_type}) "
                "AS doc_id, text FROM d")
    return sorted(con.execute(sql).fetchall())


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_simhash_signatures_match_duckdb(spark, id_type):
    """The Arrow batch kernel equals DuckDB's generated vote SQL, over
    several input partitions and several Arrow batches each."""
    from customer_er_spark.operators.dedup import (
        _simhash_signature_sql,
        simhash_signatures,
    )

    texts = _simhash_docs()
    rows = [(i if id_type == "long" else f"d{i:05d}", t)
            for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "50")  # >= 2 batches per task
    try:
        sig = simhash_signatures(df.repartition(3), shuffle_partitions=2)
        got = sorted(tuple(r) for r in sig.collect())
    finally:
        spark.conf.set(key, old)
    assert dict(sig.dtypes)["doc_id"] == {"long": "bigint"}.get(id_type, id_type)
    want = _duckdb_rows(_simhash_signature_sql("documents"), rows,
                        {"long": "BIGINT"}.get(id_type, "VARCHAR"))
    assert len(got) > 500 and got == want


def test_simhash_pairs_match_duckdb_oracle(spark):
    from customer_er_spark.operators.dedup import (
        simhash_oracle_sql,
        simhash_pairs,
        simhash_signatures,
    )

    rows = list(enumerate(_simhash_docs()))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    pairs = simhash_pairs(df, hamming_max=6, max_band_size=1 << 30)
    got = sorted(tuple(r) for r in pairs.collect())
    pairs.unpersist()
    want = _duckdb_rows(simhash_oracle_sql(hamming_max=6), rows, "BIGINT")
    assert len(want) > 100 and got == want

    # shuffle_partitions=None: a one-partition input fans out to the
    # session's width, not a literal
    assert simhash_signatures(df.coalesce(1)).rdd.getNumPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions"))

    empty = simhash_signatures(df.limit(0))
    assert empty.columns == ["doc_id", "sim_hi", "sim_lo"]
    assert empty.count() == 0


def test_ngram_prefix_filter_matches_bruteforce_on_skew(spark):
    """Skewed corpus: one ubiquitous stopword phrase in every doc.  The
    prefix-filtered join must produce IDENTICAL above-threshold output to
    the naive gram join while keeping the candidate set bounded (the
    naive join explodes quadratically on the shared grams)."""
    import random

    from customer_er_spark.operators.dedup import ngram_grams, ngram_jaccard_pairs
    from pyspark.sql import functions as F

    rng = random.Random(99)

    def words(k):
        return " ".join(
            "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(5))
            for _ in range(k)
        )

    stop = "the quick common shared stopword prefix every doc repeats"
    rows = []
    for i in range(120):
        rows.append((2 * i, f"{stop} {words(14)}"))
    # planted near-dups: same unique tail, one typo
    for i in range(5):
        tail = words(14)
        rows.append((1000 + 2 * i, f"{stop} {tail}"))
        rows.append((1001 + 2 * i, f"{stop} {tail[:-1]}x"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    fast = ngram_jaccard_pairs(docs, n=3, jaccard_min=0.6, prefix_filter=True)
    slow = ngram_jaccard_pairs(docs, n=3, jaccard_min=0.6, prefix_filter=False)
    got_fast = {
        (r["id_l"], r["id_r"], r["n_inter"], r["n_union"])
        for r in fast.collect()
    }
    got_slow = {
        (r["id_l"], r["id_r"], r["n_inter"], r["n_union"])
        for r in slow.collect()
    }
    assert got_fast == got_slow
    assert len(got_fast) >= 5  # planted pairs found

    # candidate volume bound: the naive inverted join touches every pair
    # sharing a stopword gram (~C(130,2)); prefix candidates stay small
    grams = ngram_grams(docs, 3, "doc_id", "text")
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    gram_df = grams.groupBy("gram").agg(F.count("*").alias("gram_df"))
    from pyspark.sql import Window

    ranked = (
        grams.join(gram_df, "gram").join(sizes, "doc_id")
        .withColumn("rk", F.row_number().over(
            Window.partitionBy("doc_id").orderBy("gram_df", "gram")))
    )
    prefix = ranked.where(
        F.col("rk") <= F.ceil(F.lit(0.4) * F.col("n_grams")).cast("int") + 1
    ).select("doc_id", "gram")
    n_cand = (
        prefix.select(F.col("doc_id").alias("id_l"), "gram")
        .join(prefix.select(F.col("doc_id").alias("id_r"), "gram"), "gram")
        .where("id_l < id_r").select("id_l", "id_r").distinct().count()
    )
    n_naive = (
        grams.select(F.col("doc_id").alias("id_l"), "gram")
        .join(grams.select(F.col("doc_id").alias("id_r"), "gram"), "gram")
        .where("id_l < id_r").select("id_l", "id_r").distinct().count()
    )
    assert n_naive >= 8000  # the stopword grams connect ~everything
    assert n_cand < n_naive / 4, (n_cand, n_naive)


def test_jpeg_decode_meta_and_invariant(spark):
    """Real JPEG rows flow through decode_meta (ok=true) and pass the
    decoded-pixel invariant audit (PSNR>=40 lossy re-encode fixpoint +
    phash parity)."""
    import numpy as np

    from customer_er_spark import codecs
    from customer_er_spark import phash as ph
    from customer_er_spark.config import ERConfig
    from customer_er_spark.operators.multimodal import decode_meta
    from customer_er_spark.operators.verify import check_decode_invariant

    rng = np.random.default_rng(7)
    rows = []
    for i in range(8):
        base = rng.integers(0, 256, (32, 32)).astype(np.float64)
        img = np.clip(
            (base + np.roll(base, 1, 0) + np.roll(base, 1, 1)) / 3, 0, 255
        ).astype(np.uint8)
        blob = codecs.encode(img, "jpeg")
        dec = codecs.decode(blob, "jpeg")  # stored pixels = decoded pixels
        rows.append(
            (f"j_{i:03d}", bytearray(blob), 32, 32, "jpeg",
             f"caption {i}", int(ph.phash64(dec)))
        )
    images = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long",
    )
    meta = decode_meta(images).collect()
    assert len(meta) == 8 and all(r["ok"] for r in meta)
    violations = check_decode_invariant(images, ERConfig()).collect()
    assert violations == [], violations


def test_ivf_topk_recall_vs_brute_force(spark, embeddings):
    from customer_er_spark.operators.similarity import brute_force_topk, ivf_topk

    bf = brute_force_topk(embeddings, k=5, dim=64)
    approx = ivf_topk(embeddings, k=5, dim=64, n_centroids=8, n_probe=5)
    hits = bf.join(approx, ["query_id", "neighbor_id"], "left_semi").count()
    total = bf.count()
    recall = hits / total
    # the synthetic embeddings are near-orthogonal random vectors (no real
    # cluster structure — the hardest case for a coarse quantizer); same
    # bar as the LSH recall test
    assert recall >= 0.75, recall
    # every returned cos is the EXACT cosine (only the candidate set is
    # approximate): joining on (query, neighbor) must agree on cos
    joined = approx.join(
        bf.select("query_id", "neighbor_id", F.col("cos").alias("bf_cos")),
        ["query_id", "neighbor_id"],
    )
    assert joined.where(F.col("cos") != F.col("bf_cos")).count() == 0


def test_ivf_kmeans_deterministic(spark, embeddings):
    from customer_er_spark.operators.similarity import kmeans_centroids

    c1 = kmeans_centroids(embeddings, n_centroids=8, dim=64, iters=3)
    c2 = kmeans_centroids(
        embeddings.repartition(7), n_centroids=8, dim=64, iters=3
    )
    assert np.allclose(c1, c2)  # partitioning-independent quantizer


def test_ivf_vector_flood_capped(spark):
    from customer_er_spark.operators.similarity import ivf_topk

    n, dim, k = 1200, 16, 5
    vec = [float((i * 7) % 5 - 2) or 1.0 for i in range(dim)]
    rows = [(i, vec) for i in range(n)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # all vectors quantize to ONE cell; cell_cap bounds the candidate join
    out = ivf_topk(
        emb, k=k, dim=dim, n_centroids=4, n_probe=2, cell_cap=64
    ).persist()
    got = out.count()
    assert out.where(F.col("cos") < 0.999999).count() == 0
    # capped members still fill k slots for every query
    assert got == n * k, got
    out.unpersist()


def test_ivf_kmeans_trains_on_bounded_sample(spark, embeddings):
    """The quantizer must cost O(1) Spark work: one count job + one sample
    scan, independent of iters (round-3 verdict: the old trainer ran a full
    assignment pass + a posexplode shuffle PER iteration)."""
    from customer_er_spark.operators.similarity import kmeans_centroids

    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None) or [])
    kmeans_centroids(embeddings, n_centroids=8, dim=64, iters=25)
    after = set(st.getJobIdsForGroup(None) or [])
    n_jobs = len(after - before)
    # count + sample-collect (AQE may add a tiny final-stage job); 25 Lloyd
    # iterations must NOT multiply Spark jobs
    assert n_jobs <= 4, f"quantizer training ran {n_jobs} Spark jobs"


def test_ivf_kmeans_sample_cap(spark, embeddings):
    """max_train bounds the driver-side sample while staying deterministic
    and partitioning-independent."""
    from customer_er_spark.operators.similarity import kmeans_centroids

    c1 = kmeans_centroids(embeddings, n_centroids=8, dim=64, max_train=200)
    c2 = kmeans_centroids(
        embeddings.repartition(13), n_centroids=8, dim=64, max_train=200
    )
    assert np.allclose(c1, c2)
    assert c1.shape == (8, 64)


def test_ivf_ragged_vector_fails_loudly(spark):
    from customer_er_spark.operators.similarity import kmeans_centroids

    rows = [(0, [1.0] * 16), (1, [2.0] * 16), (2, [3.0] * 12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dim=16"):
        kmeans_centroids(emb, n_centroids=2, dim=16)


def test_ann_violations_non_vacuous(spark, embeddings):
    """The expected-empty ANN property oracle must be self-contained: an
    operator that returns nothing (or too little) has to FAIL the check,
    not pass by emptiness (round-3 verdict #3)."""
    from __spark_entry__ import _ann_violations
    from customer_er_spark.operators.similarity import lsh_topk

    empty = spark.createDataFrame(
        [], "query_id long, neighbor_id long, cos double, rank int"
    )
    viol = _ann_violations(embeddings, empty, k=5, dim=64)
    cov = viol.where(F.col("kind") == "coverage")
    assert cov.count() == embeddings.count()  # every query under-covered

    # truncated output (one row dropped from one query) is also caught
    real = lsh_topk(embeddings, k=5, dim=64, n_planes=4, n_tables=16)
    one_q = real.select("query_id").first()["query_id"]
    truncated = real.where(
        ~((F.col("query_id") == one_q) & (F.col("rank") == 5))
    )
    v2 = _ann_violations(embeddings, truncated, k=5, dim=64)
    assert v2.where(
        (F.col("kind") == "coverage") & (F.col("query_id") == one_q)
    ).count() == 1
    # and the healthy output stays violation-free
    assert _ann_violations(embeddings, real, k=5, dim=64).count() == 0


def test_repetition_stats_hand_computed(spark):
    from customer_er_spark.operators.textops import repetition_stats

    data = spark.createDataFrame(
        [
            # "a b a b a b": bigrams {a b: 3, b a: 2}; trigrams
            # {a b a: 2, b a b: 2} -> dup3 = 4 instances
            ("d1", "a b a b a b"),
            # all tokens distinct: top2 = 1, dup3 = 0
            ("d2", "x y z w"),
            ("d3", ""),  # empty -> 0/0/0
            ("d4", "solo"),  # one token -> n=1, top2=0, dup3=0
            ("d5", "  pad   pad  "),  # trim + multi-space: 2 tokens
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in repetition_stats(data).collect()}
    assert len(got) == 5  # every input doc yields exactly one row
    assert (got["d1"]["n_tokens"], got["d1"]["top2_cnt"], got["d1"]["dup3_cnt"]) == (6, 3, 4)
    assert (got["d2"]["n_tokens"], got["d2"]["top2_cnt"], got["d2"]["dup3_cnt"]) == (4, 1, 0)
    assert (got["d3"]["n_tokens"], got["d3"]["top2_cnt"], got["d3"]["dup3_cnt"]) == (0, 0, 0)
    assert (got["d4"]["n_tokens"], got["d4"]["top2_cnt"], got["d4"]["dup3_cnt"]) == (1, 0, 0)
    assert (got["d5"]["n_tokens"], got["d5"]["top2_cnt"], got["d5"]["dup3_cnt"]) == (2, 1, 0)


def test_ngram_decontaminate_hand_computed(spark):
    from customer_er_spark.operators.textops import ngram_decontaminate

    bench = spark.createDataFrame(
        [("b1", "the quick brown fox jumps")],
        "doc_id string, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains "the quick brown" and "quick brown fox" -> 2 hits
            ("c1", "so the quick brown fox ran"),
            # repeats a contaminated gram -> still DISTINCT-counted once
            ("c2", "the quick brown x the quick brown"),
            ("c3", "totally clean document text"),  # no overlap -> absent
            ("c4", "brown fox jumps"),  # exactly one shared trigram
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r["n_hits"] for r in
           ngram_decontaminate(corpus, bench, n=3).collect()}
    assert got == {"c1": 2, "c2": 1, "c4": 1}


def test_pii_stats_counts_and_redaction(spark):
    from customer_er_spark.operators.pretrain import pii_stats

    data = spark.createDataFrame(
        [
            ("d1", "mail a@b.io or c.d+x@e-f.org, ip 10.0.0.1, tel +1-555-0199"),
            ("d2", "no pii here, just 1.2 numbers and @mentions"),
            ("d3", "two ips 192.168.0.1 8.8.8.8"),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in pii_stats(data).collect()}
    assert (got["d1"]["n_emails"], got["d1"]["n_ipv4"], got["d1"]["n_phones"]) == (2, 1, 1)
    assert got["d1"]["text_redacted"] == "mail <EMAIL> or <EMAIL>, ip <IP>, tel <PHONE>"
    assert (got["d2"]["n_emails"], got["d2"]["n_ipv4"], got["d2"]["n_phones"]) == (0, 0, 0)
    assert got["d2"]["text_redacted"] == "no pii here, just 1.2 numbers and @mentions"
    assert got["d3"]["n_ipv4"] == 2
    assert got["d3"]["text_redacted"] == "two ips <IP> <IP>"


def test_stopgram_df_doc_frequency(spark):
    from customer_er_spark.operators.pretrain import stopgram_df

    data = spark.createDataFrame(
        [
            ("d1", "click here now"),       # "click here" x1 doc
            ("d2", "click here click here"),  # distinct-per-doc: counts once
            ("d3", "click here too"),
            ("d4", "something else entirely"),
        ],
        "doc_id string, text string",
    )
    got = {r["gram"]: r["df"] for r in stopgram_df(data, n=2, min_df=3).collect()}
    assert got == {"click here": 3}


def test_stratified_sample_deterministic_and_stratified(spark):
    import hashlib

    from customer_er_spark.operators.pretrain import (
        hash_rate_threshold,
        stratified_sample,
    )

    data = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "xx") for i in range(400)],
        "doc_id long, lang string",
    )
    kept = stratified_sample(data, rates={"en": 0.5}, default_rate=0.0)
    rows = sorted((r["doc_id"], r["lang"]) for r in kept.collect())
    # deterministic: a second run returns the identical set
    rows2 = sorted(
        (r["doc_id"], r["lang"])
        for r in stratified_sample(data, rates={"en": 0.5}, default_rate=0.0).collect()
    )
    assert rows == rows2
    assert all(lang == "en" for _, lang in rows)  # default_rate=0 drops xx
    # membership matches the documented md5-prefix rule exactly
    thr = hash_rate_threshold(0.5)
    expect = sorted(
        (i, "en")
        for i in range(0, 400, 2)
        if hashlib.md5(str(i).encode()).hexdigest()[:8] < thr
    )
    assert rows == expect
    assert 60 <= len(rows) <= 140  # ~half of the 200 en docs


def test_pack_sequences_hand_computed_straddle(spark):
    from customer_er_spark.operators.pretrain import pack_sequences

    # one shard (n_shards=1): docs of 5, 5, 6 tokens, seq_len=8:
    #   doc 0 [0,5)  -> chunk 0: 5
    #   doc 1 [5,10) -> chunk 0: 3, chunk 1: 2   (straddles the cut)
    #   doc 2 [10,16)-> chunk 1: 6
    data = spark.createDataFrame(
        [(0, "a b c d e"), (1, "f g h i j"), (2, "k l m n o p")],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["chunk_id"], r["tok_in_chunk"], r["start_off"])
        for r in pack_sequences(data, seq_len=8, n_shards=1).collect()
    )
    assert got == [(0, 0, 5, 0), (1, 0, 3, 5), (1, 1, 2, 5), (2, 1, 6, 10)]


def test_pack_sequences_chunk_fill_invariant(spark, docs):
    from customer_er_spark.operators.pretrain import pack_sequences

    packed = pack_sequences(docs, seq_len=64, n_shards=4)
    fills = (
        packed.groupBy("shard", "chunk_id")
        .agg(F.sum("tok_in_chunk").alias("fill"), F.max("chunk_id").alias("c"))
    )
    last = packed.groupBy("shard").agg(F.max("chunk_id").alias("last_c"))
    bad = (
        fills.join(last, "shard")
        .where((F.col("chunk_id") != F.col("last_c")) & (F.col("fill") != 64))
        .count()
    )
    assert bad == 0  # every non-final chunk in every shard is exactly full
    # and every doc's tokens are fully accounted for
    total_packed = packed.agg(F.sum("tok_in_chunk")).collect()[0][0]
    total_tokens = docs.select(
        F.sum(
            F.when(F.length(F.trim("text")) == 0, F.lit(0)).otherwise(
                F.size(F.split(F.trim("text"), r"\s+"))
            )
        )
    ).collect()[0][0]
    assert total_packed == total_tokens


# ---------------------------------------------------------------------------
# duplicate_spans / dedup_substrings (corpus-level exact substring dedup, r7)
# ---------------------------------------------------------------------------


def _naive_dup_spans(texts: dict[int, str], L: int) -> dict[int, list[tuple[int, int]]]:
    """Reference: mark every L-gram start whose gram occurs >= 2 times in
    the whole corpus, merge overlapping/adjacent [p, p+L) intervals."""
    from collections import Counter

    counts: Counter[str] = Counter()
    for t in texts.values():
        for p in range(len(t) - L + 1):
            counts[t[p : p + L]] += 1
    spans: dict[int, list[tuple[int, int]]] = {}
    for d, t in texts.items():
        cur: list[tuple[int, int]] = []
        for p in range(len(t) - L + 1):
            if counts[t[p : p + L]] >= 2:
                s, e = p + 1, p + 1 + L  # 1-based start, exclusive end
                if cur and s <= cur[-1][1]:
                    cur[-1] = (cur[-1][0], max(cur[-1][1], e))
                else:
                    cur.append((s, e))
        if cur:
            spans[d] = cur
    return spans


def test_duplicate_spans_vs_naive(spark):
    from customer_er_spark.operators.textops import duplicate_spans

    boiler = "COPYRIGHT NOTICE: all rights reserved by the publisher."
    texts = {
        1: "alpha " + boiler + " unique tail one xxxxxxx",
        2: "beta document " + boiler + " second unique ending yyy",
        3: "entirely unique document with no repeated passages at all",
        4: "short",  # < L: no grams
        5: "zz " + boiler + " and " + boiler + " twice in one doc",
    }
    L = 20
    data = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got: dict[int, list[tuple[int, int]]] = {}
    for r in duplicate_spans(data, min_len=L).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
        assert r["span_len"] == r["span_end"] - r["span_start"]
    got = {d: sorted(v) for d, v in got.items()}
    assert got == _naive_dup_spans(texts, L)
    assert 3 not in got and 4 not in got
    assert len(got[5]) >= 1  # within-doc repetition counts too


def test_dedup_substrings_matches_span_removal(spark):
    from customer_er_spark.operators.textops import dedup_substrings

    boiler = "SHARED BOILERPLATE SEGMENT REPEATED EVERYWHERE"
    texts = {
        1: boiler + " then something original here",
        2: "prefix one " + boiler + " suffix one",
        3: boiler,  # fully duplicated -> empty clean text
        4: "wholly original short document",
        5: "tiny",
    }
    L = 20
    data = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    spans = _naive_dup_spans(texts, L)
    expected = {}
    for d, t in texts.items():
        keep, pos = [], 0
        for s, e in spans.get(d, []):
            keep.append(t[pos : s - 1])
            pos = e - 1
        keep.append(t[pos:])
        expected[d] = "".join(keep)
    got = {r["doc_id"]: r["clean_text"] for r in dedup_substrings(data, min_len=L).collect()}
    assert got == expected
    assert got[3] == ""  # fully-duplicated doc survives as one empty row
    assert got[4] == texts[4] and got[5] == texts[5]


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_duplicate_spans_randomized_vs_naive(spark, seed):
    """Adversarial regime: tiny alphabet -> dense cross-doc gram collisions,
    abutting and overlapping spans, within-doc repeats."""
    import random

    from customer_er_spark.operators.textops import dedup_substrings, duplicate_spans

    rng = random.Random(seed)
    L = 8
    texts = {
        d: "".join(rng.choice("ab ") for _ in range(rng.randint(0, 60)))
        for d in range(40)
    }
    data = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    want = _naive_dup_spans(texts, L)
    got: dict[int, list[tuple[int, int]]] = {}
    for r in duplicate_spans(data, min_len=L).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    assert {d: sorted(v) for d, v in got.items()} == want

    expected_clean = {}
    for d, t in texts.items():
        keep, pos = [], 0
        for s, e in want.get(d, []):
            keep.append(t[pos : s - 1])
            pos = e - 1
        keep.append(t[pos:])
        expected_clean[d] = "".join(keep)
    got_clean = {
        r["doc_id"]: r["clean_text"]
        for r in dedup_substrings(data, min_len=L).collect()
    }
    assert got_clean == expected_clean


def test_semantic_dedup_vs_numpy_union_find(spark):
    """Third verification path for the SemDeDup query (besides the DuckDB
    oracle and the CC operator's own tests): numpy cosine graph + union-find
    with the same string-min survivor rule."""
    import numpy as np

    from __spark_entry__ import q_semantic_dedup

    rows = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    v = np.array([r["embedding"] for r in rows], dtype=np.float64)
    nrm = np.sqrt((v * v).sum(axis=1))
    cos = (v @ v.T) / np.outer(nrm, nrm)
    parent = {int(i): int(i) for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    iu, ju = np.triu_indices(len(ids), k=1)
    for a, b in zip(iu[cos[iu, ju] >= 0.4], ju[cos[iu, ju] >= 0.4]):
        ra, rb = find(int(ids[a])), find(int(ids[b]))
        if ra != rb:
            parent[ra] = rb
    comps: dict[int, list[int]] = {}
    for i in ids:
        comps.setdefault(find(int(i)), []).append(int(i))
    expected = {}
    for members in comps.values():
        rep = int(min((str(m) for m in members)))  # components.py min-string rule
        for m in members:
            expected[m] = rep
    got = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in q_semantic_dedup(spark, SF).collect()
    }
    assert len(got) == len(ids)
    for m, rep in expected.items():
        assert got[m] == (rep, m == rep)
    assert sum(1 for _, (c, k) in got.items() if k) == len(comps)


def test_duplicate_spans_unicode_and_null(spark):
    """Positions are CHARACTER-based (multibyte-safe: Spark substring,
    DuckDB substr and Python slicing all agree) and a NULL text survives
    dedup_substrings as one empty-string row."""
    from customer_er_spark.operators.textops import dedup_substrings, duplicate_spans

    rep = "café müller "  # 12 chars, multibyte
    data = spark.createDataFrame(
        [(1, None), (2, rep * 4), (3, "日本語の字" * 5), (4, "plain short")],
        "doc_id long, text string",
    )
    spans = {r["doc_id"]: (r["span_start"], r["span_end"])
             for r in duplicate_spans(data, min_len=10).collect()}
    assert spans[2] == (1, len(rep * 4) + 1)  # fully covered, char-counted
    assert spans[3] == (1, len("日本語の字" * 5) + 1)
    assert 1 not in spans and 4 not in spans
    clean = {r["doc_id"]: r["clean_text"]
             for r in dedup_substrings(data, min_len=10).collect()}
    assert clean == {1: "", 2: "", 3: "", 4: "plain short"}


def test_duplicate_spans_across_chunk_boundaries(spark):
    """Docs longer than the position-explode chunk (4096) must produce the
    same spans as the naive reference — grams straddling chunk seams
    included (the chunking only batches START positions; each gram still
    reads L chars past its own chunk)."""
    import random

    from customer_er_spark.operators.textops import _POS_CHUNK, duplicate_spans

    rng = random.Random(5)
    L = 12
    dup = "SHARED-SEGMENT-AROUND-THE-SEAM"
    filler = lambda n: "".join(rng.choice("xyzw") for _ in range(n))
    # place one duplicated segment exactly straddling the 4096 boundary
    # and another well inside the second chunk
    t1 = filler(_POS_CHUNK - 10) + dup + filler(500) + dup + filler(100)
    t2 = filler(300) + dup + filler(50)
    texts = {1: t1, 2: t2}
    data = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got: dict[int, list[tuple[int, int]]] = {}
    for r in duplicate_spans(data, min_len=L).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    assert {d: sorted(v) for d, v in got.items()} == _naive_dup_spans(texts, L)
