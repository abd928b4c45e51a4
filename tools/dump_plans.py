"""Dump physical plans of the hot paths to PLANS.md (explain-only, nothing
executes).  Reviewed for: parquet PushedFilters / narrow ReadSchema,
Exchange hashpartitioning on intended keys, broadcast of small sides,
WholeStageCodegen spans."""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import sys
import tempfile

# the checkout this script lives in, wherever it is
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from customer_er_spark.config import ERConfig
from customer_er_spark.operators.candidates import candidate_pairs
from customer_er_spark.operators.signatures import compute_signatures
from customer_er_spark.session import get_spark

import __spark_entry__ as em


def main() -> None:
    spark = get_spark("plans", master="local[2]", shuffle_partitions=8)
    cfg = ERConfig(shuffle_partitions=8)
    out = []
    out.append("# PLANS — physical plans of the hot paths (explain-only dump)\n")
    out.append(
        "Generated by `python tools/dump_plans.py`; shows pushdown, broadcast\n"
        "selection, AQE, and where the engine placed shuffles.\n"
    )

    def dump(title, df, limit=4000):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        s = buf.getvalue()
        if limit is not None and len(s) > limit:
            s = s[:limit] + "\n… (truncated)"
        out.append(f"## {title}\n\n```\n{s}\n```\n")

    # any corpus works — plans are explain-only (the link section
    # executes one small write from a .limit(2000) slice), so a small
    # generated corpus does
    from customer_er_spark.datagen import write_corpus

    work = tempfile.mkdtemp(prefix="plans_")
    write_corpus(f"{work}/corpus", n_base=1600, dup_fraction=0.25, seed=42)
    images = spark.read.parquet(f"{work}/corpus/images.parquet")
    sig = compute_signatures(images, cfg)
    dump("signatures stage (projection excludes bytes; explicit repartition; "
         "pandas UDFs)", sig)
    pairs, _ = candidate_pairs(sig, cfg)
    dump("candidate pairs (band explode -> ONE repartition(band_key) -> "
         "window bucket-size count -> sub-band salt -> co-partitioned "
         "shuffled-hash self-join on (band_key, salt) with inline Hamming "
         "gate in the join condition -> distinct; rep chain for hot bands.  "
         "Composed outside an owned() scope, so the salted rows' shared "
         "barrier is not taken and the full subtree shows; shown whole)",
         pairs, limit=None)
    # a small slice: the plan SHAPE is what we're dumping
    from customer_er_spark.operators.verify import verify_pairs

    small_sig = compute_signatures(images.limit(500), cfg)
    small_pairs, _ = candidate_pairs(small_sig, cfg)
    dump("verify cascade ((id_l, id_r) -> one signature attach per side "
         "-> Hamming filter from the attached hashes -> Jaccard zip_with "
         "JVM-side; no broadcast hint on LCS refinement — AQE decides)",
         verify_pairs(small_pairs, small_sig, cfg))
    sf = "/root/testdata/sf0.01"
    dump("pricing_summary (pushdown + partial aggregation)",
         em.q_pricing_summary(spark, sf))
    dump("revenue_per_nation (broadcast joins on dims)",
         em.q_revenue_per_nation(spark, sf))
    dump("exact_dedup (md5 groupBy, two-phase agg)", em.q_exact_dedup(spark, sf))

    # the document-dedup operators now route through the same salted kernel
    # (operators/banded.py) as the flagship: explode -> repartition(band_key)
    # -> window count (reuses exchange) -> co-partitioned shuffled-hash
    # self-join on (band_key, salt) satisfied by the same partitioning,
    # gate in the join condition (codegen) -> one distinct.  The static
    # plan prints the shared exchange once per branch; at runtime exchange
    # reuse dedups it.
    from customer_er_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    dump("simhash_pairs (md5 SimHash in one mapInArrow batch kernel -> "
         "multi-index pair-of-chunks bands (C(8,2)=28 16-bit keys) -> salted "
         "co-partitioned self-join with full-Hamming gate -> distinct)",
         simhash_pairs(docs, hamming_max=6))

    from customer_er_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf}/embeddings.parquet").limit(200)
    dump("lsh_topk (hyperplane buckets on IDs only -> salted pair kernel -> "
         "vectors join back onto the DISTINCT candidate set -> window top-k; "
         "wide arrays never ride the bucket shuffle)",
         lsh_topk(emb, k=5, dim=64))

    # incremental link over a COMMITTED priors_bands table (the one section
    # that executes a small write first: the plan must show the scan-join
    # shape, not an in-flight band explode)
    from customer_er_spark.catalog import SparkCatalog
    from customer_er_spark.operators.candidates import band_keys
    from customer_er_spark.plans.incremental import link_pairs

    cat = SparkCatalog(spark, f"{work}/catalog")
    psig = compute_signatures(images.limit(2000), cfg)
    cat.write_table(band_keys(psig, cfg), "priors_bands",
                    config_hash=cfg.config_hash())
    inc_sig = compute_signatures(images.limit(100), cfg)
    lp, _ = link_pairs(cat.read_table("priors_bands"), inc_sig, cfg)
    dump("incremental link_pairs (plain scan of the whole committed "
         "priors_bands table -> BroadcastHashJoin against the increment's "
         "distinct band keys -> side-tagged union with incoming bands -> "
         "ONE repartition(band_key) -> the blocking kernel's salted_bands "
         "(window bucket-size count, sub-band salt) -> co-partitioned "
         "shuffled-hash join of each (band_key, salt) sub-bucket's prior "
         "rows to its incoming rows with the Hamming gate in the join "
         "condition -> distinct.  The registry is never exploded, and only "
         "touched-band rows ride the exchange; shown whole)",
         lp, limit=None)

    # r7 corpus-assembly operators
    from customer_er_spark.operators.pretrain import pack_sequences
    from customer_er_spark.operators.textops import ngram_decontaminate

    dump("pack_sequences (token counts in the scan stage -> ONE exchange "
         "by id-modulo shard -> partition-local cumsum window -> chunk "
         "explode; no global sort ever exists)",
         pack_sequences(docs, seq_len=128, n_shards=8))
    dump("ngram_decontaminate (corpus grams stream through a hash agg; "
         "benchmark gram set distinct-deduped then joined — scales with "
         "the benchmark, not the corpus, so AQE broadcasts it)",
         ngram_decontaminate(docs.limit(400), docs.limit(40), n=8))

    from customer_er_spark.operators.textops import duplicate_spans

    dump("duplicate_spans (L-gram position explode -> window count keyed "
         "by the 32-char gram md5, ONE narrow exchange, no raw-text "
         "shuffle, hot grams O(count) -> filter c>=2 -> gaps-and-islands "
         "interval merge keyed by doc_id, second exchange -> final "
         "hash agg per island)",
         duplicate_spans(docs, min_len=30))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
