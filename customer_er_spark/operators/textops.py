"""Text-analysis operators for a training-data pipeline: token counting,
quality scoring, language-ID, document fingerprinting.

Counting/ratio operators are pure Catalyst expressions (integer outputs, so
the DuckDB oracle matches bit-for-bit); language-ID and fingerprints use the
deterministic hash kernels via pandas UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customer_er_spark.functions.hashing import shingle_hashes
from customer_er_spark.operators.materialize import materialize, owned, shared

# duplicate_spans position-explode chunk: bounds the sequence() array any
# single document can materialize in one Generate row (4096 ints ~ 32 KB)
# while keeping the outer chunk-index array small even for ~100 MB docs.
_POS_CHUNK = 4096


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy (runs of word chars / digits /
    punctuation each count as one token) — integer outputs only."""
    t = F.trim(F.col(text_col))
    ws = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    bpe = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.regexp_replace(t, r"([a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s])", "$1 ")), r"\s+"))
    )
    return docs.select(
        F.col(id_col),
        ws.alias("n_tokens_ws").cast("int").alias("n_tokens_ws"),
        bpe.cast("int").alias("n_tokens_bpe"),
    )


def quality_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Integer quality signals: chars, alpha chars, digits, punctuation,
    stopword hits.  Ratios are left to the consumer so every column hashes
    identically in the oracle."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_alpha = n_chars - F.length(F.regexp_replace(t, r"[a-zA-Z]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    n_space = n_chars - F.length(F.regexp_replace(t, r"\s", ""))
    n_punct = n_chars - n_alpha - n_digit - n_space
    stop = r"(?i)\b(the|a|an|and|or|of|to|in|is|it)\b"
    n_stop = F.size(F.split(t, stop)) - 1
    return docs.select(
        F.col(id_col),
        n_chars.cast("int").alias("n_chars_q"),
        n_alpha.cast("int").alias("n_alpha"),
        n_digit.cast("int").alias("n_digit"),
        n_punct.cast("int").alias("n_punct"),
        n_stop.cast("int").alias("n_stop"),
    )


# character-frequency profiles per language (tiny n-gram heuristic; the
# container has no langid lib — deterministic and test-stable)
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": (" the ", " and ", " of ", " is ", "ing "),
    "es": (" el ", " la ", " de ", " que ", "ción"),
    "fr": (" le ", " la ", " de ", " est ", " les "),
    "de": (" der ", " die ", " und ", " ist ", "sch"),
}


@F.pandas_udf(T.StringType())
def lang_id_udf(texts: pd.Series) -> pd.Series:
    """Reference implementation of the marker heuristic (kept as the test
    twin of the Catalyst expression in language_id)."""
    out = []
    for t in texts:
        t = f" {(t or '').lower()} "
        scores = {
            lang: sum(t.count(m) for m in marks)
            for lang, marks in _LANG_MARKERS.items()
        }
        best = max(sorted(scores), key=lambda k: scores[k])
        out.append(best if scores[best] > 0 else "unknown")
    return pd.Series(out)


def _marker_score(t, markers: tuple[str, ...]):
    """Non-overlapping occurrence count of each marker, summed — expressed
    as (length(t) - length(replace(t, m))) / len(m), the same greedy
    left-to-right count Python's str.count produces.  Pure Catalyst, and
    replayable verbatim in any SQL engine."""
    score = F.lit(0.0)
    for m in markers:
        score = score + (F.length(t) - F.length(F.replace(t, F.lit(m)))) / F.lit(
            float(len(m))
        )
    return score


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, lang_pred) — marker-count argmax, ties broken by
    lexicographically smallest language, 'unknown' when no marker hits.
    Pure Catalyst expressions (no UDF), matching lang_id_udf exactly."""
    t = F.concat(F.lit(" "), F.lower(F.coalesce(F.col(text_col), F.lit(""))), F.lit(" "))
    scores = {
        lang: _marker_score(t, marks) for lang, marks in _LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("unknown"))
    for lang in sorted(scores):  # first max in sorted order wins ties
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return docs.select(F.col(id_col), pred.alias("lang_pred"))


@F.pandas_udf(T.LongType())
def fingerprint_udf(texts: pd.Series) -> pd.Series:
    """GLOBAL-min shingle hash (rolling polynomial, k=8).  NOT winnowing —
    a single edit anywhere can flip it; kept as the cheap whole-document
    `min_shingle_hash` summary.  Robust per-window fingerprints are
    winnow_fingerprints below."""
    out = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        hs = shingle_hashes((t or "").lower(), 8)
        out[i] = np.int64(hs.min().astype(np.int64)) if len(hs) else 0
    return pd.Series(out)


def min_shingle_hash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    return docs.select(F.col(id_col), fingerprint_udf(F.col(text_col)).alias("min_shingle_hash"))


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """True winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    hash every k-gram of the normalized text (md5 — deterministic and
    SQL-replayable), slide a w-gram window over the hash sequence, keep
    each window's minimum; the doc's fingerprint set is the distinct
    window minima.  Guarantee: any shared substring of length >= k + w - 1
    yields a shared fingerprint, and a single edit perturbs at most the
    k + w - 1 windows that overlap it.

    Output (doc_id, fp) — one row per distinct fingerprint.  Docs shorter
    than k + w - 1 chars (no complete window) produce no rows.  Pure
    Catalyst: positions explode -> substring -> md5 -> min over a
    ROWS-based window frame; the DuckDB oracle replays it verbatim.
    """
    from customer_er_spark.functions.text import normalize_caption
    from pyspark.sql import Window

    n_grams = F.length("t") - (k - 1)
    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            normalize_caption(F.col(text_col)).alias("t"),
        )
        .where(F.length("t") >= k + w - 1)
        .select(
            "doc_id",
            n_grams.alias("n_grams"),
            F.explode(F.sequence(F.lit(1), n_grams)).alias("p"),
            "t",
        )
        .select(
            "doc_id",
            "n_grams",
            "p",
            F.md5(F.substring(F.col("t"), F.col("p"), k)).alias("gh"),
        )
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        grams.withColumn("fp", F.min("gh").over(win))
        .where(F.col("p") <= F.col("n_grams") - (w - 1))  # complete windows only
        .select("doc_id", "fp")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Repetition stats (Gopher-style) + benchmark decontamination (r7)
# ---------------------------------------------------------------------------
#
# Two standard training-data filters the corpus-quality literature uses
# (Rae et al., "Scaling Language Models: ... Gopher", 2021, §A1.1; Brown
# et al., GPT-3 appendix C decontamination).  Both are pure Catalyst with
# integer outputs, so the DuckDB oracles match bit-for-bit.


def word_grams(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, gram): every word-n-gram instance (NOT distinct) of the
    whitespace tokenization of trim(text).  Docs with < n tokens vanish."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("t"),
    ).where(F.size("t") >= n)
    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice("t", i, n)),
            )
        ).alias("gram"),
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_tokens, top2_cnt, dup3_cnt) — token-level repetition
    signals for quality filtering:

      n_tokens  whitespace token count (0 for empty text)
      top2_cnt  occurrence count of the document's most frequent word
                bigram (0 if fewer than 2 tokens)
      dup3_cnt  number of word-trigram INSTANCES whose trigram occurs
                at least twice in the document (0 if none / < 3 tokens)

    Integer counts, not ratios — downstream thresholds divide by n_tokens
    (Gopher's "fraction of tokens in repeated n-grams" family) and the
    oracle hashes exactly.  Every input doc yields exactly one row.

    Scale shape: two hash aggregates keyed by (doc_id, gram) then doc_id —
    map-side partial aggregation absorbs the explosion; no windows, no
    skew beyond document length (a single pathological doc is one key).
    """
    t = F.trim(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.when(F.length(t) == 0, F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("int")
        .alias("n_tokens"),
    )
    top2 = (
        word_grams(docs, 2, id_col, text_col)
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("int").alias("top2_cnt"))
    )
    dup3 = (
        word_grams(docs, 3, id_col, text_col)
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .groupBy("doc_id")
        .agg(F.sum("c").cast("int").alias("dup3_cnt"))
    )
    return (
        base.join(top2, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("top2_cnt", F.lit(0)).alias("top2_cnt"),
            F.coalesce("dup3_cnt", F.lit(0)).alias("dup3_cnt"),
        )
    )


def ngram_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits): training docs that share at least one word-n-gram
    with ANY benchmark document, with the count of DISTINCT contaminated
    grams per doc.  The GPT-3-style decontamination primitive: the caller
    anti-joins its corpus against this to drop (or audit) eval leakage.

    Scale shape: the benchmark gram set is distinct-deduped and is
    typically tiny next to the corpus — Spark broadcasts it under AQE (and
    a 13-gram set for a few hundred eval sets stays well under the
    broadcast threshold even at 100 TB corpus scale, because it scales
    with the BENCHMARK, not the corpus).  The corpus side streams through
    one hash semi-aggregation; no shuffle of raw text.
    """
    corpus_grams = word_grams(docs, n, id_col, text_col).distinct()
    bench_grams = (
        word_grams(benchmark, n, id_col, text_col)
        .select("gram")
        .distinct()
    )
    return (
        corpus_grams.join(bench_grams, "gram")
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Corpus-level exact duplicate-substring detection (r7)
# ---------------------------------------------------------------------------
#
# The substring-granular half of training-data dedup (Lee et al.,
# "Deduplicating Training Data Makes Language Models Better", ACL 2022):
# document-level MinHash/SimHash misses long passages duplicated INSIDE
# otherwise-distinct documents (boilerplate, licenses, quoted articles).
# Lee et al. build a corpus suffix array; the Spark-native equivalent
# below reaches the same exact answer for a fixed minimum length L with
# two hash shuffles and no suffix array: every duplicated substring of
# length >= L is a union of duplicated L-grams, so marking duplicated
# L-gram start positions and merging overlapping [p, p+L) intervals
# yields exactly the maximal duplicated spans at L-gram resolution.


def duplicate_spans(
    docs: DataFrame,
    min_len: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, span_start, span_end, span_len): maximal character spans
    whose every length-`min_len` substring occurs at least twice in the
    corpus (within- or cross-document).  `span_start` is 1-based,
    `span_end` exclusive; adjacent/overlapping gram intervals merge.
    Docs shorter than `min_len` produce no rows.

    Pure Catalyst, bit-replayable in SQL: explode L-gram start positions
    (sequence + substring + md5), count occurrences per gram hash with a
    partial-aggregating groupBy (map-side combine absorbs hot grams — no
    raw text shuffles, no pair expansion: a gram duplicated a million
    times contributes one partial count per task, never a single-task
    window partition and never a million^2 join), join the duplicated
    hashes back onto the positions (broadcast when small, AQE-skew-
    splittable otherwise), then gaps-and-islands over (doc_id, p) to
    merge intervals (one exchange keyed by doc).

    Scale shape: the exploded gram relation is ~|text| rows of
    (doc_id, int, 32-char hash); for 100 TB corpora the same plan holds —
    both exchanges are narrow fixed-width rows, hot grams cost O(count)
    not O(count^2), and AQE handles residual skew.  Position generation is
    CHUNKED (two nested explodes of <= _POS_CHUNK elements) so a single
    pathological document never materializes an O(|doc|) sequence array
    in one Generate row — a 100 MB doc costs a ~25k-element outer array,
    not an 800 MB one.  md5 collisions (~2^-128 per pair) are the
    standard fingerprinting trade the oracle replays verbatim.

    Ends in an output cut (operators/materialize): the returned DataFrame
    is persisted and belongs to the caller, who frees it with unpersist().
    """
    with owned():
        return materialize(_duplicate_spans(docs, min_len, id_col, text_col))


def _duplicate_spans(
    docs: DataFrame, min_len: int, id_col: str, text_col: str
) -> DataFrame:
    from pyspark.sql import Window

    L = int(min_len)
    C = _POS_CHUNK
    n_grams = F.length("t") - F.lit(L - 1)
    grams = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))
        .where(F.length("t") >= L)
        .select(
            "doc_id",
            "t",
            n_grams.alias("n_grams"),
            F.explode(
                F.sequence(
                    F.lit(0), F.floor((n_grams - F.lit(1)) / F.lit(C)).cast("int")
                )
            ).alias("ci"),
        )
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(
                    F.col("ci") * C + 1,
                    F.least(F.col("n_grams"), (F.col("ci") + 1) * C),
                )
            ).alias("p"),
        )
        .select(
            "doc_id", "p", F.md5(F.substring(F.col("t"), F.col("p"), L)).alias("gh")
        )
    )
    # duplicated-gram detection as partial-agg + join-back, NOT a window
    # over the gram hash: a window partition cannot be split, so one
    # boilerplate gram duplicated millions of times — the operator's
    # expected hot input — would land on ONE task.  groupBy lets map-side
    # partial aggregation absorb the hot key (each task contributes one
    # (gh, partial_count) row), the ≥2 filter shrinks the right side to
    # the duplicated grams only (AQE broadcasts it when small), and a
    # residual skewed join is AQE-splittable, which a window never is.
    # Same rows out: a position survives iff its gram hash occurs ≥ 2
    # times, exactly the predicate the window computed.
    grams = shared(grams)  # two consumers, one compute
    dup_gh = (
        grams.groupBy("gh")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= 2)
        .select("gh")
    )
    hits = grams.join(dup_gh, "gh").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    prev_end = F.max(F.col("p") + L).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.withColumn(
        "new_island",
        F.when(prev_end.isNull() | (F.col("p") > prev_end), 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("p").alias("s"),
            F.max(F.col("p") + L).alias("e"),
        )
        .select(
            "doc_id",
            F.col("s").cast("int").alias("span_start"),
            F.col("e").cast("int").alias("span_end"),
            (F.col("e") - F.col("s")).cast("int").alias("span_len"),
        )
    )


def dedup_substrings(
    docs: DataFrame,
    min_len: int = 30,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, clean_text): every document with its duplicated spans
    (per `duplicate_spans`, ALL occurrences — Lee et al.'s ExactSubstr
    policy) cut out and the remaining segments concatenated in order.
    Every input doc yields exactly one row; a fully-duplicated doc yields
    an empty string.

    Segment extraction is one more window pass over the spans: append a
    per-doc sentinel span at (len+1, len+1), then each span's preceding
    gap is substring(t, lag(span_end, default 1), span_start - lag);
    ordered concatenation via array_sort(collect_list(struct)) keeps the
    whole thing deterministic and SQL-replayable (string_agg ... ORDER BY
    on the oracle side).  Ends in an output cut, like duplicate_spans.
    """
    with owned():
        return materialize(_dedup_substrings(docs, min_len, id_col, text_col))


def _dedup_substrings(
    docs: DataFrame, min_len: int, id_col: str, text_col: str
) -> DataFrame:
    from pyspark.sql import Window

    spans = _duplicate_spans(docs, min_len, id_col, text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")
    )
    sentinel = base.select(
        "doc_id",
        (F.length("t") + 1).cast("int").alias("span_start"),
        (F.length("t") + 1).cast("int").alias("span_end"),
    )
    allspans = spans.select("doc_id", "span_start", "span_end").unionByName(sentinel)
    w = Window.partitionBy("doc_id").orderBy("span_start")
    segs = (
        allspans.join(base, "doc_id")
        .withColumn("seg_start", F.coalesce(F.lag("span_end").over(w), F.lit(1)))
        .select(
            "doc_id",
            "seg_start",
            F.expr("substring(t, seg_start, span_start - seg_start)").alias("seg"),
        )
    )
    return segs.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_start", "seg"))),
                lambda x: x["seg"],
            ),
            "",
        ).alias("clean_text")
    )
