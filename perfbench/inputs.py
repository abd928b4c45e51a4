"""Seeded benchmark inputs, written once per (workload, seed) and reused.

The image corpus comes from the engine's own generator
(`customer_er_spark.datagen.generate`), so planted duplicate groups are
known.  Truth is stored as `groups.parquet` (record id -> group id) rather
than as pairs: the output check counts cluster x group intersections and
never expands a large group into all of its pairs.

Layout of one input directory:

    images.parquet   initial_increment: the records the registry is built from
    batch.parquet    initial_increment: the micro-batch linked into it
    groups.parquet   initial_increment: (id, group_id) for every record
    docs.parquet, doc_groups.parquet, vectors.parquet, vec_groups.parquet
                     doc_queries only (the engine reads docs and vectors)
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of each workload.  A run must fit about a minute on a 4-core
# host, so the corpus is smaller than bench.py's 6k; both operations are
# bound by fixed costs (commits, job scheduling) at this size anyway.
# Halving the corpus from 2,000 images took 14 s off a run of 83 s.
REGISTRY_BASE = 1_000         # + 25 % planted duplicates = 1,250 images,
#                               of which the batch takes 250
BATCH_DUPS = 125              # batch: duplicates of registry records ...
BATCH_FRESH = 125             # ... plus records with no match in the registry

# doc_queries copies the shape of the sf0.1 `documents` and `embeddings`
# tables bench.py reads (README.md compares the two): 5,000 documents of
# 10-99 words drawn uniformly from the same 30-word vocabulary, 250 of
# them a copy of another document with " dup" appended, and 2,000
# unit-length vectors.  The small vocabulary is what makes the operators
# work: documents share most shingles and SimHash bits, so minhash bands
# and SimHash chunk keys collide often.
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
N_DOCS = 5_000
N_DOC_COPIES = 250
DOC_WORDS = (10, 100)         # words per original document: [low, high)
N_VECTORS = 2_000
N_VEC_COPIES = 200            # planted near-copies among the vectors
VEC_DIM = 64

_IMAGE_SCHEMA = pa.schema([
    ("image_id", pa.string()),
    ("bytes", pa.binary()),
    ("w", pa.int32()),
    ("h", pa.int32()),
    ("fmt", pa.string()),
    ("caption", pa.string()),
    ("phash", pa.int64()),
])


def _corpus(n_base: int, seed: int) -> tuple[list[dict], dict[str, int]]:
    """datagen rows (n_base records + 25 % planted duplicates) and the
    planted group of every record."""
    from customer_er_spark.datagen import generate

    rows, truth = generate(n_base=n_base, dup_fraction=0.25, seed=seed)
    group = {r["image_id"]: i for i, r in enumerate(rows[:n_base])}
    for t in truth:
        group[t["id_l"]] = group[t["id_r"]] = t["group_id"]
    return rows, group


def _write_images(path: str, rows: list[dict]) -> None:
    pq.write_table(pa.Table.from_pylist(rows, schema=_IMAGE_SCHEMA), path)


def _write_groups(path: str, group: dict) -> None:
    ids = list(group)
    pq.write_table(
        pa.table({"id": ids, "group_id": [int(group[i]) for i in ids]}), path
    )


def _initial_increment(out: str, seed: int) -> None:
    """Registry + a batch of duplicates of registry records and records
    whose group has no other member (fresh: nothing to link to)."""
    rows, group = _corpus(REGISTRY_BASE, seed)
    rng = np.random.default_rng(seed)
    sizes: dict[int, int] = {}
    for g in group.values():
        sizes[g] = sizes.get(g, 0) + 1
    dup_idx = rng.choice(np.arange(REGISTRY_BASE, len(rows)), BATCH_DUPS,
                         replace=False)
    singles = [i for i in range(REGISTRY_BASE)
               if sizes[group[rows[i]["image_id"]]] == 1]
    fresh_idx = rng.choice(singles, BATCH_FRESH, replace=False)
    in_batch = {int(i) for i in dup_idx} | {int(i) for i in fresh_idx}
    _write_images(os.path.join(out, "images.parquet"),
                  [r for i, r in enumerate(rows) if i not in in_batch])
    _write_images(os.path.join(out, "batch.parquet"),
                  [rows[i] for i in sorted(in_batch)])
    _write_groups(os.path.join(out, "groups.parquet"), group)


def _docs(out: str, seed: int) -> None:
    """Documents and vectors with planted groups.  A planted document copy
    is its source plus the word "dup"; its group is the source's id.
    Copies sit at random ids among the originals, as in sf0.1.  A planted
    vector is a base vector plus 1e-3 Gaussian noise, renormalized."""
    rng = np.random.default_rng(seed)
    n_orig = N_DOCS - N_DOC_COPIES
    texts = [" ".join(DOC_VOCAB[k] for k in
                      rng.integers(0, len(DOC_VOCAB), int(rng.integers(*DOC_WORDS))))
             for _ in range(n_orig)]
    src = rng.integers(0, n_orig, N_DOC_COPIES)
    texts += [texts[s] + " dup" for s in src]
    order = rng.permutation(N_DOCS)        # row k of `texts` gets id order[k]
    group = order[np.concatenate([np.arange(n_orig), src])]
    docs = sorted(zip(order.tolist(), texts))
    pq.write_table(
        pa.table({"doc_id": pa.array([i for i, _ in docs], pa.int64()),
                  "text": [t for _, t in docs]}),
        os.path.join(out, "docs.parquet"))
    pq.write_table(
        pa.table({"id": pa.array(order, pa.int64()),
                  "group_id": pa.array(group, pa.int64())}),
        os.path.join(out, "doc_groups.parquet"),
    )
    n_base = N_VECTORS - N_VEC_COPIES
    base = rng.normal(0, 1, (n_base, VEC_DIM))
    vsrc = rng.integers(0, n_base, N_VEC_COPIES)
    vecs = np.vstack([base, base[vsrc] + rng.normal(0, 1e-3, (N_VEC_COPIES, VEC_DIM))])
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ids = np.arange(N_VECTORS)
    pq.write_table(
        pa.table({"vec_id": pa.array(ids, pa.int64()),
                  "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}),
        os.path.join(out, "vectors.parquet"),
    )
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()),
                  "group_id": pa.array(np.concatenate([np.arange(n_base), vsrc]),
                                       pa.int64())}),
        os.path.join(out, "vec_groups.parquet"),
    )


WRITERS = {
    "initial_increment": _initial_increment,
    "doc_queries": _docs,
}


def generator_digest() -> str:
    """Digest of the code that defines the inputs (this file and the
    engine's datagen): a changed generator never reuses a cached input."""
    from customer_er_spark import datagen

    h = hashlib.sha256()
    for path in (__file__, datagen.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def ensure(workload: str, seed: int, cache_dir: str) -> str:
    """Directory holding the inputs of (workload, seed), generated on first
    use; a half-written directory is never reused."""
    out = os.path.join(cache_dir, f"{workload}-{seed}-{generator_digest()}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    WRITERS[workload](tmp, seed)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
