"""SimHash (64-bit) — two batch kernels.

Near-duplicate texts land within a small Hamming distance.
`simhash64`/`simhash_udf` hash caption tokens with the engine's own token
hash (an auxiliary band source for captions, operators/signatures.py);
`md5_simhash_batch` is the md5 SimHash of the documents table
(operators/dedup.simhash_signatures / simhash_pairs), whose bits DuckDB
replays in SQL (dedup.simhash_oracle_sql).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F
from pyspark.sql import types as T

from customer_er_spark.functions.hashing import token_hashes

_BITS = np.arange(64, dtype=np.uint64)


def simhash64(text: str | None) -> int:
    h = token_hashes(text or "")
    if len(h) == 0:
        return 0
    # uint64 view for the (fast) shifts, int64 view for the (fast) mask —
    # uint64 binary ufuncs hit a slow path on this numpy build
    shifted = (h.view(np.uint64)[:, None] >> _BITS[None, :]).view(np.int64)
    bits = shifted & np.int64(1)  # (T, 64)
    votes = bits * 2 - 1
    acc = votes.sum(axis=0)
    val = 0
    for i in range(64):
        if acc[i] > 0:
            val |= 1 << i
    return val - (1 << 64) if val >= (1 << 63) else val


def simhash_batch(texts) -> np.ndarray:
    out = np.empty(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        out[i] = simhash64(t)
    return out


@F.pandas_udf(T.LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return pd.Series(simhash_batch(texts))


# tokens gathered per reduction step: bounds the (tokens, 64) vote block at
# 4 MB however long one document is
_TOKEN_CHUNK = 1 << 16


def md5_simhash_batch(texts) -> tuple[np.ndarray, np.ndarray]:
    """(sim_hi, sim_lo): the md5 SimHash of each non-null text, as two
    non-negative int64 halves (sim_lo = bits 0..31, sim_hi = bits 32..63).

    Tokens are the text split on " " alone (Spark's split(t, ' ') on a
    normalized text; str.split() would also cut at NBSP, U+3000 and
    \\x1c-\\x1f).  Bit i = 4(p-1) + b takes bit b of hex digit p of the
    token's md5 hexdigest; digit p is the high nibble of digest byte
    (p-1)//2 when p is odd and its low nibble when p is even.  Every token
    votes +1/-1 on each bit; a bit is set when its vote sum is positive.
    One md5 per distinct token of the batch."""
    arr = texts if isinstance(texts, pa.Array) else pa.array(texts, pa.string())
    if arr.null_count:
        raise ValueError("md5_simhash_batch: null text (filter nulls first)")
    lists = pc.split_pattern(arr, " ")
    offsets = lists.offsets.to_numpy().astype(np.int64)
    offsets -= offsets[0]
    enc = pc.dictionary_encode(lists.flatten())
    idx = enc.indices.to_numpy()
    digests = b"".join(
        hashlib.md5(tok).digest()[:8]
        for tok in enc.dictionary.cast(pa.binary()).to_pylist()
    )
    d = np.frombuffer(digests, np.uint8).reshape(-1, 8)
    # swapping each byte's nibbles puts digit p's bit b at bit 4(p-1)+b of
    # the little-endian bit order
    bits = np.unpackbits((d << 4) | (d >> 4), axis=1, bitorder="little")
    votes = bits.astype(np.int8) * 2 - 1

    n, total = len(offsets) - 1, int(offsets[-1])
    sums = np.zeros((n, 64), np.int32)
    for s in range(0, total, _TOKEN_CHUNK):
        e = min(s + _TOKEN_CHUNK, total)
        # documents with a token in [s, e); their starts, clipped to s
        d0 = int(np.searchsorted(offsets, s, "right")) - 1
        d1 = int(np.searchsorted(offsets, e, "left"))
        starts = np.maximum(offsets[d0:d1], s) - s
        sums[d0:d1] += np.add.reduceat(
            votes[idx[s:e]], starts, axis=0, dtype=np.int32
        )
    packed = np.packbits(sums > 0, axis=1, bitorder="little")
    halves = np.ascontiguousarray(packed).view("<u4").astype(np.int64)
    return halves[:, 1].copy(), halves[:, 0].copy()
