import hashlib
from collections import Counter

import numpy as np
import pytest

from customer_er_spark.functions.hashing import mix_keys, shingle_hashes, splitmix64
from customer_er_spark.functions.minhash import jaccard_estimate, minhash_batch
from customer_er_spark.functions import simhash
from customer_er_spark.functions.simhash import md5_simhash_batch, simhash64
from customer_er_spark.functions.text import lcs_ratio, longest_common_substring


def brute_lcs(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(i + best + 1, len(a) + 1):
            if a[i:j] in b:
                best = j - i
            else:
                break
    return best


def test_lcs_matches_bruteforce():
    rng = np.random.default_rng(3)
    alphabet = "abcdef "
    for _ in range(40):
        a = "".join(rng.choice(list(alphabet), size=rng.integers(0, 40)))
        b = "".join(rng.choice(list(alphabet), size=rng.integers(0, 40)))
        assert longest_common_substring(a, b) == brute_lcs(a, b), (a, b)


def test_lcs_known_cases():
    assert longest_common_substring("hello world", "yello word") == 8  # "ello wor"
    assert longest_common_substring("abc", "abc") == 3
    assert longest_common_substring("abc", "xyz") == 0
    assert longest_common_substring("", "abc") == 0
    assert lcs_ratio("same", "same") == 1.0
    assert lcs_ratio(None, None) == 1.0


def test_shingle_hash_deterministic():
    a = shingle_hashes("the quick brown fox", 5)
    b = shingle_hashes("the quick brown fox", 5)
    np.testing.assert_array_equal(a, b)
    assert len(shingle_hashes("ab", 5)) == 1  # short-string fallback
    assert not np.array_equal(a, shingle_hashes("the quick brown fix", 5))


def test_splitmix_avalanche():
    h = splitmix64(np.arange(1000, dtype=np.uint64))
    assert len(np.unique(h)) == 1000
    ones = sum(bin(int(x)).count("1") for x in h) / (1000 * 64)
    assert 0.45 < ones < 0.55


def test_minhash_jaccard_estimate():
    rng = np.random.default_rng(11)
    vocab = [f"word{i}" for i in range(200)]

    def cap(idx):
        return " ".join(vocab[i] for i in idx)

    base = list(rng.integers(0, 200, 30))
    # near-identical caption (1 word changed) vs unrelated caption
    near = base.copy()
    near[5] = int(rng.integers(0, 200))
    far = list(rng.integers(0, 200, 30))
    texts = [cap(base), cap(near), cap(far)]
    sig = minhash_batch(texts, k=5, num_hashes=256, seed=7)

    def true_jacc(x, y):
        sx, sy = set(shingle_hashes(x, 5)), set(shingle_hashes(y, 5))
        return len(sx & sy) / len(sx | sy)

    est_near = jaccard_estimate(sig[0], sig[1])
    est_far = jaccard_estimate(sig[0], sig[2])
    assert abs(est_near - true_jacc(texts[0], texts[1])) < 0.12
    assert abs(est_far - true_jacc(texts[0], texts[2])) < 0.12
    assert est_near > est_far


def test_minhash_batch_handles_empty_and_none():
    sig = minhash_batch(["", None, "hello world"], k=5, num_hashes=16, seed=1)
    assert sig.shape == (3, 16)
    # empty and None map to the same (max-sentinel) signature
    np.testing.assert_array_equal(sig[0], sig[1])


def test_simhash_near_far():
    a = "the quick brown fox jumps over the lazy dog near the river bank"
    b = "the quick brown fox jumps over the lazy dog near the river edge"
    c = "completely different text about spark shuffle partitions and skew"
    ha, hb, hc = simhash64(a), simhash64(b), simhash64(c)
    ham = lambda x, y: bin((x ^ y) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(ha, hb) < ham(ha, hc)
    assert ham(ha, hb) <= 8
    assert simhash64("") == 0


def _md5_votes(text: str) -> list[int]:
    """Brute-force md5 SimHash votes: hex digit i//4 of each token's md5,
    bit i % 4, votes +1/-1 on bit i."""
    votes = [0] * 64
    for tok, n in Counter(text.split(" ")).items():
        h = hashlib.md5(tok.encode()).hexdigest()
        for i in range(64):
            votes[i] += n if (int(h[i // 4], 16) >> (i % 4)) & 1 else -n
    return votes


def _md5_simhash_ref(text: str) -> tuple[int, int]:
    v = sum(1 << i for i, c in enumerate(_md5_votes(text)) if c > 0)
    return v >> 32, v & 0xFFFFFFFF


# tokens Java's \s leaves whole and str.split() would cut: NBSP, U+3000,
# the \x1c-\x1f separators; plus multi-byte UTF-8 and case variants
_ADVERSARIAL = [
    "alpha", "b\u00e9ta", "\u65e5\u672c\u8a9e", "x\u00a0y", "x\u3000y",
    "\x1f", "q\x1cr", "s\x1dt\x1e", "TOK", "tok", "\u2603", "z",
]


def _check_kernel(texts):
    hi, lo = md5_simhash_batch(texts)
    assert hi.dtype == lo.dtype == np.int64
    assert list(zip(hi.tolist(), lo.tolist())) == [
        _md5_simhash_ref(t) for t in texts]


def test_md5_simhash_batch_matches_bruteforce(monkeypatch):
    rng = np.random.default_rng(11)
    texts = [
        " ".join(rng.choice(_ADVERSARIAL, size=rng.integers(1, 12)))
        for _ in range(300)
    ]
    texts += ["solo", "\u00a0", "dup dup dup", "b\u00e9ta"]
    _check_kernel(texts)
    monkeypatch.setattr(simhash, "_TOKEN_CHUNK", 5)
    _check_kernel(texts)  # documents straddle every chunk edge


def test_md5_simhash_batch_vote_ties_unset():
    # two tokens: every bit where their md5s differ ties at 0 -> unset
    texts = ["a b", "b a", "a b a b", "one two three four"]
    assert any(c == 0 for c in _md5_votes("a b"))
    _check_kernel(texts)
    hi, lo = md5_simhash_batch(texts)
    assert hi[0] == hi[1] == hi[2] and lo[0] == lo[1] == lo[2]


def test_md5_simhash_batch_empty_and_long():
    hi, lo = md5_simhash_batch([])
    assert hi.shape == lo.shape == (0,)
    rng = np.random.default_rng(12)
    vocab = [f"w{i}" for i in range(50)]
    long_doc = " ".join(rng.choice(vocab, size=simhash._TOKEN_CHUNK + 1234))
    _check_kernel(["first doc", long_doc, "last doc"])
    with pytest.raises(ValueError):
        md5_simhash_batch(["ok", None])


def test_mix_keys_unique():
    k = mix_keys(128, 0x5EED)
    assert len(np.unique(k)) == 128
