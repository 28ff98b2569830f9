"""Substring-match tests: kernel vs brute force, Spark operator vs
all-pairs oracle on planted shared runs."""

import string

import numpy as np
import pytest

from datasketches_rust_spark.functions.substring import (
    document_fingerprints,
    kgram_hashes,
    longest_common_substring_len,
    suffix_array,
    winnow,
)


def _brute_lcs(a: str, b: str) -> int:
    best = 0
    for i in range(len(a)):
        for j in range(len(b)):
            k = 0
            while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                k += 1
            best = max(best, k)
    return best


def test_lcs_matches_bruteforce():
    rng = np.random.default_rng(11)
    alphabet = list("abcd ")
    for _ in range(30):
        a = "".join(rng.choice(alphabet, int(rng.integers(0, 60))))
        b = "".join(rng.choice(alphabet, int(rng.integers(0, 60))))
        assert longest_common_substring_len(a, b) == _brute_lcs(a, b), (a, b)


def test_suffix_array_correct():
    rng = np.random.default_rng(3)
    for _ in range(10):
        data = rng.integers(0, 5, size=int(rng.integers(1, 200))).astype(np.int64)
        sa = suffix_array(data)
        suffixes = sorted(range(len(data)), key=lambda i: data[i:].tobytes())
        assert sa.tolist() == suffixes


def test_winnowing_guarantee():
    # any shared run of length >= k + w - 1 must share a fingerprint
    rng = np.random.default_rng(7)
    alphabet = list(string.ascii_lowercase + " ")
    k, w = 16, 8
    for trial in range(10):
        shared = "".join(rng.choice(alphabet, k + w - 1))
        a = "".join(rng.choice(alphabet, 120)) + shared + "".join(rng.choice(alphabet, 60))
        b = "".join(rng.choice(alphabet, 80)) + shared + "".join(rng.choice(alphabet, 90))
        fa = set(document_fingerprints(a, k, w))
        fb = set(document_fingerprints(b, k, w))
        assert fa & fb, f"trial {trial}: winnowing guarantee violated"


def test_kgram_edges():
    assert len(kgram_hashes(b"short", 16)) == 0
    assert len(document_fingerprints("", 16, 8)) == 0
    assert len(document_fingerprints(None, 16, 8)) == 0
    h = kgram_hashes(b"x" * 16, 16)
    assert len(h) == 1
    assert (winnow(h, 8) == h).all()


@pytest.fixture(scope="module")
def planted(spark):
    rng = np.random.default_rng(99)
    alphabet = list(string.ascii_lowercase + " ")

    def rand_s(n):
        return "".join(rng.choice(alphabet, n))

    shared1 = rand_s(40)
    shared2 = rand_s(25)
    docs = [
        (0, rand_s(150) + shared1 + rand_s(100)),
        (1, rand_s(120) + shared1 + rand_s(90)),
        (2, rand_s(200)),
        (3, rand_s(80) + shared2 + rand_s(110)),
        (4, rand_s(95) + shared2 + rand_s(60)),
        (5, rand_s(300)),
        (6, ""),
    ]
    return docs, spark.createDataFrame(docs, "doc_id long, text string")


def test_spark_substring_pairs_vs_oracle(planted):
    from datasketches_rust_spark.operators.substring_match import substring_match_pairs

    docs, df = planted
    got = {
        (r.a, r.b): r.common_len
        for r in substring_match_pairs(df, "doc_id", "text", min_len=23).collect()
    }
    # oracle: brute-force all pairs
    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            l = longest_common_substring_len(docs[i][1], docs[j][1])
            if l >= 23:
                want[(docs[i][0], docs[j][0])] = l
    assert got == want
    assert (0, 1) in got and got[(0, 1)] >= 40
    assert (3, 4) in got and got[(3, 4)] >= 25


def test_fast_lcs_matches_suffix_array_oracle():
    """The rolling-hash binary-search verifier is exact: cross-checked
    against the suffix-array + Kasai oracle on random, planted-run,
    unicode, identical, and empty cases."""
    import random
    import string

    from datasketches_rust_spark.functions.substring import (
        _lcs_suffix_array,
        longest_common_substring_len,
    )

    rng = random.Random(1234)
    for trial in range(40):
        n1, n2 = rng.randint(0, 300), rng.randint(0, 300)
        a = "".join(rng.choices(string.ascii_lowercase + " ", k=n1))
        b = "".join(rng.choices(string.ascii_lowercase + " ", k=n2))
        if trial % 3 == 0 and n1 > 60 and n2 > 60:
            run_len = rng.randint(10, 50)
            run = "".join(rng.choices(string.ascii_lowercase, k=run_len))
            i, j = rng.randint(0, n1 - run_len), rng.randint(0, n2 - run_len)
            a = a[:i] + run + a[i + run_len :]
            b = b[:j] + run + b[j + run_len :]
        assert longest_common_substring_len(a, b) == _lcs_suffix_array(a, b)
    assert longest_common_substring_len("", "abc") == 0
    assert longest_common_substring_len("abc", "") == 0
    assert longest_common_substring_len("samesame", "samesame") == 8
    u = ("héllo wörld", "wörld héllo")
    assert longest_common_substring_len(*u) == _lcs_suffix_array(*u)


def test_lcs_batch_matches_per_pair_and_oracle():
    """The batched thresholded verifier must equal the per-pair path
    (and the suffix-array oracle) for every pair at/above threshold,
    and return 0 below it."""
    import numpy as np

    from datasketches_rust_spark.functions.substring import (
        _lcs_suffix_array,
        lcs_at_least_batch,
        longest_common_substring_len,
    )

    rng = np.random.default_rng(3)
    alphabet = "abcdef "
    docs = []
    for _ in range(12):
        docs.append("".join(rng.choice(list(alphabet), size=rng.integers(30, 200))))
    # plant shared runs of assorted lengths (some straddling threshold)
    shared = "".join(rng.choice(list(alphabet), size=60))
    docs[0] += shared
    docs[1] = shared[:35] + docs[1]
    docs[2] = docs[2][:10] + shared[:24] + docs[2][10:]
    docs[3] += shared[:15]  # below threshold 23
    pairs = [(i, j) for i in range(len(docs)) for j in range(i + 1, len(docs))]
    ta = [docs[i] for i, _ in pairs]
    tb = [docs[j] for _, j in pairs]
    min_len = 23
    got = lcs_at_least_batch(ta, tb, min_len)
    for n, (a, b) in enumerate(zip(ta, tb)):
        exact = _lcs_suffix_array(a, b)
        per_pair = longest_common_substring_len(a, b)
        assert per_pair == exact
        if exact >= min_len:
            assert got[n] == exact, (n, got[n], exact)
        else:
            assert got[n] == 0, (n, got[n], exact)
    # empty / degenerate inputs
    assert list(lcs_at_least_batch(["", "abc", None], ["x", "", "abc"], 2)) == [0, 0, 0]
    assert list(lcs_at_least_batch(["abcde"], ["xxabcdexx"], 5)) == [5]


def test_planted_substring_generator(spark):
    """The planted-substring corpus: doc ids 0..n-1, one contiguous slice
    of pairs per partition, and every pair ``j`` sharing a substring of
    at least ``planted_len_for_pair(j)`` characters."""
    from datasketches_rust_spark.sources.textgen import (
        generate_planted_substring_df,
        planted_len_for_pair,
    )

    df = generate_planted_substring_df(spark, 14, seed=3, partitions=3)
    slices = df.rdd.glom().map(lambda rows: [r.doc_id for r in rows]).collect()
    assert slices == [list(range(0, 6)), list(range(6, 10)), list(range(10, 14))]
    docs = dict(map(tuple, df.collect()))
    for j in range(7):
        assert longest_common_substring_len(docs[2 * j], docs[2 * j + 1]) >= planted_len_for_pair(j)
