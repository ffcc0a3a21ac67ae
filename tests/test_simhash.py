"""Simhash identity feature: batch==single kernel parity, Spark UDF parity,
and the near-duplicate property over the seeded corpus pairs
(1-bit/many-bit perturbation style of reference tests/conftest.py:210-228)."""

import numpy as np
from pyspark.sql import functions as F

from iscc_search_spark import corpus as corpus_mod
from iscc_search_spark.functions.simhash import (
    hamming_expr,
    hamming_np,
    simhash_batch,
    simhash_from_tf,
    simhash_udf,
    term_hash128,
    trigram_hash128_py,
)


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


def test_batch_equals_single():
    rng = np.random.default_rng(3)
    docs = []
    for _ in range(30):
        k = int(rng.integers(1, 50))
        terms = [f"w{int(x)}" for x in rng.integers(0, 200, size=k)]
        docs.append((terms, rng.integers(1, 6, size=k)))
    single = [simhash_from_tf(t, tf) for t, tf in docs]
    batch = simhash_batch(
        [np.array(t, dtype=object) for t, _ in docs], [tf for _, tf in docs]
    )
    assert list(batch) == single


def test_empty_doc_is_zero():
    assert simhash_from_tf([], np.array([], dtype=np.int64)) == 0


def test_spark_udf_matches_kernel(spark):
    data = [(1, ["alpha", "beta", "beta"], [1, 2, 2]), (2, [], [])]
    df = spark.createDataFrame(
        data, "doc_id long, terms array<string>, tfs array<long>"
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", simhash_udf("terms", "tfs").alias("sh")).collect()}
    assert rows[1] == simhash_from_tf(["alpha", "beta", "beta"], np.array([1, 2, 2]))
    assert rows[2] == 0


def test_near_dup_pairs_are_close_random_pairs_are_not():
    n = 200
    table = corpus_mod.generate_pages(n)
    pairs = corpus_mod.near_dup_pairs(n)
    assert pairs, "corpus must contain seeded near-duplicates"
    texts = table.column("text").to_pylist()

    from collections import Counter

    from iscc_search_spark.functions.textnorm import tokenize_py

    def sh(text):
        c = Counter(tokenize_py(text))
        return simhash_from_tf(list(c.keys()), np.array(list(c.values())))

    hashes = [sh(t) for t in texts]
    for src, dup in pairs:
        assert _ham(hashes[src], hashes[dup]) <= 8, (src, dup)
    # random non-dup pairs sit mostly beyond the dup band (tf-weighted
    # simhash compresses distances on a Zipf-head-heavy corpus: measured
    # dup max = 6, random median = 8)
    dup_set = {frozenset(p) for p in pairs}
    rng = np.random.default_rng(0)
    far = total = 0
    for _ in range(200):
        i, j = rng.integers(0, n, size=2)
        if i == j or frozenset((int(i), int(j))) in dup_set:
            continue
        total += 1
        far += _ham(hashes[int(i)], hashes[int(j)]) > 6
    assert far / total >= 0.6


def test_hamming_expr(spark):
    df = spark.createDataFrame([(5, 3)], "a long, b long")
    assert df.select(hamming_expr("a", "b").alias("h")).collect()[0]["h"] == 2
    df2 = spark.createDataFrame([(-1, 0)], "a long, b long")
    assert df2.select(hamming_expr("a", "b").alias("h")).collect()[0]["h"] == 64


def test_hamming_np_matches_hamming_expr(spark):
    rng = np.random.default_rng(11)
    a = rng.integers(-(2**63), 2**63 - 1, size=200, dtype=np.int64)
    b = rng.integers(-(2**63), 2**63 - 1, size=200, dtype=np.int64)
    a[:3], b[:3] = [-1, 0, 2**63 - 1], [0, 0, -(2**63)]
    df = spark.createDataFrame(
        [(i, int(x), int(y)) for i, (x, y) in enumerate(zip(a, b))],
        "i long, a long, b long",
    )
    jvm = [r["h"] for r in df.select("i", hamming_expr("a", "b").alias("h")).orderBy("i").collect()]
    assert hamming_np(a, b).tolist() == jvm
    assert hamming_np(a, int(b[5])).tolist() == [_ham(int(x), int(b[5])) for x in a]


def _data_sh_py(text: str) -> int:
    """Scalar DATA_V0 reference: 64-bit simhash (the high limb of the
    128-bit fold) over the text's word-trigram occurrences, each hashed by
    trigram_hash128_py from the tokens' md5 limbs; < 3 tokens hash to 0."""
    from iscc_search_spark.functions.textnorm import tokenize_py

    toks = tokenize_py(text)
    feats = [
        trigram_hash128_py(*(term_hash128(t) for t in toks[i : i + 3]))
        for i in range(len(toks) - 2)
    ]
    out = 0
    for bit in range(64):
        s = sum((f_hi >> (63 - bit)) & 1 for f_hi, _ in feats)
        if 2 * s > len(feats):
            out |= 1 << (63 - bit)
    return out - (1 << 64) if out >= 1 << 63 else out


def test_trigram_scalar_mirror_matches_arrow_data_unit(spark):
    """trigram_hash128_py (the scalar mirror of the format-4 DATA unit)
    against the vectorized Arrow path, doc by doc, including the < 3-token
    and repeated-trigram edge cases and non-ASCII text."""
    from iscc_search_spark.functions.textnorm import data_simhash_udf

    texts = corpus_mod.generate_pages(40, seed=5).column("text").to_pylist()
    texts += [
        "", "one", "one two", "one two three", "a b c a b c a b c a b c",
        "Straße ÜBER Ærø déjà-vu 123 x9", "x " * 300,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    got = {
        r["i"]: r["d"]
        for r in df.select("i", data_simhash_udf("text").alias("d")).collect()
    }
    assert [got[i] for i in range(len(texts))] == [_data_sh_py(t) for t in texts]
    assert len({got[i] for i in range(40)}) > 30  # a real hash, not a constant
