"""MinHash kernel: shape contract (reference tests:219-228), oracle parity
(bit-exact vs an independent pure-Python XXH64 + numpy reimplementation),
and Jaccard-estimation sanity."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark import oracle
from daft_minhash_dedupe_spark.config import MAX_HASH_32
from daft_minhash_dedupe_spark.functions.minhash import (
    minhash_signature,
    shingle_hashes,
)


def _sig_df(spark, texts, num_perm=64, ngram=5, seed=42):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    return df.select(
        "id",
        shingle_hashes(F.col("t"), ngram).alias("sh"),
        minhash_signature(shingle_hashes(F.col("t"), ngram), num_perm, seed).alias("sig"),
    )


def test_spark_xxhash64_matches_pure_python_oracle(spark):
    """F.xxhash64(string) must equal the public XXH64(utf8, seed=42) —
    this is what makes the full-stack oracle independent of the JVM."""
    samples = ["", "a", "abcd", "hello world", "tok0001 tok0002 tok0003", "x" * 100, "cafés 中文"]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = [r["h"] for r in df.select(F.xxhash64("s").alias("h")).collect()]
    want = [oracle.xxh64_signed(s.encode("utf-8")) for s in samples]
    assert got == want


def test_shingle_hashes_match_oracle(spark):
    texts = [
        "a b c d e f g h",          # 4 shingles of 5
        "a b c",                    # short doc → 1 shingle of all tokens
        "",                         # empty → no shingles
        "x x x x x x",              # repeated → dedup to 1 distinct shingle
    ]
    rows = _sig_df(spark, texts).orderBy("id").collect()
    for i, t in enumerate(texts):
        assert sorted(rows[i]["sh"]) == sorted(oracle.shingle_set(t, 5)), t


def test_signature_matches_oracle_bit_exact(spark):
    texts = [
        " ".join(f"tok{i:03d}" for i in range(50)),
        "a b c d e",
        "short one",
        "",
    ]
    rows = _sig_df(spark, texts).orderBy("id").collect()
    for i, t in enumerate(texts):
        want = oracle.signature(oracle.shingle_set(t, 5), 64, 42)
        assert rows[i]["sig"] == want.tolist(), f"row {i}"


def test_signature_shape_contract(spark):
    # reference pin: len == num_perm, all ints (tests:219-228)
    for num_perm in (16, 64):
        rows = _sig_df(spark, ["hello world foo bar baz qux"], num_perm=num_perm).collect()
        sig = rows[0]["sig"]
        assert len(sig) == num_perm
        assert all(isinstance(v, int) and 0 <= v <= MAX_HASH_32 for v in sig)


def test_empty_doc_gets_max_hash_signature(spark):
    rows = _sig_df(spark, ["", "   "]).collect()
    for r in rows:
        assert r["sig"] == [MAX_HASH_32] * 64


def test_identical_texts_identical_signatures(spark):
    t = " ".join(f"w{i}" for i in range(100))
    rows = _sig_df(spark, [t, t]).collect()
    assert rows[0]["sig"] == rows[1]["sig"]


def test_signature_jaccard_estimate_tracks_true_jaccard(spark):
    """Near-dup pair: signature agreement ≈ true shingle Jaccard."""
    base = [f"tok{i:04d}" for i in range(200)]
    edited = list(base)
    edited[50] = "zzz"
    t1, t2 = " ".join(base), " ".join(edited)
    rows = _sig_df(spark, [t1, t2], num_perm=256).orderBy("id").collect()
    s1, s2 = np.array(rows[0]["sig"]), np.array(rows[1]["sig"])
    est = float((s1 == s2).mean())
    sh1, sh2 = set(oracle.shingle_set(t1, 5)), set(oracle.shingle_set(t2, 5))
    true_j = len(sh1 & sh2) / len(sh1 | sh2)
    assert abs(est - true_j) < 0.12
    assert true_j > 0.9


@given(st.text(min_size=10), st.sampled_from([16, 32, 64]), st.integers(3, 7))
@settings(max_examples=10, deadline=None)
def test_minhash_properties_hypothesis(spark, text, num_perm, ngram):
    df = spark.createDataFrame([(text,)], "t string")
    sig = df.select(
        minhash_signature(shingle_hashes(F.col("t"), ngram), num_perm, 42).alias("sig")
    ).first()["sig"]
    assert len(sig) == num_perm
    assert all(isinstance(v, int) for v in sig)


@given(
    st.lists(
        st.text(alphabet="abcdefg hij", min_size=0, max_size=60),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=8, deadline=None)
def test_shingles_and_signatures_match_oracle_hypothesis(spark, texts):
    """Random whitespace-y texts: Spark shingle hashes AND signatures must be
    bit-exact vs the pure-Python oracle (full-stack independence)."""
    rows = _sig_df(spark, texts).orderBy("id").collect()
    for i, t in enumerate(texts):
        want_sh = sorted(oracle.shingle_set(t, 5))
        assert sorted(rows[i]["sh"]) == want_sh, t
        want_sig = oracle.signature(oracle.shingle_set(t, 5), 64, 42)
        assert rows[i]["sig"] == want_sig.tolist(), t
