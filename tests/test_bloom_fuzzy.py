"""Bloom-filter membership dedup + fuzzy (Jaccard) decontamination."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F


def _docs(spark, texts, id_offset=0):
    return spark.createDataFrame(
        [(i + id_offset, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )


def _md5_positions_py(text, m, k, seed):
    """Pure-Python twin of ``bloom_positions`` (same md5('seed:i:text')
    first-15-hex-chars scheme) — the reference the Catalyst positions are
    pinned against by test_bloom_python_position_twin_matches_catalyst.
    Null text hashes as 'seed:i' — concat_ws skips SQL NULLs, so the twin
    must too."""
    return [
        int(
            hashlib.md5(
                (
                    f"{seed}:{i}:{text}" if text is not None else f"{seed}:{i}"
                ).encode("utf-8")
            ).hexdigest()[:15],
            16,
        )
        % m
        for i in range(k)
    ]


# -- fuzzy contamination -----------------------------------------------------


def test_fuzzy_contamination_hand_derived_jaccard(spark):
    """bench 'a b c d e f' has 2 distinct 5-gram windows; corpus doc 10 adds
    one token → 3 windows sharing 2 → J = 2/(2+3-2) = 2/3."""
    from daft_minhash_dedupe_spark.extras.decontaminate import (
        fuzzy_contamination_pairs,
    )

    bench = _docs(spark, ["a b c d e f"])
    corpus = _docs(spark, ["a b c d e f g", "totally unrelated words here now"], 10)
    pairs = {
        (r["doc_id"], r["bench_id"], r["jaccard"])
        for r in fuzzy_contamination_pairs(corpus, bench, ngram=5, threshold=0.5).collect()
    }
    assert pairs == {(10, 0, 0.666667)}


def test_fuzzy_contamination_identical_doc_is_jaccard_one(spark):
    from daft_minhash_dedupe_spark.extras.decontaminate import (
        fuzzy_contamination_pairs,
    )

    bench = _docs(spark, ["the quick brown fox jumps over the lazy dog"])
    corpus = _docs(spark, ["the quick brown fox jumps over the lazy dog"], 10)
    [(doc, b, j)] = [
        (r["doc_id"], r["bench_id"], r["jaccard"])
        for r in fuzzy_contamination_pairs(corpus, bench).collect()
    ]
    assert (doc, b, j) == (10, 0, 1.0)


def test_fuzzy_contamination_threshold_excludes_light_overlap(spark):
    """One shared window out of many stays below a 0.5 bar (the case the
    verbatim 13-gram rule would flag but the overlap-ratio rule keeps)."""
    from daft_minhash_dedupe_spark.extras.decontaminate import (
        contamination_pairs,
        fuzzy_contamination_pairs,
    )

    bench = _docs(spark, ["one two three four five"])
    corpus = _docs(
        spark, ["w1 w2 w3 w4 w5 w6 w7 w8 one two three four five w9 w10 w11"], 10
    )
    verbatim = contamination_pairs(corpus, bench, ngram=5).count()
    fuzzy = fuzzy_contamination_pairs(corpus, bench, ngram=5, threshold=0.5).count()
    assert verbatim == 1 and fuzzy == 0


def test_fuzzy_decontaminate_removes_near_dup_docs(spark):
    from daft_minhash_dedupe_spark.extras.decontaminate import fuzzy_decontaminate

    bench = _docs(spark, ["alpha beta gamma delta epsilon zeta eta theta"])
    corpus = _docs(
        spark,
        [
            "alpha beta gamma delta epsilon zeta eta theta iota",  # near-dup
            "completely different text with other words in it",
        ],
        10,
    )
    kept = {r["doc_id"] for r in fuzzy_decontaminate(corpus, bench).collect()}
    assert kept == {11}


# -- bloom dedup ---------------------------------------------------------


def test_bloom_no_false_negatives_any_sizing(spark):
    """Every verbatim re-occurrence flags true — the Bloom guarantee —
    even at a pathologically small (saturated) filter."""
    from daft_minhash_dedupe_spark.extras.bloom_dedupe import flag_bloom_duplicates

    texts = [f"document number {i} with some body text" for i in range(50)]
    seen = _docs(spark, texts)
    batch = _docs(spark, texts, 1000)  # all verbatim recrawls
    for m in (64, 1 << 20):
        flags = flag_bloom_duplicates(seen, batch, m=m, k=3).collect()
        assert all(r["bloom_hit"] for r in flags) and len(flags) == 50


def test_bloom_unseen_docs_pass_at_adequate_m(spark):
    from daft_minhash_dedupe_spark.extras.bloom_dedupe import (
        bloom_dedupe,
        expected_fpr,
        flag_bloom_duplicates,
    )

    seen = _docs(spark, [f"seen doc {i} text body" for i in range(100)])
    batch = _docs(
        spark,
        [f"fresh doc {i} other words" for i in range(100)]
        + ["seen doc 7 text body"],  # one recrawl
        1000,
    )
    m, k = 1 << 20, 4
    assert expected_fpr(100, m, k) < 1e-10
    flags = {r["doc_id"]: r["bloom_hit"] for r in
             flag_bloom_duplicates(seen, batch, m=m, k=k).collect()}
    assert flags[1100] is True
    assert sum(flags.values()) == 1  # no false positives at this sizing
    kept = {r["doc_id"] for r in bloom_dedupe(seen, batch, m=m, k=k).collect()}
    assert kept == set(range(1000, 1100))


def test_bloom_false_positives_exist_when_saturated_and_are_deterministic(spark):
    """At m=64 with 150 inserted texts the filter saturates: unseen docs DO
    flag true (the documented trade), and the flag set is identical across
    runs (pure hash arithmetic, no RNG)."""
    from daft_minhash_dedupe_spark.extras.bloom_dedupe import flag_bloom_duplicates

    seen = _docs(spark, [f"filler item {i} padding words" for i in range(150)])
    batch = _docs(spark, [f"novel text {i} never inserted" for i in range(20)], 1000)
    run1 = sorted(
        (r["doc_id"], r["bloom_hit"])
        for r in flag_bloom_duplicates(seen, batch, m=64, k=3).collect()
    )
    run2 = sorted(
        (r["doc_id"], r["bloom_hit"])
        for r in flag_bloom_duplicates(seen, batch, m=64, k=3).collect()
    )
    assert run1 == run2
    assert any(hit for _, hit in run1)  # saturated filter → false positives


def test_bloom_filter_is_incrementally_unionable(spark):
    """bits(seen_a ∪ seen_b) == bits(seen_a) ∪ bits(seen_b): the filter
    updates by appending a new batch's bits, never rebuilding."""
    from daft_minhash_dedupe_spark.extras.bloom_dedupe import bloom_build

    a = _docs(spark, [f"first wave {i}" for i in range(30)])
    b = _docs(spark, [f"second wave {i}" for i in range(30)], 100)
    both = a.unionByName(b)
    union_of_parts = {
        r["bit"]
        for r in bloom_build(a, m=4096, k=3)
        .unionByName(bloom_build(b, m=4096, k=3))
        .distinct()
        .collect()
    }
    direct = {r["bit"] for r in bloom_build(both, m=4096, k=3).collect()}
    assert union_of_parts == direct


def test_bloom_paths_agree_on_duplicate_doc_ids(spark):
    """Batch rows sharing a doc_id but carrying DIFFERENT texts must each
    get their own text's flag (the probe groups by (id, text-digest), not
    id alone — an id-only group would let an unseen text's unset bits veto
    a seen sibling row)."""
    from daft_minhash_dedupe_spark.extras.bloom_dedupe import flag_bloom_duplicates

    seen = _docs(spark, ["the seen text body"])
    batch = spark.createDataFrame(
        [(7, "the seen text body"), (7, "a never inserted text"), (8, "also new")],
        "doc_id long, text string",
    )
    m, k = 1 << 16, 3
    rel = sorted(
        (r["doc_id"], r["text"], r["bloom_hit"])
        for r in flag_bloom_duplicates(seen, batch, m=m, k=k).collect()
    )
    assert rel == [
        (7, "a never inserted text", False),
        (7, "the seen text body", True),
        (8, "also new", False),
    ]


def test_bloom_python_position_twin_matches_catalyst(spark):
    """_md5_positions_py is the documented pure-Python reference for the
    Catalyst position scheme — pin them equal, including the NULL-text
    concat_ws edge."""
    from daft_minhash_dedupe_spark.extras.bloom_dedupe import bloom_positions

    df = spark.createDataFrame(
        [("hello world",), ("",), (None,), ("päge ünïcode",)], "text string"
    )
    m, k, seed = 1 << 20, 4, 3
    got = [
        list(r["p"])
        for r in df.select(bloom_positions(F.col("text"), m, k, seed).alias("p")).collect()
    ]
    want = [
        _md5_positions_py(t, m, k, seed)
        for t in ["hello world", "", None, "päge ünïcode"]
    ]
    assert got == want


def test_bloom_null_text_matches_python_twin(spark):
    """concat_ws skips NULLs on the Catalyst side, so a null text hashes
    the 'seed:i' key; the flags must equal the Python twin's derivation,
    which hashes a null text the same way."""
    from daft_minhash_dedupe_spark.extras.bloom_dedupe import flag_bloom_duplicates

    seen_texts = [None, "real text"]
    batch_texts = {10: None, 11: "real text", 12: "unseen"}
    seen = spark.createDataFrame(
        list(enumerate(seen_texts)), "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        list(batch_texts.items()), "doc_id long, text string"
    )
    m, k, seed = 1 << 16, 3, 0
    bits = {p for t in seen_texts for p in _md5_positions_py(t, m, k, seed)}
    want = {
        i: all(p in bits for p in _md5_positions_py(t, m, k, seed))
        for i, t in batch_texts.items()
    }
    rel = {
        r["doc_id"]: r["bloom_hit"]
        for r in flag_bloom_duplicates(seen, batch, m=m, k=k, seed=seed).collect()
    }
    assert rel == want
    assert rel[10] is True and rel[11] is True


def test_bloom_rejects_internal_column_collisions(spark):
    """The probe adds the temp column _th; a batch already carrying it must
    fail loudly instead of having user data silently clobbered."""
    import pytest

    from daft_minhash_dedupe_spark.extras.bloom_dedupe import flag_bloom_duplicates

    seen = _docs(spark, ["x"])
    with pytest.raises(ValueError, match="_th"):
        flag_bloom_duplicates(
            seen, _docs(spark, ["y"]).withColumn("_th", F.lit(1)), m=4096
        )


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_bloom_texts = st.lists(
    st.text(min_size=0, max_size=25), min_size=1, max_size=12, unique=True
)


@given(seen_texts=_bloom_texts, batch_texts=_bloom_texts)
@settings(max_examples=6, deadline=None)
def test_bloom_paths_match_python_oracle_on_random_texts(
    spark, seen_texts, batch_texts
):
    """Pin over arbitrary unicode: relational flags == a dependency-free
    pure-Python Bloom oracle, at a deliberately tiny m=256 where false
    positives are common (so the FP sets must agree too, not just the
    planted hits)."""
    from daft_minhash_dedupe_spark.extras.bloom_dedupe import flag_bloom_duplicates

    m, k, seed = 256, 3, 0
    seen = _docs(spark, seen_texts)
    batch = _docs(spark, batch_texts, 1000)
    bits = set()
    for t in seen_texts:
        bits.update(_md5_positions_py(t, m, k, seed))
    want = {
        1000 + i: all(p in bits for p in _md5_positions_py(t, m, k, seed))
        for i, t in enumerate(batch_texts)
    }
    rel = {
        r["doc_id"]: r["bloom_hit"]
        for r in flag_bloom_duplicates(seen, batch, m=m, k=k, seed=seed).collect()
    }
    assert rel == want


def test_bloom_positions_rejects_bad_sizing(spark):
    import pytest

    from daft_minhash_dedupe_spark.extras.bloom_dedupe import bloom_positions

    with pytest.raises(ValueError):
        bloom_positions(F.lit("x"), m=0, k=3)
    with pytest.raises(ValueError):
        bloom_positions(F.lit("x"), m=64, k=0)


def test_bloom_out_col_collision_rejected(spark):
    """ADVICE r5: a batch already carrying the out_col name must be rejected,
    not silently produce duplicate/ambiguous columns."""
    import pytest

    from daft_minhash_dedupe_spark.extras.bloom_dedupe import flag_bloom_duplicates

    seen = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(2, "b", True)], "doc_id long, text string, bloom_hit boolean"
    )
    with pytest.raises(ValueError, match="out_col"):
        flag_bloom_duplicates(seen, batch, m=64, k=2)
