"""Extras: exact dedup, text analysis, simhash, ngram-jaccard, embedding ANN,
streaming dedup."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.extras.embedding_ann import (
    brute_force_topk,
    cosine_similarity,
    embedding_near_dup_pairs,
    knn_join_brute,
)
from daft_minhash_dedupe_spark.extras.exact_dedupe import (
    exact_dedupe,
    exact_dup_assignments,
    exact_dup_groups,
)
from daft_minhash_dedupe_spark.extras.ngram_jaccard import ngram_jaccard_pairs
from daft_minhash_dedupe_spark.extras.simhash import (
    hamming_distance,
    simhash64,
    simhash_candidates,
)
from daft_minhash_dedupe_spark.extras.text_analysis import text_profile
from daft_minhash_dedupe_spark.functions.minhash import shingle_hashes


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


# -- exact dedupe ------------------------------------------------------------


def test_exact_dedupe(spark):
    df = _docs(spark, ["aaa", "bbb", "aaa", "aaa", "ccc"])
    kept = exact_dedupe(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 4]
    groups = {r["keep_id"]: r["n_docs"] for r in exact_dup_groups(df).collect()}
    assert groups == {0: 3, 1: 1, 4: 1}
    assigns = {r["doc_id"]: r["component"] for r in exact_dup_assignments(df).collect()}
    assert assigns == {0: 0, 1: 1, 2: 0, 3: 0, 4: 4}


# -- text analysis -----------------------------------------------------------


def test_text_profile_columns_and_values(spark):
    df = _docs(spark, ["the quick brown fox jumps over the lazy dog", "", "¡Hola!"])
    prof = {r["doc_id"]: r for r in text_profile(df).collect()}
    assert prof[0]["n_tokens"] == 9
    assert prof[0]["stopword_ratio"] > 0  # 'the' twice
    assert prof[1]["n_tokens"] == 0 and prof[1]["quality"] == 0.0
    assert prof[0]["lang_pred"] == "en"
    assert prof[0]["fingerprint"] is not None
    assert prof[1]["fingerprint"] is None


def test_language_id_heuristic(spark):
    df = _docs(
        spark,
        [
            "the cat is on the mat and it is happy",
            "le chat est sur la table et il est pour",
            "el gato es una cosa que por las noches",
            "der hund ist ein tier und das ist gut",
            "这是一个中文句子我们用它来测试",
        ],
    )
    got = [r["lang_pred"] for r in text_profile(df).orderBy("doc_id").collect()]
    assert got == ["en", "fr", "es", "de", "zh"]


# -- simhash -----------------------------------------------------------------


def test_simhash_near_dup_low_hamming(spark):
    base = " ".join(f"tok{i:03d}" for i in range(100))
    edited = base.replace("tok050", "zzz")
    other = " ".join(f"other{i}" for i in range(100))
    df = _docs(spark, [base, edited, other]).withColumn(
        "sh", shingle_hashes(F.col("text"), 5)
    ).withColumn("simhash", simhash64(F.col("sh")))
    rows = {r["doc_id"]: r["simhash"] for r in df.collect()}
    d01 = bin((rows[0] ^ rows[1]) & ((1 << 64) - 1)).count("1")
    d02 = bin((rows[0] ^ rows[2]) & ((1 << 64) - 1)).count("1")
    assert d01 < 10 < d02

    cands = {
        (r["u"], r["v"])
        for r in simhash_candidates(
            df.select(F.col("doc_id").alias("node_id"), "simhash"), max_hamming=10
        ).collect()
    }
    assert cands == {(0, 1)}


def _naive_simhash64(hs):
    """Independent per-bit majority-vote reference (two's-complement int64)."""
    if not hs:
        return 0
    fp = 0
    for j in range(64):
        c = sum(((h & 0xFFFFFFFFFFFFFFFF) >> j) & 1 for h in hs)
        if 2 * c - len(hs) > 0:
            fp |= 1 << j
    return fp - (1 << 64) if fp >= (1 << 63) else fp


def test_simhash64_bit_exact_vs_naive(spark):
    rng = np.random.RandomState(13)
    rows = [
        [],
        [int(x) for x in rng.randint(-(2**63), 2**63 - 1, size=7, dtype=np.int64)],
        [int(x) for x in rng.randint(-(2**63), 2**63 - 1, size=1, dtype=np.int64)],
        [int(x) for x in rng.randint(-(2**63), 2**63 - 1, size=200, dtype=np.int64)],
        [-1, -1, 5],
    ]
    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rows)], "doc_id long, hs array<bigint>"
    )
    got = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", simhash64(F.col("hs")).alias("fp")).collect()
    }
    for i, r in enumerate(rows):
        assert got[i] == _naive_simhash64(r), f"row {i}"


def test_hamming_distance_expr(spark):
    df = spark.createDataFrame([(0b1011, 0b0010)], "a long, b long")
    assert df.select(hamming_distance(F.col("a"), F.col("b")).alias("d")).first()["d"] == 2


# -- ngram jaccard -----------------------------------------------------------


def test_ngram_jaccard_pairs_exact_values(spark):
    t1 = "a b c d e f g h i j"   # 6 5-gram shingles
    t2 = "a b c d e f g h i j"   # identical → J=1
    t3 = "a b c d e f g h i zz"  # differs in last token → 5 common of 7
    df = _docs(spark, [t1, t2, t3])
    pairs = {
        (r["u"], r["v"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert abs(pairs[(0, 2)] - 5 / 7) < 1e-6
    assert (1, 2) in pairs


def test_ngram_jaccard_respects_threshold(spark):
    df = _docs(spark, ["a b c d e", "v w x y z"])
    assert ngram_jaccard_pairs(df, threshold=0.1).count() == 0


def test_ngram_jaccard_pruning_is_lower_bound(spark):
    # u and v share only the non-hot token "a"; their hot tokens differ.
    # True jaccard(u, v) = |{a}| / |{hot1, a, hot2}| = 1/3. Sizing AFTER the
    # prune would report 1/(1+1-1) = 1.0 — promoting the pair past any
    # threshold; sizing before (the documented contract) reports the true 1/3.
    texts = ["hot1 a", "hot2 a"] + ["hot1"] * 3 + ["hot2"] * 3
    df = _docs(spark, texts)
    got = {
        (r["u"], r["v"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, ngram_size=1, threshold=0.05, max_posting=2
        ).collect()
    }
    assert abs(got[(0, 1)] - 1 / 3) < 1e-6
    promoted = (
        ngram_jaccard_pairs(df, ngram_size=1, threshold=0.5, max_posting=2)
        .where((F.col("u") == 0) & (F.col("v") == 1))
        .count()
    )
    assert promoted == 0


# -- embedding ANN -----------------------------------------------------------


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )


def test_cosine_similarity_expr(spark):
    df = _emb_df(spark, [[1.0, 0.0], [0.0, 1.0], [2.0, 0.0]])
    a = df.where(F.col("vec_id") == 0).select(F.col("embedding").cast("array<double>").alias("e")).first()["e"]
    out = df.select(
        "vec_id",
        F.round(cosine_similarity(F.col("embedding").cast("array<double>"), F.array(*[F.lit(x) for x in a])), 6).alias("c"),
    ).collect()
    got = {r["vec_id"]: r["c"] for r in out}
    assert got[0] == 1.0 and got[1] == 0.0 and got[2] == 1.0


def test_brute_force_topk_ordering(spark):
    rng = np.random.RandomState(0)
    vecs = rng.randn(50, 8)
    df = _emb_df(spark, vecs)
    query = list(vecs[7])
    top = brute_force_topk(df, query, k=5).collect()
    assert top[0]["vec_id"] == 7 and top[0]["cosine"] == 1.0
    sims = [r["cosine"] for r in top]
    assert sims == sorted(sims, reverse=True)
    # numpy oracle agrees on the top-5 set
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    want = set(np.argsort(-(norm @ norm[7]))[:5].tolist())
    assert {r["vec_id"] for r in top} == want


def test_knn_join_brute(spark):
    rng = np.random.RandomState(1)
    vecs = rng.randn(30, 4)
    df = _emb_df(spark, vecs)
    queries = df.where(F.col("vec_id") < 3)
    out = knn_join_brute(queries, df, k=3).collect()
    assert len(out) == 9
    for r in out:
        assert r["q_id"] != r["vec_id"]


def test_embedding_near_dup_pairs(spark):
    base = np.random.RandomState(2).randn(16)
    near = base + 1e-3
    far = -base
    df = _emb_df(spark, [base, near, far])
    pairs = {(r["u"], r["v"]) for r in embedding_near_dup_pairs(df, min_cosine=0.99).collect()}
    assert pairs == {(0, 1)}


def test_embedding_near_dup_planted_recall(spark):
    """Multi-band LSH recall on planted near-dups (the single-16-plane design
    had ~8% pair recall at cosine 0.9 — VERDICT r1 scale flaw)."""
    rng = np.random.RandomState(7)
    n, dim = 120, 32
    base = rng.randn(n, dim)
    planted = []  # (u, v) with cosine ≥ ~0.95
    rows = [(i, base[i]) for i in range(n)]
    for i in range(40):
        noisy = base[i] + 0.22 * rng.randn(dim)  # cos ≈ 0.96-0.99
        cos = float(base[i] @ noisy / (np.linalg.norm(base[i]) * np.linalg.norm(noisy)))
        if cos >= 0.93:
            planted.append((i, n + i))
            rows.append((n + i, noisy))
    assert len(planted) >= 30
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["u"], r["v"])
        for r in embedding_near_dup_pairs(
            df, min_cosine=0.9, n_bands=8, rows_per_band=8
        ).collect()
    }
    found = sum(1 for p in planted if p in got)
    recall = found / len(planted)
    assert recall >= 0.95, f"planted-pair recall {recall}"
    # precision guard: every returned pair truly has cosine ≥ 0.9
    vecs = {i: v for i, v in rows}
    for u, v in got:
        c = float(
            np.dot(vecs[u], vecs[v])
            / (np.linalg.norm(vecs[u]) * np.linalg.norm(vecs[v]))
        )
        assert c >= 0.9 - 1e-9


def test_embedding_dedupe_clusters_and_survivors(spark):
    from daft_minhash_dedupe_spark.extras.embedding_ann import embedding_dedupe

    rng = np.random.RandomState(4)
    a, b = rng.randn(12), rng.randn(12)
    # {0,1,2} one near-dup cluster, {3,4} another, 5 unique
    vecs = [a, a + 1e-3, a * 2.0, b, b * 0.5, -a]
    out = {
        r["vec_id"]: (r["component"], r["is_survivor"])
        for r in embedding_dedupe(_emb_df(spark, vecs), min_cosine=0.99).collect()
    }
    assert out[0] == (0, True) and out[1] == (0, False) and out[2] == (0, False)
    assert out[3] == (3, True) and out[4] == (3, False)
    assert out[5] == (5, True)


def test_hyperplane_band_bits_expr_matmul_parity(spark):
    """The Catalyst expression path and the pandas-UDF matmul path must
    produce identical band bits (same buckets either way)."""
    from daft_minhash_dedupe_spark.extras import embedding_ann as ea

    rng = np.random.RandomState(3)
    vecs = rng.randn(50, 16)
    df = _emb_df(spark, vecs)
    planes = ea.random_hyperplanes(16, 16, seed=5)  # 4 bands × 4 bits
    expr = df.select(
        "vec_id", ea.hyperplane_band_bits(F.col("embedding"), planes, 4, 4).alias("bits")
    ).collect()
    old = ea._EXPR_PATH_MAX_CELLS
    ea._EXPR_PATH_MAX_CELLS = 0  # force the matmul path
    try:
        mm = df.select(
            "vec_id",
            ea.hyperplane_band_bits(F.col("embedding"), planes, 4, 4).alias("bits"),
        ).collect()
    finally:
        ea._EXPR_PATH_MAX_CELLS = old
    assert {r["vec_id"]: list(r["bits"]) for r in expr} == {
        r["vec_id"]: list(r["bits"]) for r in mm
    }


def test_decontaminate_custom_id_col(spark):
    from daft_minhash_dedupe_spark.extras.decontaminate import decontaminate

    bench = spark.createDataFrame([(0, "one two three four five")], "rid long, text string")
    corpus = spark.createDataFrame(
        [(10, "x one two three four five y"), (11, "unrelated words entirely here")],
        "rid long, text string",
    )
    kept = {r["rid"] for r in decontaminate(corpus, bench, ngram=5, id_col="rid").collect()}
    assert kept == {11}


def test_embedding_band_buckets_null_vectors_excluded(spark):
    """Expression path must bucket NULL vectors nowhere (parity with the
    pandas path) — not into an all-zero hot bucket."""
    from daft_minhash_dedupe_spark.extras.embedding_ann import embedding_band_buckets

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [0.5, 1.0]), (3, [9.0]), (4, [])],
        "vec_id long, embedding array<float>",
    )
    buckets = embedding_band_buckets(df, n_bands=2, rows_per_band=2, dim=2)
    nodes = {r["node"] for r in buckets.collect()}
    assert nodes == {0, 2}  # null / wrong-dim / empty vectors bucket nowhere


def test_contamination_and_decontaminate(spark):
    from daft_minhash_dedupe_spark.extras.decontaminate import (
        contamination_pairs,
        decontaminate,
    )

    bench = _docs(spark, ["one two three four five"])
    corpus = spark.createDataFrame(
        [
            (10, "x one two three four five y"),  # contains the bench 5-gram
            (11, "totally unrelated words here now"),
            (12, "one two three different four five"),  # no shared 5-gram
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_id"], r["bench_id"], r["n_shared"])
        for r in contamination_pairs(corpus, bench, ngram=5).collect()
    }
    assert pairs == {(10, 0, 1)}
    kept = {r["doc_id"] for r in decontaminate(corpus, bench, ngram=5).collect()}
    assert kept == {11, 12}


def test_contamination_short_bench_doc_containment(spark):
    """A benchmark doc shorter than ngram uses its whole token sequence as
    the window (GPT-3/PaLM min(ngram, len) rule). 'contained' (default)
    catches it inside longer corpus docs; 'exact' only matches
    token-identical corpus docs; a corpus doc of exactly the short width is
    counted ONCE (base-pass whole-doc window, no double-count from the
    extra width pass)."""
    from daft_minhash_dedupe_spark.extras.decontaminate import contamination_pairs

    bench = _docs(spark, ["secret eval answer"])  # 3 tokens < ngram=5
    corpus = spark.createDataFrame(
        [
            (10, "padding secret eval answer more padding"),  # contains it
            (11, "secret eval answer"),  # token-identical (width == 3)
            (12, "secret answer eval"),  # same tokens, wrong order
        ],
        "doc_id long, text string",
    )
    contained = {
        (r["doc_id"], r["bench_id"], r["n_shared"])
        for r in contamination_pairs(corpus, bench, ngram=5).collect()
    }
    assert contained == {(10, 0, 1), (11, 0, 1)}
    exact = {
        (r["doc_id"], r["bench_id"], r["n_shared"])
        for r in contamination_pairs(
            corpus, bench, ngram=5, short_doc_mode="exact"
        ).collect()
    }
    assert exact == {(11, 0, 1)}


def test_duplicate_ngram_fraction(spark):
    from daft_minhash_dedupe_spark.extras.text_analysis import duplicate_ngram_fraction

    rows = [
        (0, "a b c a b c a b"),  # 3-grams: abc bca cab abc bca cab -> 3/6 dup
        (1, "a b"),  # fewer than 3 tokens -> 0.0
        (2, "w x y z"),  # 2 distinct 3-grams of 2 -> 0.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: round(r["f"], 6)
        for r in df.select(
            "doc_id", duplicate_ngram_fraction(F.col("text"), 3).alias("f")
        ).collect()
    }
    assert got == {0: 0.5, 1: 0.0, 2: 0.0}


# -- streaming ---------------------------------------------------------------


def test_streaming_exact_dedupe(spark, tmp_path):
    from daft_minhash_dedupe_spark.streaming import streaming_exact_dedupe

    src = tmp_path / "stream_src"
    batch = spark.createDataFrame(
        [
            ("u1", "2024-01-01 00:00:00", "same text"),
            ("u2", "2024-01-01 00:01:00", "same text"),
            ("u3", "2024-01-01 00:02:00", "other text"),
        ],
        "url string, warc_ts string, text string",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    batch.write.parquet(str(src))

    stream = spark.readStream.schema(batch.schema).parquet(str(src))
    deduped = streaming_exact_dedupe(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("select * from dedup_out").collect()
    texts = sorted(r["text"] for r in out)
    assert texts == ["other text", "same text"]


# -- substring dedupe ----------------------------------------------------------


def test_substring_dup_pairs(spark):
    shared_run = " ".join(f"run{i}" for i in range(60))
    a = "intro words " + shared_run + " tail a"
    b = "different prefix here " + shared_run + " other ending"
    c = " ".join(f"uniq{i}" for i in range(80))
    from daft_minhash_dedupe_spark.extras.substring_dedupe import (
        substring_dedupe_components,
        substring_dup_pairs,
    )

    df = _docs(spark, [a, b, c])
    pairs = {(r["u"], r["v"]) for r in substring_dup_pairs(df, window_tokens=50).collect()}
    assert pairs == {(0, 1)}  # share a verbatim 60-token run
    comps = {r["doc_id"]: r["component"] for r in substring_dedupe_components(df, window_tokens=50).collect()}
    assert comps == {0: 0, 1: 0, 2: 2}


def test_substring_no_false_pairs_below_window(spark):
    short_shared = " ".join(f"s{i}" for i in range(10))  # only 10 tokens shared
    a = short_shared + " " + " ".join(f"a{i}" for i in range(60))
    b = short_shared + " " + " ".join(f"b{i}" for i in range(60))
    from daft_minhash_dedupe_spark.extras.substring_dedupe import substring_dup_pairs

    df = _docs(spark, [a, b])
    assert substring_dup_pairs(df, window_tokens=50).count() == 0


def test_ann_topk_ivf_and_lsh_recall_vs_brute_force(spark):
    from daft_minhash_dedupe_spark.extras.embedding_ann import (
        ann_topk_ivf,
        ann_topk_lsh,
    )

    rng = np.random.RandomState(5)
    vecs = rng.randn(300, 16)
    df = _emb_df(spark, vecs).localCheckpoint(eager=True)
    query = list(vecs[11])
    exact = [r["vec_id"] for r in brute_force_topk(df, query, k=10).collect()]
    ivf = [r["vec_id"] for r in ann_topk_ivf(df, query, k=10, n_lists=8, n_probe=4).collect()]
    lsh = [r["vec_id"] for r in ann_topk_lsh(df, query, k=10, n_planes=6).collect()]
    # approximate methods: self must be found; decent overlap with exact top-10
    assert ivf[0] == 11 and lsh[0] == 11
    assert len(set(ivf) & set(exact)) >= 5
    assert len(lsh) >= 1


def test_curate_corpus_each_gate(spark):
    """Every stage of the composed curation pipeline drops exactly its
    target: low quality, wrong language, exact duplicate, contaminated."""
    from daft_minhash_dedupe_spark.extras.curate import curate_corpus

    good = "the quick brown fox jumps over the lazy dog and runs to the old mill with great speed for fun"
    rows = [
        (10, good),                                     # survives
        (11, "!!! ??? !!!"),                            # quality gate
        (12, "le chat est sur la table et il est pour une sieste dans la maison que nous avons pour le reste"),  # language gate (fr)
        (13, good),                                     # exact dup of 10
        (14, "the panel said this exact secret benchmark sentence appears verbatim in it for the eval set with care"),  # contaminated
        (15, "an entirely different clean document that is long enough to pass the length gate with many distinct words here"),  # survives
    ]
    bench = [(1, "the panel said this exact secret benchmark sentence appears verbatim in it for the eval set with care")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "doc_id long, text string")
    out = curate_corpus(df, bdf, min_quality=0.5, languages=("en",))
    got = sorted(r["doc_id"] for r in out.collect())
    assert got == [10, 15]
    cols = set(out.columns)
    assert {"doc_id", "text", "quality", "lang"} <= cols


# -- line-level boilerplate dedup -------------------------------------------


def test_line_dedupe_removes_boilerplate(spark):
    from daft_minhash_dedupe_spark.extras.line_dedupe import line_dedupe

    footer = "copyright footer"
    docs = [f"body {i}\n{footer}" for i in range(5)] + ["unique one\nunique two"]
    out = line_dedupe(_docs(spark, docs), min_dup_docs=5).orderBy("doc_id")
    rows = out.collect()
    for i in range(5):
        assert rows[i]["cleaned_text"] == f"body {i}"
        assert rows[i]["kept_lines"] == 1 and rows[i]["removed_lines"] == 1
    assert rows[5]["cleaned_text"] == "unique one\nunique two"
    assert rows[5]["removed_lines"] == 0


def test_line_dedupe_all_boilerplate_doc_survives_empty(spark):
    from daft_minhash_dedupe_spark.extras.line_dedupe import line_dedupe

    docs = ["same line"] * 6
    rows = line_dedupe(_docs(spark, docs), min_dup_docs=5).collect()
    assert len(rows) == 6
    assert all(r["cleaned_text"] == "" and r["kept_lines"] == 0 for r in rows)


def test_line_dedupe_within_doc_repeat_counts_once(spark):
    from daft_minhash_dedupe_spark.extras.line_dedupe import line_dedupe

    # "dup" appears 5x but inside ONE doc -> distinct-doc count is 1 -> kept
    docs = ["dup\ndup\ndup\ndup\ndup", "other"]
    rows = line_dedupe(_docs(spark, docs), min_dup_docs=5).orderBy("doc_id").collect()
    assert rows[0]["cleaned_text"] == "dup\ndup\ndup\ndup\ndup"
    assert rows[0]["removed_lines"] == 0


def test_line_dedupe_normalizes_case_and_whitespace(spark):
    from daft_minhash_dedupe_spark.extras.line_dedupe import line_dedupe

    # same line modulo case/trim across 5 docs -> all removed
    docs = ["Footer Line", "footer line", "  FOOTER LINE  ", "footer line", "footer LINE"]
    rows = line_dedupe(_docs(spark, docs), min_dup_docs=5).collect()
    assert all(r["kept_lines"] == 0 for r in rows)


# -- PII redaction -----------------------------------------------------------


def test_redact_pii_counts_and_replacements(spark):
    from daft_minhash_dedupe_spark.extras.pii import redact_pii

    df = _docs(
        spark,
        [
            "mail a.b+c@x-site.co and d@e.org, ip 10.0.3.7, call 555-123-4567",
            "no pii here",
        ],
    )
    rows = redact_pii(df).orderBy("doc_id").collect()
    r = rows[0]
    assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (2, 1, 1)
    assert r["redacted_text"] == "mail <EMAIL> and <EMAIL>, ip <IP>, call <PHONE>"
    assert rows[1]["redacted_text"] == "no pii here"
    assert (rows[1]["n_emails"], rows[1]["n_ips"], rows[1]["n_phones"]) == (0, 0, 0)


def test_redact_pii_ip_inside_email_redacted_as_email(spark):
    from daft_minhash_dedupe_spark.extras.pii import redact_pii

    # sequential semantics: the email (incl. its dotted-quad-ish domain) goes
    # first, so no <IP> appears inside the <EMAIL> placeholder
    rows = redact_pii(_docs(spark, ["x user@10.0.0.7.example.com y"])).collect()
    assert rows[0]["n_emails"] == 1 and rows[0]["n_ips"] == 0
    assert "<EMAIL>" in rows[0]["redacted_text"]


def test_has_pii_gate(spark):
    from daft_minhash_dedupe_spark.extras.pii import has_pii

    rows = (
        has_pii(_docs(spark, ["a@b.co ok", "clean text", "ip 1.2.3.4"]))
        .orderBy("doc_id")
        .collect()
    )
    assert [r["has_pii"] for r in rows] == [True, False, True]


# -- property tests: line dedup / PII ----------------------------------------


from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_line_texts = st.lists(
    st.text(alphabet="ab c\ndef", min_size=0, max_size=40), min_size=1, max_size=8
)


@given(_line_texts)
@settings(max_examples=8, deadline=None)
def test_line_dedupe_identity_when_threshold_exceeds_corpus(spark, texts):
    """min_dup_docs > n_docs ⇒ no line can be boilerplate: every doc's
    cleaned text equals its original and removed_lines == 0."""
    from daft_minhash_dedupe_spark.extras.line_dedupe import line_dedupe

    df = _docs(spark, texts)
    out = line_dedupe(df, min_dup_docs=len(texts) + 1).orderBy("doc_id").collect()
    for i, r in enumerate(out):
        assert r["removed_lines"] == 0
        assert r["cleaned_text"] == texts[i]


@given(_line_texts)
@settings(max_examples=8, deadline=None)
def test_line_dedupe_matches_python_oracle(spark, texts):
    """Full behavioral oracle in pure Python: normalize = trim+lower, a line
    is boilerplate iff its normalized form occurs in >= N distinct docs."""
    from collections import defaultdict

    from daft_minhash_dedupe_spark.extras.line_dedupe import line_dedupe

    n = 2
    docs_per_key = defaultdict(set)
    for i, t in enumerate(texts):
        for line in t.split("\n"):
            docs_per_key[line.strip().lower()].add(i)
    expected = {}
    for i, t in enumerate(texts):
        kept = [l for l in t.split("\n") if len(docs_per_key[l.strip().lower()]) < n]
        expected[i] = (len(kept), len(t.split("\n")) - len(kept), "\n".join(kept))

    out = line_dedupe(_docs(spark, texts), min_dup_docs=n).collect()
    assert len(out) == len(texts)
    for r in out:
        assert (
            r["kept_lines"], r["removed_lines"], r["cleaned_text"]
        ) == expected[r["doc_id"]]


@given(
    st.lists(
        st.text(
            alphabet="abc019.-@_ %+x", min_size=0, max_size=60
        ),
        min_size=1,
        max_size=6,
    )
)
@settings(max_examples=8, deadline=None)
def test_redact_pii_idempotent(spark, texts):
    """Redacting already-redacted text is a no-op: the placeholders contain
    no character that can re-match any PII pattern."""
    from daft_minhash_dedupe_spark.extras.pii import redact_pii

    once = redact_pii(_docs(spark, texts), out_col="r1")
    twice = redact_pii(
        once.select("doc_id", "r1", F.col("r1").alias("text")), out_col="r2"
    )
    for r in twice.select("r1", "r2").collect():
        assert r["r1"] == r["r2"]


# -- exact-substring span removal ---------------------------------------------


def _py_remove_spans(texts, k, min_dup_docs=2):
    """Pure-Python behavioral oracle for remove_duplicate_spans: hash every
    k-token window by CONTENT, blocklist = windows in >= N distinct docs,
    remove covered token positions, rejoin with single spaces."""
    from collections import defaultdict

    toks = [t.split() for t in texts]
    docs_per_win = defaultdict(set)
    for i, tt in enumerate(toks):
        for s in range(len(tt) - k + 1):
            docs_per_win[" ".join(tt[s : s + k])].add(i)
    out = {}
    for i, tt in enumerate(toks):
        covered = set()
        for s in range(len(tt) - k + 1):
            if len(docs_per_win[" ".join(tt[s : s + k])]) >= min_dup_docs:
                covered.update(range(s, s + k))
        kept = [t for p, t in enumerate(tt) if p not in covered]
        out[i] = (len(tt), len(tt) - len(kept), " ".join(kept))
    return out


def test_remove_duplicate_spans_basic(spark):
    """Hand-derived case: two docs share a verbatim 4-token run; only the
    covered tokens go, unique prefix/suffix tokens stay."""
    from daft_minhash_dedupe_spark.extras.exact_substring import (
        remove_duplicate_spans,
    )

    texts = [
        "alpha beta the quick brown fox gamma",
        "delta the quick brown fox epsilon zeta",
        "totally unrelated words here only once",
    ]
    rows = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            _docs(spark, texts), window_tokens=4
        ).collect()
    }
    assert rows[0]["cleaned_text"] == "alpha beta gamma"
    assert rows[0]["removed_tokens"] == 4 and rows[0]["total_tokens"] == 7
    assert rows[1]["cleaned_text"] == "delta epsilon zeta"
    assert rows[2]["removed_tokens"] == 0
    assert rows[2]["cleaned_text"] == texts[2]


def test_remove_duplicate_spans_overlapping_runs(spark):
    """A shared run longer than k is a union of k-windows: the WHOLE run is
    covered, not just the first window."""
    from daft_minhash_dedupe_spark.extras.exact_substring import (
        remove_duplicate_spans,
    )

    shared = "one two three four five six"
    rows = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            _docs(spark, [f"a {shared} b", f"c {shared} d"]), window_tokens=3
        ).collect()
    }
    assert rows[0]["cleaned_text"] == "a b"
    assert rows[1]["cleaned_text"] == "c d"


def test_remove_duplicate_spans_short_and_empty_docs(spark):
    """Docs shorter than k emit no windows (sequence guard) and survive
    verbatim; an all-duplicate doc survives with cleaned_text = ''."""
    from daft_minhash_dedupe_spark.extras.exact_substring import (
        remove_duplicate_spans,
    )

    dup = "p q r s"
    rows = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            _docs(spark, ["tiny", "", dup, dup + " extra tail words"]),
            window_tokens=4,
        ).collect()
    }
    assert len(rows) == 4
    assert rows[0]["cleaned_text"] == "tiny" and rows[0]["removed_tokens"] == 0
    assert rows[1]["cleaned_text"] == "" and rows[1]["total_tokens"] == 0
    assert rows[2]["cleaned_text"] == "" and rows[2]["removed_tokens"] == 4
    assert rows[3]["cleaned_text"] == "extra tail words"


def test_remove_duplicate_spans_whitespace_normalization(spark):
    """Tokenization is \\s+ with empties dropped: runs differing only in
    whitespace ARE the same window; reconstruction is single-spaced."""
    from daft_minhash_dedupe_spark.extras.exact_substring import (
        remove_duplicate_spans,
    )

    rows = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            _docs(spark, ["x  a\tb\nc d", "y a b  c\nd"]), window_tokens=4
        ).collect()
    }
    assert rows[0]["cleaned_text"] == "x"
    assert rows[1]["cleaned_text"] == "y"


_span_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=40), min_size=2, max_size=6
)


@given(_span_texts)
@settings(max_examples=8, deadline=None)
def test_remove_duplicate_spans_matches_python_oracle(spark, texts):
    """Random tiny-alphabet corpora (dense window collisions by construction)
    vs the pure-Python content-keyed oracle."""
    from daft_minhash_dedupe_spark.extras.exact_substring import (
        remove_duplicate_spans,
    )

    expected = _py_remove_spans(texts, k=2)
    out = remove_duplicate_spans(_docs(spark, texts), window_tokens=2).collect()
    assert len(out) == len(texts)
    for r in out:
        assert (
            r["total_tokens"], r["removed_tokens"], r["cleaned_text"]
        ) == expected[r["doc_id"]]


def test_remove_duplicate_spans_min_dup_docs_threshold(spark):
    """min_dup_docs=3: a run shared by only two docs is NOT removed."""
    from daft_minhash_dedupe_spark.extras.exact_substring import (
        remove_duplicate_spans,
    )

    t = ["a k1 k2 k3 b", "c k1 k2 k3 d", "e f g h i"]
    rows = remove_duplicate_spans(
        _docs(spark, t), window_tokens=3, min_dup_docs=3
    ).collect()
    assert all(r["removed_tokens"] == 0 for r in rows)


# ---------------------------------------------------------------------------
# CCNet-style bigram-LM perplexity (extras/lm_perplexity.py)
# ---------------------------------------------------------------------------


def _ppl_python_oracle(texts: dict[str, str]) -> dict[str, float | None]:
    """Dependency-free add-one bigram LM, self-scored — the spec the Spark
    plan must reproduce (mirrors the DuckDB driver oracle)."""
    import math
    from collections import Counter

    toks = {k: v.lower().split() for k, v in texts.items()}
    bigrams = {k: list(zip(t, t[1:])) for k, t in toks.items()}
    c12 = Counter(bg for bgs in bigrams.values() for bg in bgs)
    c1 = Counter(bg[0] for bgs in bigrams.values() for bg in bgs)
    vocab = len({w for t in toks.values() for w in t})
    out: dict[str, float | None] = {}
    for k, bgs in bigrams.items():
        if not bgs:
            out[k] = None
            continue
        lp = sum(math.log2((c12[b] + 1) / (c1[b[0]] + vocab)) for b in bgs) / len(bgs)
        out[k] = round(2.0 ** (-lp), 4)
    return out


def test_lm_perplexity_hand_computed(spark):
    """Tiny corpus whose add-one bigram probabilities are derived by hand:
    bigrams (the,cat)x2 (cat,sat) (cat,ran); c1: the=2 cat=2; V=5."""
    import math

    from daft_minhash_dedupe_spark.extras.lm_perplexity import perplexity_scores

    docs = spark.createDataFrame(
        [("a", "the cat sat"), ("b", "the cat ran"), ("c", "solo"), ("d", "")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in perplexity_scores(docs).collect()}
    expect_a = round(2.0 ** (-(math.log2(3 / 7) + math.log2(2 / 7)) / 2), 4)
    assert rows["a"]["n_bigrams"] == 2 and rows["a"]["ppl"] == expect_a
    assert rows["b"]["ppl"] == expect_a  # symmetric doc
    assert rows["c"]["n_bigrams"] == 0 and rows["c"]["ppl"] is None
    assert rows["d"]["n_bigrams"] == 0 and rows["d"]["ppl"] is None


def test_lm_perplexity_matches_python_oracle(spark):
    """Self-scored Spark plan == dependency-free Python oracle on a mixed
    corpus (repetition, gibberish, shared phrases, unicode, 1-token docs)."""
    from daft_minhash_dedupe_spark.extras.lm_perplexity import perplexity_scores

    texts = {
        f"d{i}": t
        for i, t in enumerate(
            [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox sleeps under the old tree",
                "buy now click here buy now click here buy now",
                "zx qv jj wq pk zz yx mn bv cx",
                "the the the the the",
                "héllo wörld héllo wörld",
                "one",
                "",
                "the quick brown fox jumps over the lazy dog again and again",
            ]
        )
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["doc_id"]: r["ppl"] for r in perplexity_scores(docs).collect()}
    want = _ppl_python_oracle(texts)
    assert set(got) == set(want)
    for k in want:
        if want[k] is None:
            assert got[k] is None, k
        else:
            assert got[k] == pytest.approx(want[k], abs=2e-4), k
    # behavioral sanity: gibberish scores worse than the boilerplate repeat
    assert got["d3"] > got["d2"]


def test_lm_perplexity_trained_lm_backoff_and_prune_monotone(spark):
    """A full (unpruned) LM trained on the same corpus reproduces the
    self-scored numbers (no backoff fires); pruning to top_k only RAISES
    every doc's perplexity (backoff mass <= retained mass)."""
    from daft_minhash_dedupe_spark.extras.lm_perplexity import (
        perplexity_scores,
        train_bigram_lm,
    )

    docs = spark.createDataFrame(
        [("a", "the cat sat"), ("b", "the cat ran"), ("c", "solo")],
        ["doc_id", "text"],
    )
    self_scored = {r["doc_id"]: r["ppl"] for r in perplexity_scores(docs).collect()}
    full_lm = train_bigram_lm(docs)
    with_lm = {
        r["doc_id"]: r["ppl"] for r in perplexity_scores(docs, lm=full_lm).collect()
    }
    assert with_lm == self_scored
    pruned = train_bigram_lm(docs, top_k=1)  # keeps only (the, cat)
    with_pruned = {
        r["doc_id"]: r["ppl"] for r in perplexity_scores(docs, lm=pruned).collect()
    }
    import math

    # doc a: retained (the,cat)=3/7; (cat,sat) backs off to unseen mass 1/(2+5)
    expect_a = round(2.0 ** (-(math.log2(3 / 7) + math.log2(1 / 7)) / 2), 4)
    assert with_pruned["a"] == expect_a
    for k in ("a", "b"):
        assert with_pruned[k] >= with_lm[k], k


def test_lm_perplexity_unseen_context_uses_vocab_floor(spark):
    """Scoring docs whose contexts the reference LM never saw falls back to
    log2(1/V) per bigram: ppl == V exactly."""
    from daft_minhash_dedupe_spark.extras.lm_perplexity import (
        perplexity_scores,
        train_bigram_lm,
    )

    ref = spark.createDataFrame(
        [("r1", "alpha beta gamma delta"), ("r2", "beta gamma epsilon zeta")],
        ["doc_id", "text"],
    )
    lm = train_bigram_lm(ref)  # V = 6
    unseen = spark.createDataFrame([("x", "omega psi chi")], ["doc_id", "text"])
    rows = perplexity_scores(unseen, lm=lm).collect()
    assert rows[0]["ppl"] == 6.0


def test_curate_corpus_perplexity_gate(spark):
    """The opt-in CCNet perplexity gate drops ONLY high-ppl survivors of the
    Catalyst gates; NULL-ppl (sub-bigram) docs pass; lm=None keeps the
    pipeline byte-identical to the ungated plan."""
    from daft_minhash_dedupe_spark.extras.curate import curate_corpus
    from daft_minhash_dedupe_spark.extras.lm_perplexity import train_bigram_lm

    fluent = (
        "the quick brown fox jumps over the lazy dog and runs to the old mill "
        "with great speed for fun"
    )
    fluent2 = (
        "the quick brown fox jumps over the lazy dog and walks to the old barn "
        "with great speed for fun"
    )
    gibberish = (
        "colorless green ideas sleep furiously while quantum zebras postulate "
        "recursive marmalade theorems beneath the arbitrary lighthouse of wednesday"
    )
    rows = [(10, fluent), (11, fluent2), (12, gibberish)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = spark.createDataFrame([(1, fluent), (2, fluent2)], "doc_id long, text string")
    lm = train_bigram_lm(ref)

    ungated = sorted(
        r["doc_id"] for r in curate_corpus(df, min_quality=0.5).collect()
    )
    assert ungated == [10, 11, 12]
    # gibberish backs off on nearly every bigram -> ppl near V; fluent docs
    # score far lower. A threshold between them keeps exactly the fluent pair.
    gated = curate_corpus(df, min_quality=0.5, lm=lm, max_ppl=15.0)
    got = sorted(r["doc_id"] for r in gated.collect())
    assert got == [10, 11]
    assert "ppl" in gated.columns


# ---------------------------------------------------------------------------
# Per-group caps (extras/sampling.cap_per_group)
# ---------------------------------------------------------------------------


def _cap_fixture_rows():
    # Skewed groups: 'hot' has 400 rows, 'warm' 40, 'tiny' 3. quality is
    # non-unique on purpose (doc_id breaks ties -> total order).
    rows = []
    for i in range(400):
        rows.append((i, "hot", float(i % 10)))
    for i in range(400, 440):
        rows.append((i, "warm", float(i % 5)))
    for i in range(440, 443):
        rows.append((i, "tiny", 1.0))
    return rows


def test_cap_per_group_matches_duckdb_row_number(spark):
    """Two-phase salted top-k == the textbook single-window row_number,
    adjudicated by DuckDB on identical rows (survivor set AND ranks)."""
    import duckdb

    from daft_minhash_dedupe_spark.extras.sampling import cap_per_group

    rows = _cap_fixture_rows()
    df = spark.createDataFrame(rows, "doc_id long, domain string, quality double")
    got = {
        (r["doc_id"], r["domain"], r["group_rank"])
        for r in cap_per_group(
            df,
            group_cols=["domain"],
            order_cols=[F.col("quality").desc(), F.col("doc_id").asc()],
            k=25,
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, domain VARCHAR, quality DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = {
        (d, g, r)
        for d, g, r in con.execute(
            """
            SELECT doc_id, domain, rnk FROM (
              SELECT doc_id, domain,
                     row_number() OVER (PARTITION BY domain
                                        ORDER BY quality DESC, doc_id ASC) AS rnk
              FROM t)
            WHERE rnk <= 25
            """
        ).fetchall()
    }
    assert got == want
    # tiny group (3 < k) survives whole; hot group capped exactly at k
    assert sum(1 for _, g, _ in got if g == "tiny") == 3
    assert sum(1 for _, g, _ in got if g == "hot") == 25


def test_cap_per_group_stable_under_repartition_and_salt(spark):
    from daft_minhash_dedupe_spark.extras.sampling import cap_per_group

    df = spark.createDataFrame(
        _cap_fixture_rows(), "doc_id long, domain string, quality double"
    )
    order = [F.col("quality").desc(), F.col("doc_id").asc()]
    a = {
        (r["doc_id"], r["group_rank"])
        for r in cap_per_group(df, ["domain"], order, k=10).collect()
    }
    b = {
        (r["doc_id"], r["group_rank"])
        for r in cap_per_group(
            df.repartition(13), ["domain"], order, k=10, salt_buckets=3
        ).collect()
    }
    assert a == b


def test_cap_per_group_rejects_bad_args(spark):
    from daft_minhash_dedupe_spark.extras.sampling import cap_per_group

    df = spark.range(3).withColumnRenamed("id", "doc_id").withColumn(
        "g", F.lit("x")
    )
    with pytest.raises(ValueError):
        cap_per_group(df, ["g"], [F.col("doc_id")], k=0)
    with pytest.raises(ValueError):
        cap_per_group(df, ["g"], [F.col("doc_id")], k=1, salt_buckets=0)


# ---------------------------------------------------------------------------
# Sequence packing (extras/packing.py)
# ---------------------------------------------------------------------------


def test_pack_sequences_matches_duckdb_prefix_sum(spark):
    """Two-phase distributed prefix sum == DuckDB's global window cumsum,
    row-for-row (offsets, sequence spans), on real corpus token counts."""
    import duckdb

    from daft_minhash_dedupe_spark.extras.packing import pack_sequences

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
        ).cast("long").alias("n_tokens"),
    )
    got = {
        tuple(r)
        for r in pack_sequences(docs, seq_len=2048, n_buckets=7)
        .select(
            "doc_id", "n_tokens", "start_offset", "end_offset",
            "first_seq", "last_seq", "n_seqs",
        )
        .collect()
    }
    con = duckdb.connect()
    want = {
        tuple(r)
        for r in con.execute(
            f"""
            WITH t AS (
              SELECT doc_id,
                     CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                                          x -> x <> '')) AS BIGINT) AS n_tokens
              FROM read_parquet('{sf}/documents.parquet')),
            c AS (
              SELECT doc_id, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS start_offset
              FROM t WHERE n_tokens > 0)
            SELECT doc_id, n_tokens, start_offset,
                   start_offset + n_tokens AS end_offset,
                   start_offset // 2048 AS first_seq,
                   (start_offset + n_tokens - 1) // 2048 AS last_seq,
                   (start_offset + n_tokens - 1) // 2048
                     - start_offset // 2048 + 1 AS n_seqs
            FROM c
            """
        ).fetchall()
    }
    assert got == want


def test_pack_sequences_bucket_count_invariance(spark):
    """Output is independent of the bucket count (any contiguous range
    split reconstructs the same global prefix sum)."""
    from daft_minhash_dedupe_spark.extras.packing import pack_sequences

    df = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_tokens")
    )
    a = {tuple(r) for r in pack_sequences(df, 128, n_buckets=3).collect()}
    b = {tuple(r) for r in pack_sequences(df, 128, n_buckets=31).collect()}
    assert a == b
    # contiguity: offsets tile [0, total) exactly, in doc_id order
    rows = sorted(a)
    assert rows[0][2] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur[2] == prev[3]


def test_pack_sequences_rejects_bad_args(spark):
    from daft_minhash_dedupe_spark.extras.packing import pack_sequences

    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError):
        pack_sequences(df, 0)
    with pytest.raises(ValueError):
        pack_sequences(df, 10, n_buckets=-1)


def test_curate_corpus_split_gates_match_fused(spark):
    """r6 optimization pin: curate_corpus evaluates the quality and language
    gates as two separate stages (quality first, language over the quality
    survivors) — the surviving rows and their attached (quality, lang)
    values must be identical to the naive fused single-projection gate."""
    from pyspark.sql import functions as F

    from daft_minhash_dedupe_spark.extras.curate import curate_corpus
    from daft_minhash_dedupe_spark.extras.exact_dedupe import exact_dedupe
    from daft_minhash_dedupe_spark.extras.text_analysis import (
        language_id,
        quality_score,
    )

    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "the quick brown fox jumps over the lazy dog and runs to the mill with speed for fun",
                "!!! ??? !!!",
                "le chat est sur la table et il est pour une sieste dans la maison que nous avons pour le reste",
                "short",
                "an entirely different clean document that is long enough to pass the length gate with many distinct words here",
                "the the the the the the the the the the the the the the the the the the the the",
            ]
        )
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = curate_corpus(df, None, min_quality=0.5, languages=("en",))
    fused = exact_dedupe(
        df.withColumn("quality", quality_score(F.col("text")))
        .withColumn("lang", language_id(F.col("text")))
        .where((F.col("quality") >= 0.5) & F.col("lang").isin("en"))
    )
    key = lambda r: (r["doc_id"], r["quality"], r["lang"])
    assert sorted(map(key, got.collect())) == sorted(map(key, fused.collect()))




def test_every_extras_module_has_a_program_caller():
    """Each extras module must be imported by a program file — main.py,
    __spark_entry__.py or another package module — not only by tests.
    Static: parses the imports, starts no Spark."""
    import ast
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    pkg = repo / "daft_minhash_dedupe_spark"
    extras = {p.stem for p in (pkg / "extras").glob("*.py")} - {"__init__"}
    prefix = "daft_minhash_dedupe_spark.extras"

    def imported_extras(path):
        found = set()
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
            else:
                continue
            found.update(
                n[len(prefix) + 1:].split(".")[0]
                for n in names
                if n.startswith(prefix + ".")
            )
        return found

    called = set()
    for path in [repo / "main.py", repo / "__spark_entry__.py", *pkg.rglob("*.py")]:
        mods = imported_extras(path)
        if path.parent == pkg / "extras":
            mods.discard(path.stem)  # a module is not its own caller
        called |= mods
    assert sorted(extras - called) == []
