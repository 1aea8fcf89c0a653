"""Extras: exact dedup, text analysis, simhash, ngram-jaccard, embedding ANN,
media decoders, streaming dedup."""

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


def test_asof_join_semantics(spark):
    from daft_minhash_dedupe_spark.extras.temporal import asof_join
    import datetime as dt

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [(1, 100, t(5)), (2, 100, t(10)), (3, 100, t(2)), (4, 200, t(5))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, t(5), 50), (100, t(8), 80), (300, t(1), 10)],
        "user_id long, ts timestamp, v long",
    )
    out = {
        r["event_id"]: r["v_asof"]
        for r in asof_join(left, right, key="user_id", ts="ts", value_cols=["v"]).collect()
    }
    # event 1 at :05 matches the :05 purchase (inclusive); event 2 at :10 the
    # :08 one; event 3 at :02 predates all -> null; user 200 has none -> null
    assert out == {1: 50, 2: 80, 3: None, 4: None}


def test_asof_join_null_in_latest_right_row(spark):
    """The latest matched right row wins WHOLE — a NULL there must not fall
    back to an older row's value (merge_asof/ASOF JOIN semantics)."""
    from daft_minhash_dedupe_spark.extras.temporal import asof_join
    import datetime as dt

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame([(1, 100, t(12))], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(100, t(5), 50, 7), (100, t(10), None, 9)],
        "user_id long, ts timestamp, a long, b long",
    )
    row = asof_join(left, right, key="user_id", ts="ts", value_cols=["a", "b"]).first()
    assert row["a_asof"] is None and row["b_asof"] == 9


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


def test_decode_wav_roundtrip():
    """decode_wav must recover exactly what stdlib wave wrote (8- and 16-bit)."""
    import io
    import wave as wavemod

    import numpy as np

    from daft_minhash_dedupe_spark.extras.multimodal import decode_wav

    samples8 = np.arange(200, dtype=np.uint8)
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(1); w.setframerate(8000)
        w.writeframes(samples8.tobytes())
    got = decode_wav(buf.getvalue())
    assert got == {
        "sample_rate": 8000, "n_channels": 1, "n_frames": 200,
        "duration_ms": 25, "sample_sum": int(samples8.sum()),
    }

    samples16 = (np.arange(100, dtype=np.int16) - 50) * 131
    buf = io.BytesIO()
    with wavemod.open(buf, "wb") as w:
        w.setnchannels(2); w.setsampwidth(2); w.setframerate(44100)
        w.writeframes(samples16.tobytes())
    got = decode_wav(buf.getvalue())
    assert got["n_channels"] == 2 and got["sample_rate"] == 44100
    assert got["n_frames"] == 50  # 100 samples / 2 channels
    assert got["sample_sum"] == int(samples16.astype(np.int64).sum())


def test_decode_ppm_variants():
    import numpy as np
    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.multimodal import (
        decode_image_real,
        decode_ppm,
    )

    pix = np.arange(2 * 3 * 3, dtype=np.uint8)
    p6 = b"P6\n3 2\n255\n" + pix.tobytes()
    arr = decode_ppm(p6)
    assert arr.shape == (2, 3, 3) and int(arr.sum()) == int(pix.sum())
    # comment in header + CRLF-ish whitespace
    p6c = b"P6 # a comment\n# another\n 3\t2 255\n" + pix.tobytes()
    assert decode_ppm(p6c).shape == (2, 3, 3)
    gray = np.arange(6, dtype=np.uint8)
    p5 = b"P5\n3 2\n255\n" + gray.tobytes()
    assert decode_ppm(p5).shape == (2, 3, 1)
    # dispatch: PPM decodes for real; a truncated JPEG fails loudly (real
    # parser, not a gate) and unknown containers stay NotImplementedError
    assert decode_image_real(p6).shape == (2, 3, 3)
    with _pytest.raises(ValueError, match="missing SOF"):
        decode_image_real(b"\xff\xd8\xff\xe0fakejpeg")


def test_resize_nearest_and_ahash_unit():
    import numpy as np

    from daft_minhash_dedupe_spark.extras.multimodal import ahash64, resize_nearest

    # 4x4 -> 2x2 integer downscale is strided sampling: picks (0,0),(0,2),(2,0),(2,2)
    a = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert resize_nearest(a, 2, 2).tolist() == [[0, 2], [8, 10]]
    # non-integer ratio still floor-maps: 3 -> 2 picks rows 0 and 1
    assert resize_nearest(a[:3], 2, 4).tolist() == [a[0].tolist(), a[1].tolist()]

    # hand-checked hash: 16x16 image, top half 200, bottom half 0 -> grid mean
    # 100, top 4 rows of the 8x8 grid above mean = bits 0..31 set
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8] = 200
    h = ahash64(img)
    assert h == int(np.uint64(0x00000000FFFFFFFF).astype(np.int64))

    # uniform brightness shift leaves the hash unchanged (mean shifts equally)
    assert ahash64(np.clip(img.astype(np.int16) + 30, 0, 255).astype(np.uint8)) == h
    # pixels off the sampling grid (odd coords for 16->8) don't contribute
    img2 = img.copy()
    img2[1, 1] = 123
    assert ahash64(img2) == h
    # flipping one sampled cell far past the mean flips exactly that bit
    img3 = img.copy()
    img3[0, 0] = 0  # grid cell (0,0) drops below mean
    assert bin(np.uint64(ahash64(img3)) ^ np.uint64(h)).count("1") <= 2


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


def test_audio_fp64_unit():
    import numpy as np

    from daft_minhash_dedupe_spark.extras.multimodal import audio_fp64

    # 8 windows of 1 sample each: bit k = x[(k+1)%8] > x[k], hand-checked
    x = np.array([10, 20, 5, 5, 30, 10, 40, 40], dtype=np.uint8)
    # deltas: 20>10 T, 5>20 F, 5>5 F, 30>5 T, 10>30 F, 40>10 T, 40>40 F, 10>40 F
    assert audio_fp64(x, n_windows=8) == 0b0101001
    # constant DC offset cancels in the deltas
    assert audio_fp64(x + 50, n_windows=8) == audio_fp64(x, n_windows=8)
    # 256 samples -> 64 windows of 4; offset invariance at the real shape
    rng = np.random.default_rng(5)
    y = rng.integers(0, 200, size=256, dtype=np.uint8)
    assert audio_fp64(y) == audio_fp64(y + 20)


def test_asof_join_random_vs_bruteforce(spark):
    """Randomized property: for every left row, asof value equals the
    brute-force 'latest right row with ts <= left.ts and same key' (with the
    documented tie-break: max value among equal-latest-ts rows). Both the
    single-window and split_buckets paths must match it."""
    import datetime as dt
    import random

    from daft_minhash_dedupe_spark.extras.temporal import asof_join

    rng = random.Random(17)
    t0 = dt.datetime(2024, 1, 1)

    def stamp(m):
        return t0 + dt.timedelta(minutes=m)

    lrows = [
        (i, rng.randint(0, 4), stamp(rng.randint(0, 200))) for i in range(120)
    ]
    rrows = [
        (rng.randint(0, 4), stamp(rng.randint(0, 200)), rng.randint(0, 999))
        for _ in range(80)
    ]
    left = spark.createDataFrame(lrows, "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(rrows, "user_id long, ts timestamp, v long")

    def brute(k, ts):
        cands = [(rts, v) for (rk, rts, v) in rrows if rk == k and rts <= ts]
        if not cands:
            return None
        latest = max(rts for rts, _ in cands)
        return max(v for rts, v in cands if rts == latest)

    want = {eid: brute(k, ts) for eid, k, ts in lrows}
    for sb in (None, 7):
        got = {
            r["event_id"]: r["v_asof"]
            for r in asof_join(
                left, right, key="user_id", ts="ts", value_cols=["v"],
                split_buckets=sb,
            ).collect()
        }
        assert got == want, f"split_buckets={sb}"


def test_asof_join_split_buckets_equals_single_window(spark):
    """The hot-key mitigation path must return byte-identical results to the
    single-window path on a skewed input (one key holding ~all rows), and
    the carry must propagate across buckets that contain no right rows."""
    import datetime as dt

    from daft_minhash_dedupe_spark.extras.temporal import asof_join

    def t(m):
        return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=m)

    # hot key 1: 3000 left rows over 3000 minutes; right rows only in the
    # FIRST sixth of the range so later buckets are right-empty
    left_rows = [(i, 1, t(i)) for i in range(3000)] + [(9001, 2, t(17))]
    right_rows = [(1, t(m), m) for m in range(0, 500, 50)] + [(2, t(10), 999)]
    left = spark.createDataFrame(left_rows, "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(right_rows, "user_id long, ts timestamp, v long")

    base = {
        r["event_id"]: r["v_asof"]
        for r in asof_join(left, right, key="user_id", ts="ts", value_cols=["v"]).collect()
    }
    split = {
        r["event_id"]: r["v_asof"]
        for r in asof_join(
            left, right, key="user_id", ts="ts", value_cols=["v"], split_buckets=8
        ).collect()
    }
    assert split == base
    # spot-check semantics: last bucket's rows still see minute-450 purchase
    assert split[2999] == 450 and split[9001] == 999 and split[0] == 0

    # the bucketed plan really windows on (key, bucket)
    plan = asof_join(
        left, right, key="user_id", ts="ts", value_cols=["v"], split_buckets=8
    )._sc._jvm.PythonSQLUtils.explainString(
        asof_join(
            left, right, key="user_id", ts="ts", value_cols=["v"], split_buckets=8
        )._jdf.queryExecution(),
        "formatted",
    )
    assert "_bucket" in plan


def test_asof_join_split_buckets_null_struct_and_ties(spark):
    """Tie/NULL semantics must survive bucketing: latest right row wins WHOLE
    even when its fields are NULL; equal-ts right row matches inclusively."""
    import datetime as dt

    from daft_minhash_dedupe_spark.extras.temporal import asof_join

    def t(m):
        return dt.datetime(2024, 1, 1, 0, m)

    left = spark.createDataFrame(
        [(1, 100, t(12)), (2, 100, t(5)), (3, 200, t(59))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, t(5), 50, 7), (100, t(10), None, 9), (200, t(59), 1, 1)],
        "user_id long, ts timestamp, a long, b long",
    )
    for sb in (None, 4):
        out = {
            r["event_id"]: (r["a_asof"], r["b_asof"])
            for r in asof_join(
                left, right, key="user_id", ts="ts",
                value_cols=["a", "b"], split_buckets=sb,
            ).collect()
        }
        assert out == {1: (None, 9), 2: (50, 7), 3: (1, 1)}, (sb, out)


def test_wav_unsupported_sample_width_fails_loudly():
    """24-bit PCM must raise (not silently mis-decode as int16 garbage)."""
    import io as _io
    import wave as _wave

    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.multimodal import decode_wav

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(3); w.setframerate(8000)
        w.writeframes(b"\x01\x02\x03" * 4)
    with _pytest.raises(ValueError, match="24-bit"):
        decode_wav(buf.getvalue())


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


# -- PNG codec (stdlib zlib + filter reconstruction) ---------------------------


def test_decode_png_hand_built_fixture():
    """A PNG assembled by hand in the test (struct+zlib, independent of
    encode_png): 3x2 gray, row 0 Sub-filtered, row 1 Up-filtered, with
    hand-derived filtered bytes. Pins the decoder against the spec math."""
    import struct
    import zlib

    from daft_minhash_dedupe_spark.extras.png_codec import decode_png

    # target pixels: row0 = [10, 30, 60], row1 = [15, 35, 70]
    # Sub (row0):  f[x] = p[x] - left  -> [10, 20, 30]
    # Up  (row1):  f[x] = p[x] - up    -> [5, 5, 10]
    raw = bytes([1, 10, 20, 30]) + bytes([2, 5, 5, 10])

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 0, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    arr = decode_png(png)
    assert arr.shape == (2, 3, 1)
    assert arr[:, :, 0].tolist() == [[10, 30, 60], [15, 35, 70]]


def test_png_roundtrip_all_filters_and_channels():
    """encode -> decode is exact for every filter type and channel count
    (filters are distinct code paths on both sides, so a filter-math error
    on either side breaks equality)."""
    from daft_minhash_dedupe_spark.extras.png_codec import decode_png, encode_png

    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        arr = rng.randint(0, 256, size=(5, 4, ch), dtype=np.uint8)
        for ft in range(5):
            out = decode_png(encode_png(arr, filter_type=ft))
            assert out.shape == (5, 4, ch), (ch, ft)
            assert np.array_equal(out, arr), f"channels={ch} filter={ft}"


def test_png_paeth_against_reference_predictor():
    """The vectorized Paeth predictor equals the spec's scalar pseudo-code
    on the full byte cube sample."""
    from daft_minhash_dedupe_spark.extras.png_codec import _paeth

    def paeth_scalar(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    rng = np.random.RandomState(3)
    a, b, c = (rng.randint(0, 256, 500).astype(np.uint8) for _ in range(3))
    got = _paeth(a, b, c)
    want = [paeth_scalar(int(x), int(y), int(z)) for x, y, z in zip(a, b, c)]
    assert got.tolist() == want


def test_png_rejects_corruption_and_unsupported():
    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.png_codec import decode_png, encode_png

    arr = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    png = bytearray(encode_png(arr))
    png[40] ^= 0xFF  # flip a byte inside a chunk body -> CRC mismatch
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(png))
    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JUNK" * 4)


def test_png_palette_roundtrip_and_rejection():
    """Color-type-3 (PLTE) path: index plane filters reconstruct exactly
    and the palette lookup expands to the right RGB; malformed palettes
    fail loudly instead of decoding garbage."""
    import struct
    import zlib

    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.png_codec import (
        decode_png,
        encode_png_palette,
    )

    rng = np.random.RandomState(5)
    pal = rng.randint(0, 256, (16, 3), dtype=np.uint8)
    idx = rng.randint(0, 16, (7, 5), dtype=np.uint8)
    for ft in range(5):
        out = decode_png(encode_png_palette(idx, pal, filter_type=ft))
        assert out.shape == (7, 5, 3)
        assert np.array_equal(out, pal[idx]), f"filter {ft}"

    # strip the PLTE chunk -> must raise, not decode indices as gray
    png = encode_png_palette(idx, pal)
    pos = 8
    stripped = png[:8]
    while pos + 8 <= len(png):
        (length,) = struct.unpack(">I", png[pos : pos + 4])
        tag = png[pos + 4 : pos + 8]
        if tag != b"PLTE":
            stripped += png[pos : pos + 12 + length]
        pos += 12 + length
    with _pytest.raises(ValueError, match="PLTE"):
        decode_png(stripped)

    # out-of-range index vs a short palette -> loud failure
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", bytes(pal[:2].tobytes()))
        + chunk(b"IDAT", zlib.compress(bytes([0, 0, 9])))
        + chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="palette index"):
        decode_png(bad)


# -- JPEG codec (markers + Huffman + DCT, no Pillow) ---------------------------


def _jpeg_seg(marker, body):
    import struct

    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def test_decode_jpeg_hand_built_fixture():
    """A JPEG assembled by hand (independent of encode_jpeg): 8x8 flat gray,
    all-ones quant, single-symbol Huffman tables, entropy segment derived by
    hand. v=130: DC=8*(130-128)=16, cat 5, bits '0'+'10000'+EOB'0' padded
    -> 0x41. v=120: DC=-64, cat 7, '01'+'0111111'+'0' padded -> 0x5F 0xBF
    (pins negative EXTEND). IDCT of DC-only must give the flat value back."""
    import numpy as np

    from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg

    def build(dc_syms, entropy):
        dqt = _jpeg_seg(0xDB, bytes([0]) + bytes([1] * 64))
        sof = _jpeg_seg(0xC0, bytes([8, 0, 8, 0, 8, 1, 1, 0x11, 0]))
        dc_bits = [0] * 16
        # all symbols at the minimal fixed length used by the encoder
        ln = 1 if len(dc_syms) == 1 else 2
        dc_bits[ln - 1] = len(dc_syms)
        dht_dc = _jpeg_seg(0xC4, bytes([0x00]) + bytes(dc_bits) + bytes(dc_syms))
        ac_bits = [1] + [0] * 15
        dht_ac = _jpeg_seg(0xC4, bytes([0x10]) + bytes(ac_bits) + bytes([0x00]))
        sos = _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        return (
            b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos + entropy + b"\xff\xd9"
        )

    arr = decode_jpeg(build([5], bytes([0x41])))
    assert arr.shape == (8, 8, 1)
    assert (arr == 130).all(), arr[:, :, 0]

    arr = decode_jpeg(build([5, 7], bytes([0x5F, 0xBF])))
    assert (arr == 120).all(), arr[:, :, 0]


def test_jpeg_roundtrip_tight_tolerance():
    """All-ones quant = near-lossless: the only error is coefficient
    rounding, so encode->decode must be within a few gray levels for every
    shape family (multiple-of-8, ragged, gray, RGB)."""
    import numpy as np

    from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(2)
    for shape in [(8, 8), (16, 16), (10, 13), (24, 33)]:
        g = rng.randint(0, 256, shape, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(g))
        assert out.shape == (*shape, 1)
        assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 2, shape
        c = rng.randint(0, 256, (*shape, 3), dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(c))
        assert out.shape == (*shape, 3)
        assert np.abs(out.astype(int) - c.astype(int)).max() <= 2, shape


def test_jpeg_subsampling_and_restarts():
    """4:2:0 reproduces a smooth gradient exactly (chroma constant per 2x2);
    restart markers (DRI/RSTn + DC predictor reset) decode identically to
    the unrestarted stream."""
    import numpy as np

    from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg, encode_jpeg

    grad = np.tile(
        np.linspace(40, 200, 16).astype(np.uint8)[None, :, None], (16, 1, 3)
    )
    out = decode_jpeg(encode_jpeg(grad, subsample=True))
    assert np.abs(out.astype(int) - grad.astype(int)).max() <= 2

    rng = np.random.RandomState(3)
    c = rng.randint(0, 256, (24, 33, 3), dtype=np.uint8)
    plain = decode_jpeg(encode_jpeg(c))
    for ri in (1, 3):
        assert np.array_equal(decode_jpeg(encode_jpeg(c, restart_interval=ri)), plain)


def test_jpeg_coarse_quant_still_faithful_on_smooth_content():
    """A realistic coarse quant table (16 everywhere) keeps smooth content
    recognizable — error bounded by the quant step, not garbage. Pins that
    dequantization actually multiplies the table back in."""
    import numpy as np

    from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg, encode_jpeg

    grad = np.add.outer(
        np.linspace(30, 220, 16), np.linspace(0, 30, 16)
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(grad, quant=np.full(64, 16)))
    assert np.abs(out[:, :, 0].astype(int) - grad.astype(int)).max() <= 24


def test_jpeg_rejects_unsupported_and_truncated():
    import numpy as np
    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg, encode_jpeg

    g = np.zeros((8, 8), dtype=np.uint8)
    png = encode_jpeg(g)
    # rewrite SOF0 -> SOF2 (progressive)
    prog = png.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(NotImplementedError, match="progressive"):
        decode_jpeg(prog)
    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0fakejpeg")
    with _pytest.raises(ValueError, match="truncated"):
        decode_jpeg(png[:-20])  # cut lands inside the AC Huffman table
    with _pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"nope")


# -- GIF codec (LZW + animation frames) ----------------------------------------


def test_decode_gif_hand_built_fixture():
    """A GIF assembled by hand (independent of encode_gif), with the LZW
    entropy bytes derived by hand for indices [1,2,2,1] at min-code-size 2:
    codes [CLEAR=4@3b, 1@3b, 2@3b, 2@3b, 1@4b, END=5@4b] packed LSB-first
    -> 0x8C 0x14 0x05 (the width bumps to 4 bits after the third add
    because the decoder's table lags the encoder's by one entry)."""
    import struct

    from daft_minhash_dedupe_spark.extras.gif_codec import decode_gif

    pal = bytes([10, 10, 10, 20, 20, 20, 30, 30, 30, 40, 40, 40])
    gif = (
        b"GIF89a"
        + struct.pack("<HHBBB", 2, 2, 0x80 | 1, 0, 0)  # 4-entry global table
        + pal
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, 2, 2, 0)
        + bytes([2])  # LZW min code size
        + bytes([3, 0x8C, 0x14, 0x05, 0])  # one sub-block + terminator
        + b"\x3b"
    )
    arr = decode_gif(gif)
    assert arr.shape == (2, 2, 3)
    assert arr[:, :, 0].tolist() == [[20, 30], [30, 20]]


def test_gif_roundtrip_palettes_interlace_and_dict_freeze():
    """Lossless roundtrip across palette sizes, interlace (4-pass row
    reorder), and a 128x128 high-entropy image that drives the LZW
    dictionary to the 4096-entry frozen state across every code width."""
    from daft_minhash_dedupe_spark.extras.gif_codec import decode_gif, encode_gif

    rng = np.random.RandomState(21)
    for k in (2, 4, 16, 256):
        pal = rng.randint(0, 256, (k, 3), dtype=np.uint8)
        idx = rng.randint(0, k, (10, 13), dtype=np.uint8)
        assert np.array_equal(decode_gif(encode_gif([idx], pal)), pal[idx]), k
        assert np.array_equal(
            decode_gif(encode_gif([idx], pal, interlace=True)), pal[idx]
        ), f"interlace k={k}"
    pal = rng.randint(0, 256, (256, 3), dtype=np.uint8)
    big = rng.randint(0, 256, (128, 128), dtype=np.uint8)
    assert np.array_equal(decode_gif(encode_gif([big], pal)), pal[big])
    rep = np.tile(np.arange(16, dtype=np.uint8), (64, 8))
    assert np.array_equal(decode_gif(encode_gif([rep], pal)), pal[rep])


def test_gif_animation_transparency_and_disposal():
    """Multi-frame presentation semantics: delays, transparent pixels
    showing the prior canvas, restore-to-background (disposal 2) and
    restore-to-previous (disposal 3)."""
    from daft_minhash_dedupe_spark.extras.gif_codec import encode_gif, gif_frames

    rng = np.random.RandomState(22)
    pal = rng.randint(0, 256, (4, 3), dtype=np.uint8)
    f1 = rng.randint(0, 4, (8, 8), dtype=np.uint8)
    f2 = rng.randint(0, 4, (8, 8), dtype=np.uint8)

    frames = gif_frames(encode_gif([f1, f2], pal, delays_ms=[100, 250]))
    assert [d for _, d in frames] == [100, 250]
    assert np.array_equal(frames[0][0], pal[f1])
    assert np.array_equal(frames[1][0], pal[f2])

    fr = gif_frames(encode_gif([f1, f2], pal, transparent=0))
    want = np.where((f2 == 0)[:, :, None], pal[f1], pal[f2])
    assert np.array_equal(fr[1][0], want)

    fr = gif_frames(encode_gif([f1, f2, f1], pal, disposal=2, bg_index=1))
    assert np.array_equal(fr[1][0], pal[f2])  # bg restore between frames
    fr = gif_frames(encode_gif([f1, f2, f1], pal, disposal=3))
    assert np.array_equal(fr[2][0], pal[f1])


def test_gif_rejects_corruption():
    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.gif_codec import decode_gif, encode_gif

    rng = np.random.RandomState(23)
    pal = rng.randint(0, 256, (4, 3), dtype=np.uint8)
    idx = rng.randint(0, 4, (6, 6), dtype=np.uint8)
    gif = encode_gif([idx], pal)
    with _pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"JUNKJUNK")
    with _pytest.raises(ValueError):
        decode_gif(gif[: len(gif) // 2])  # truncated mid-stream


def _avi_test_frames(seed=7, n=3):
    rng = np.random.RandomState(seed)
    pat = np.where(rng.rand(8, 8) < 0.5, 30, 210).astype(np.uint8)
    img = np.kron(pat, np.ones((2, 2), dtype=np.uint8))
    rgb = np.repeat(img[:, :, None], 3, axis=2)
    return [np.roll(rgb, 4 * i, axis=i % 2) for i in range(n)]


def test_avi_dib_roundtrip_exact():
    """DIB mode is lossless: odd width exercises the 4-byte row stride,
    bottom-up BGR row order must invert exactly."""
    from daft_minhash_dedupe_spark.extras.avi_codec import avi_frames, encode_avi

    rng = np.random.RandomState(3)
    frames = [rng.randint(0, 256, (11, 5, 3), dtype=np.uint8) for _ in range(4)]
    out = avi_frames(encode_avi(frames, frame_ms=33, codec="dib"))
    assert len(out) == 4
    for (f, ms), orig in zip(out, frames):
        assert ms == 33
        assert np.array_equal(f, orig)


def test_avi_mjpeg_roundtrip_near_lossless():
    """MJPEG frames route through the in-tree JPEG codec: blocky two-level
    pixels survive the near-lossless table within +/-2, so perceptual
    hashes are bit-identical across the container round trip."""
    from daft_minhash_dedupe_spark.extras.avi_codec import avi_frames, encode_avi
    from daft_minhash_dedupe_spark.extras.multimodal import ahash64

    frames = _avi_test_frames()
    out = avi_frames(encode_avi(frames, frame_ms=40, codec="mjpg"))
    assert len(out) == len(frames)
    for (f, ms), orig in zip(out, frames):
        assert ms == 40
        assert int(np.abs(f.astype(int) - orig.astype(int)).max()) <= 2
        assert ahash64(f) == ahash64(orig)


def test_avi_rejects_malformed():
    from daft_minhash_dedupe_spark.extras.avi_codec import avi_frames, encode_avi

    good = encode_avi(_avi_test_frames(), codec="dib")
    with pytest.raises(ValueError):
        avi_frames(b"RIFF\x10\x00\x00\x00WAVEdata")  # RIFF but not AVI
    with pytest.raises(ValueError):
        avi_frames(good[:40])  # truncated headers
    with pytest.raises(ValueError):
        avi_frames(b"nope")
    # unknown compression fourcc fails loudly, not silently
    import struct
    comp_off = good.find(struct.pack("<IiiHH", 40, 5, 11, 1, 24))
    assert comp_off == -1  # frames are 16x16 here; find the real strf
    comp_off = good.find(struct.pack("<IiiHH", 40, 16, 16, 1, 24)) + 16
    bad = good[:comp_off] + b"XVID" + good[comp_off + 4 :]
    with pytest.raises(NotImplementedError):
        avi_frames(bad)


def test_video_frame_sampling_semantics():
    """every_ms keeps exactly the frames a tick grid would present: with
    40ms frames and a 100ms grid, ticks 0/100/200/300 land in the
    presentation intervals of frames 0, 2, 5, 7."""
    from daft_minhash_dedupe_spark.extras.avi_codec import encode_avi
    from daft_minhash_dedupe_spark.extras.multimodal import (
        _sample_frames,
        video_frames_one,
    )

    rng = np.random.RandomState(5)
    frames = [rng.randint(0, 256, (4, 4, 3), dtype=np.uint8) for _ in range(8)]
    decoded = video_frames_one(encode_avi(frames, frame_ms=40, codec="dib"))
    assert [i for i, _, _ in _sample_frames(decoded, None)] == list(range(8))
    sampled = _sample_frames(decoded, 100)
    assert [(i, t) for i, t, _ in sampled] == [(0, 0), (2, 80), (5, 200), (7, 280)]
    # GIF variable delays flow through the same dispatcher
    from daft_minhash_dedupe_spark.extras.gif_codec import encode_gif

    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    gray = [f[:, :, 0] for f in frames[:3]]
    g = encode_gif(gray, pal, delays_ms=[500, 500, 500])
    assert [i for i, _, _ in _sample_frames(video_frames_one(g), 1000)] == [0, 2]


def test_video_fp64_majority_vote():
    from daft_minhash_dedupe_spark.extras.multimodal import video_fp64

    assert video_fp64([0b1011, 0b1011, 0b0100]) == 0b1011
    assert video_fp64([-1, -1, 0]) == -1  # signed int64 round trip
    assert video_fp64([0b01, 0b10]) == 0  # even split: strict majority
    with pytest.raises(ValueError):
        video_fp64([])


def test_jpeg_fill_bytes_between_segments():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a marker
    code — padded files must decode identically to unpadded ones."""
    from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(31)
    g = rng.randint(0, 256, (16, 16), dtype=np.uint8)
    jpg = encode_jpeg(g)
    want = decode_jpeg(jpg)
    # pad right after SOI and before the SOF0 marker code
    padded = jpg[:2] + b"\xff" * 3 + jpg[2:]
    padded = padded.replace(b"\xff\xc0", b"\xff\xff\xff\xc0", 1)
    assert np.array_equal(decode_jpeg(padded), want)


def test_gif_encode_rejects_delay_count_mismatch():
    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.gif_codec import encode_gif

    pal = np.repeat(np.arange(4, dtype=np.uint8)[:, None], 3, axis=1)
    idx = np.zeros((4, 4), dtype=np.uint8)
    with _pytest.raises(ValueError, match="delays_ms"):
        encode_gif([idx, idx], pal, delays_ms=[40])


def test_png_loud_value_errors_on_missing_idat_and_bad_streams():
    """decode_png's documented contract is loud ValueError on malformed
    input — no raw zlib.error / struct.error escapes: empty IDAT, corrupt
    deflate stream, and an oversized chunk-length field all raise ValueError
    with a descriptive message."""
    import struct
    import zlib

    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.png_codec import (
        _SIG,
        _chunk,
        decode_png,
        encode_png,
    )

    arr = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    ihdr = _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
    # no IDAT chunk at all
    with _pytest.raises(ValueError, match="IDAT"):
        decode_png(_SIG + ihdr + _chunk(b"IEND", b""))
    # IDAT present but the deflate stream is garbage (CRC is valid)
    with _pytest.raises(ValueError, match="deflate"):
        decode_png(
            _SIG + ihdr + _chunk(b"IDAT", b"notdeflate") + _chunk(b"IEND", b"")
        )
    # chunk length field pointing past the end of the payload
    png = bytearray(encode_png(arr))
    struct.pack_into(">I", png, 8, 1 << 30)  # IHDR length -> huge
    with _pytest.raises(ValueError, match="overruns"):
        decode_png(bytes(png))


def test_png_deflate_bomb_rejected_without_materializing():
    """A PNG whose IHDR declares 1x1 (passing check_dims, valid CRCs) but
    whose IDAT inflates to megabytes must be rejected by the BOUNDED inflate
    — the decompressobj cap stops at expected+1 bytes, so the bomb's
    expansion never allocates."""
    import struct
    import zlib

    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.png_codec import _SIG, _chunk, decode_png

    ihdr = _chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
    bomb = _chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))  # ~10KB payload
    with _pytest.raises(ValueError, match="length mismatch"):
        decode_png(_SIG + ihdr + bomb + _chunk(b"IEND", b""))


def test_gif_frame_descriptor_bombs_rejected():
    """Frame descriptors are guarded like the logical screen: huge per-frame
    dims and frames overflowing the canvas both raise ValueError before any
    LZW decode or canvas allocation."""
    import struct

    import pytest as _pytest

    from daft_minhash_dedupe_spark.extras.gif_codec import decode_gif

    def gif(screen_w, screen_h, left, top, fw, fh):
        head = b"GIF89a" + struct.pack("<HHBBB", screen_w, screen_h, 0x80, 0, 0)
        pal = b"\x00\x00\x00\xff\xff\xff"  # 2-entry global palette
        desc = b"\x2c" + struct.pack("<HHHHB", left, top, fw, fh, 0)
        lzw = b"\x02\x02\x44\x01\x00"  # mcs=2 + one tiny sub-block
        return head + pal + desc + lzw + b"\x3b"

    with _pytest.raises(ValueError, match="GIF frame"):
        decode_gif(gif(10, 10, 0, 0, 60000, 60000))
    with _pytest.raises(ValueError, match="exceeds"):
        decode_gif(gif(10, 10, 5, 5, 8, 8))


def _fake_pil(monkeypatch, open_fn):
    """Install a fake PIL package (Image.open = open_fn) and reset the
    multimodal native-decoder cache so the next decode re-resolves. Pillow
    is absent in this container, so the plug point is pinned with a
    monkeypatched module — on a real deployment the same dispatch resolves
    the real library."""
    import sys
    import types

    from daft_minhash_dedupe_spark.extras import multimodal

    pil = types.ModuleType("PIL")
    image_mod = types.ModuleType("PIL.Image")
    image_mod.open = open_fn
    pil.Image = image_mod
    monkeypatch.setitem(sys.modules, "PIL", pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", image_mod)
    monkeypatch.setattr(multimodal, "_NATIVE_IMAGE_DECODER", "unresolved")


class _FakePILImage:
    """Minimal PIL.Image.Image stand-in: context manager + __array__."""

    def __init__(self, arr, mode="RGB"):
        self._arr = arr
        self.mode = mode
        self.converted_to = None

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def __array__(self, dtype=None, copy=None):
        return self._arr.astype(dtype) if dtype is not None else self._arr

    def convert(self, mode):
        assert mode == "RGB"
        out = _FakePILImage(self._arr[:, :, :3], mode)
        self.converted_to = mode
        return out


def test_native_image_decoder_preferred_when_present(monkeypatch):
    """When a native decoder (Pillow) is importable it wins on compressed
    containers; PPM stays in-tree (header parse + reshape, nothing to win)."""
    from daft_minhash_dedupe_spark.extras import multimodal
    from daft_minhash_dedupe_spark.extras.png_codec import encode_png

    sentinel = np.full((4, 4, 3), 7, dtype=np.uint8)
    calls = []

    def fake_open(bio):
        calls.append(bio.read(4))
        return _FakePILImage(sentinel)

    _fake_pil(monkeypatch, fake_open)
    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    out = multimodal.decode_image_real(encode_png(arr))
    assert np.array_equal(out, sentinel) and len(calls) == 1  # native won
    # PPM bypasses the native path entirely
    ppm = b"P6\n4 4\n255\n" + arr.tobytes()
    assert np.array_equal(multimodal.decode_image_real(ppm), arr)
    assert len(calls) == 1


def test_native_image_decoder_same_ahash_both_paths(monkeypatch):
    """A correct native decoder and the in-tree codecs produce the SAME
    aHash for the same payload (PNG, JPEG and GIF), and a native decoder
    that fails on a payload falls back to the in-tree codec instead of
    erroring — a Pillow build-gap changes speed, never results."""
    from daft_minhash_dedupe_spark.extras import multimodal
    from daft_minhash_dedupe_spark.extras.gif_codec import encode_gif
    from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg, encode_jpeg
    from daft_minhash_dedupe_spark.extras.png_codec import decode_png, encode_png
    from daft_minhash_dedupe_spark.extras.gif_codec import decode_gif

    rng = np.random.RandomState(47)
    rgb = rng.randint(0, 256, (16, 16, 3), dtype=np.uint8)
    gray = rng.randint(0, 256, (16, 16), dtype=np.uint8)
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    payloads = [
        encode_png(rgb, filter_type=4),
        encode_jpeg(gray),
        encode_gif([gray], pal),
    ]

    # in-tree reference hashes (native disabled)
    monkeypatch.setattr(multimodal, "_NATIVE_IMAGE_DECODER", None)
    want = [multimodal.ahash64(multimodal.decode_image_real(p)) for p in payloads]

    # "native" decoder that is simply correct (delegates to the in-tree
    # codecs, shaped like Pillow output) — hashes must match exactly
    def good_open(bio):
        data = bio.read()
        if data.startswith(b"\x89PNG"):
            return _FakePILImage(decode_png(data))
        if data.startswith(b"\xff\xd8"):
            a = decode_jpeg(data)
            return _FakePILImage(a[:, :, 0], mode="L") if a.shape[2] == 1 else _FakePILImage(a)
        return _FakePILImage(decode_gif(data))

    _fake_pil(monkeypatch, good_open)
    got = [multimodal.ahash64(multimodal.decode_image_real(p)) for p in payloads]
    assert got == want

    # native decoder that blows up -> in-tree fallback, same hashes
    def broken_open(bio):
        raise OSError("decoder plugin missing")

    _fake_pil(monkeypatch, broken_open)
    got = [multimodal.ahash64(multimodal.decode_image_real(p)) for p in payloads]
    assert got == want


def test_native_image_decoder_channel_shape_parity(monkeypatch):
    """The native path preserves the in-tree channel widths: RGBA (PNG color
    type 6) stays 4-channel and LA (type 4) stays 2-channel instead of being
    flattened to RGB — otherwise the same corpus would fingerprint
    differently on a Pillow cluster vs the in-tree fallback."""
    from daft_minhash_dedupe_spark.extras import multimodal
    from daft_minhash_dedupe_spark.extras.png_codec import decode_png, encode_png

    rng = np.random.RandomState(51)
    rgba = rng.randint(0, 256, (8, 8, 4), dtype=np.uint8)
    payload = encode_png(rgba)
    assert decode_png(payload).shape == (8, 8, 4)  # in-tree keeps alpha

    opened = []

    def fake_open(bio):
        im = _FakePILImage(decode_png(bio.read()), mode="RGBA")
        opened.append(im)
        return im

    _fake_pil(monkeypatch, fake_open)
    out = multimodal.decode_image_real(payload)
    assert out.shape == (8, 8, 4) and opened[0].converted_to is None
    assert np.array_equal(out, rgba)


def test_codec_fuzz_error_contract_all_decoders():
    """Every in-tree decoder's failure surface is ValueError /
    NotImplementedError, never a raw zlib.error / struct.error /
    IndexError / KeyError: the mapInPandas extractors catch the two
    documented types to route rows to on_error handling, so any other
    escape would kill the whole Arrow batch. Fuzz each decoder with
    random blobs, truncations at every boundary class, and single-byte
    flips of a valid payload (deterministic seed)."""
    import struct as _struct
    import wave as _wave
    from io import BytesIO as _BytesIO

    from daft_minhash_dedupe_spark.extras import multimodal
    from daft_minhash_dedupe_spark.extras.avi_codec import avi_frames, encode_avi
    from daft_minhash_dedupe_spark.extras.gif_codec import decode_gif, encode_gif
    from daft_minhash_dedupe_spark.extras.jpeg_codec import decode_jpeg, encode_jpeg
    from daft_minhash_dedupe_spark.extras.png_codec import decode_png, encode_png

    rng = np.random.RandomState(77)
    rgb = rng.randint(0, 256, (9, 7, 3), dtype=np.uint8)
    pal = np.repeat(np.arange(8, dtype=np.uint8)[:, None] * 32, 3, axis=1)
    idx = rng.randint(0, 8, (9, 7)).astype(np.uint8)
    bio = _BytesIO()
    with _wave.open(bio, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(rng.randint(-300, 300, 64).astype("<i2").tobytes())
    ppm = b"P6\n7 9\n255\n" + rgb.tobytes()
    cases = [
        (decode_png, encode_png(rgb)),
        (decode_jpeg, encode_jpeg(rgb)),
        (decode_gif, encode_gif([idx], pal)),
        (avi_frames, encode_avi([rgb, rgb], frame_ms=200)),
        (multimodal.decode_ppm, ppm),
        (multimodal.decode_wav, bio.getvalue()),
    ]
    allowed = (ValueError, NotImplementedError)

    def poke(decoder, payload):
        try:
            decoder(payload)
        except allowed:
            pass  # the documented loud-failure surface
        # success is fine too: some mutations leave a decodable payload

    for decoder, good in cases:
        poke(decoder, good)  # baseline must not raise at all
        decoder(good)
        # random blobs, incl. ones opening with the right magic
        for n in (0, 1, 7, 64, 513):
            poke(decoder, bytes(rng.randint(0, 256, n, dtype=np.uint8)))
        poke(decoder, good[:8] + bytes(rng.randint(0, 256, 96, dtype=np.uint8)))
        # truncations: every prefix length class
        for cut in range(1, len(good), max(1, len(good) // 37)):
            poke(decoder, good[:cut])
        # single-byte flips across the payload
        for pos in range(0, len(good), max(1, len(good) // 53)):
            mutated = bytearray(good)
            mutated[pos] ^= 0x5A
            poke(decoder, bytes(mutated))
        # length-field inflation: overwrite each 4-byte window with 0xFFFFFFFF
        for pos in range(0, min(len(good) - 4, 64), 4):
            mutated = bytearray(good)
            mutated[pos : pos + 4] = _struct.pack(">I", 0xFFFFFFFF)
            poke(decoder, bytes(mutated))


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
# Deterministic stratified sampling (extras/sampling.py)
# ---------------------------------------------------------------------------


def test_deterministic_sample_stable_under_repartition(spark):
    """The kept set is a function of (key, salt) only — identical across
    plans, partitionings, and re-runs; different salts draw independently."""
    from daft_minhash_dedupe_spark.extras.sampling import deterministic_sample

    df = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in deterministic_sample(df, 0.25).collect()}
    b = {
        r["doc_id"]
        for r in deterministic_sample(df.repartition(17, "doc_id"), 0.25).collect()
    }
    assert a == b
    # rate lands near 25% (xxhash64 uniformity; 4k keys -> ~2% sigma)
    assert 0.20 <= len(a) / 4000 <= 0.30
    c = {r["doc_id"] for r in deterministic_sample(df, 0.25, salt="other").collect()}
    assert c != a  # independent draw
    # monotone nesting: a higher rate with the same salt is a superset
    sup = {r["doc_id"] for r in deterministic_sample(df, 0.5).collect()}
    assert a <= sup


def test_stratified_sample_per_stratum_rates(spark):
    from daft_minhash_dedupe_spark.extras.sampling import stratified_sample

    rows = [(i, "en" if i % 2 == 0 else ("fr" if i % 4 == 1 else "de"))
            for i in range(6000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(df, {"en": 0.5, "fr": 0.1}).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    n_en, n_fr = 3000, 1500
    assert 0.42 <= len(by_lang.get("en", ())) / n_en <= 0.58
    assert 0.05 <= len(by_lang.get("fr", ())) / n_fr <= 0.16
    assert "de" not in by_lang  # default_fraction=0 drops unmapped strata
    # keep decision matches the single-rate sampler at the same salt
    from daft_minhash_dedupe_spark.extras.sampling import deterministic_sample

    solo = {r["doc_id"] for r in
            deterministic_sample(df.where("lang = 'en'"), 0.5).collect()}
    assert by_lang["en"] == solo


def test_train_validation_split_disjoint_exhaustive(spark):
    from daft_minhash_dedupe_spark.extras.sampling import train_validation_split

    df = spark.range(0, 3000).withColumnRenamed("id", "doc_id")
    train, valid = train_validation_split(df, validation_fraction=0.1)
    t = {r["doc_id"] for r in train.collect()}
    v = {r["doc_id"] for r in valid.collect()}
    assert t & v == set()
    assert t | v == set(range(3000))
    assert 0.05 <= len(v) / 3000 <= 0.16


def test_sampling_rejects_bad_fractions(spark):
    from daft_minhash_dedupe_spark.extras.sampling import (
        deterministic_sample,
        stratified_sample,
        train_validation_split,
    )

    df = spark.range(3).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError):
        deterministic_sample(df, 1.5)
    with pytest.raises(ValueError):
        stratified_sample(df.withColumn("lang", F.lit("en")), {"en": -0.1})
    with pytest.raises(ValueError):
        train_validation_split(df, 2.0)


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


def test_packing_stats_rollup(spark):
    from daft_minhash_dedupe_spark.extras.packing import (
        pack_sequences,
        packing_stats,
    )

    df = spark.createDataFrame(
        [(1, 100), (2, 50), (3, 0), (4, 30)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(df, seq_len=64, n_buckets=2)
    row = packing_stats(packed, 64).collect()[0]
    # 180 tokens total (zero-token doc dropped) -> ceil(180/64) = 3 sequences
    assert row["n_docs"] == 3
    assert row["total_tokens"] == 180
    assert row["n_sequences"] == 3
    assert abs(row["pad_fraction"] - (3 * 64 - 180) / (3 * 64)) < 1e-12


def test_pack_sequences_rejects_bad_args(spark):
    from daft_minhash_dedupe_spark.extras.packing import pack_sequences

    df = spark.createDataFrame([(1, 5)], "doc_id long, n_tokens long")
    with pytest.raises(ValueError):
        pack_sequences(df, 0)
    with pytest.raises(ValueError):
        pack_sequences(df, 10, n_buckets=-1)


# ---------------------------------------------------------------------------
# DSIR importance resampling (extras/dsir.py)
# ---------------------------------------------------------------------------


def _py_dsir_buckets(text, n_buckets):
    """Pure-Python mirror of ngram_feature_buckets via the repo's xxh64
    oracle (pmod of a signed long by B == unsigned % B is NOT generally
    true, but Spark's pmod is the math mod, which python's % matches)."""
    from daft_minhash_dedupe_spark.oracle import xxh64_signed

    toks = [t for t in text.lower().split() if t]
    uni = [xxh64_signed(t.encode("utf-8")) % n_buckets for t in toks]
    bi = [
        xxh64_signed(f"{a} {b}".encode("utf-8")) % n_buckets
        for a, b in zip(toks, toks[1:])
    ]
    return uni + bi


def _py_dsir_weights(raw_docs, target_docs, n_buckets):
    import math as _math
    from collections import Counter

    tc = Counter(b for _, t in target_docs for b in _py_dsir_buckets(t, n_buckets))
    rc = Counter(b for _, t in raw_docs for b in _py_dsir_buckets(t, n_buckets))
    tt, rt = sum(tc.values()), sum(rc.values())
    t_denom, r_denom = _math.log(tt + n_buckets), _math.log(rt + n_buckets)
    out = {}
    for did, t in raw_docs:
        w, feats = 0.0, _py_dsir_buckets(t, n_buckets)
        for b in feats:
            lt = _math.log(tc[b] + 1) - t_denom if b in tc else -t_denom
            lr = _math.log(rc[b] + 1) - r_denom if b in rc else -r_denom
            w += lt - lr
        out[did] = (len(feats), w)
    return out


def test_dsir_weights_match_pure_python_oracle(spark):
    """Spark DSIR log-weights == the dependency-free python implementation,
    feature count exactly and weight to float precision. B=64 forces hash
    collisions so the bucketing itself is exercised."""
    from daft_minhash_dedupe_spark.extras.dsir import dsir_weights

    raw_docs = [
        (i, f"the quick brown fox {i} jumps over the lazy dog number {i % 5}")
        for i in range(30)
    ] + [(100 + i, f"zzq{i} qqz{i * 7} xjv kwp{i}") for i in range(10)]
    target_docs = [
        (i, f"the quick red fox likes the calm dog and number {i % 3}")
        for i in range(15)
    ]
    raw = spark.createDataFrame(raw_docs, "doc_id long, text string")
    target = spark.createDataFrame(target_docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_features"], r["log_weight"])
        for r in dsir_weights(raw, target, n_buckets=64).collect()
    }
    want = _py_dsir_weights(raw_docs, target_docs, 64)
    assert set(got) == set(want)
    for did, (nf, w) in want.items():
        assert got[did][0] == nf
        assert abs(got[did][1] - w) <= 1e-8 * max(1.0, abs(w))


def test_dsir_empty_doc_gets_zero_weight(spark):
    from daft_minhash_dedupe_spark.extras.dsir import dsir_weights

    raw = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    target = spark.createDataFrame([(1, "hello there")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in dsir_weights(raw, target, n_buckets=32).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2]["n_features"] == 0 and got[2]["log_weight"] == 0.0
    assert got[3]["n_features"] == 0 and got[3]["log_weight"] == 0.0


def test_gumbel_key_matches_python_derivation(spark):
    import math as _math

    from daft_minhash_dedupe_spark.extras.dsir import gumbel_key
    from daft_minhash_dedupe_spark.oracle import xxh64, xxh64_signed  # noqa: F401

    df = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", gumbel_key(F.col("doc_id"), "s1").alias("g")
        ).collect()
    }
    for did in range(50):
        h1 = xxh64((did % (1 << 64)).to_bytes(8, "little"), 42)
        h2 = xxh64(b"s1", h1)
        u = (h2 % (1 << 20) + 0.5) / float(1 << 20)
        g = -_math.log(-_math.log(u))
        assert abs(got[did] - g) < 1e-10


def test_dsir_select_prefers_target_like_docs(spark):
    """End-to-end: raw pool = 60 target-like + 60 spam docs (spam vocab is
    COMMON in raw, absent from target — the distribution shape DSIR is
    built to reject; per-doc-unique gibberish would instead be upweighted
    by the p_target/p_raw ratio, correctly per the paper). Resampling at
    low temperature must pick overwhelmingly from the target-like half,
    and the draw is deterministic across repartitionings."""
    from daft_minhash_dedupe_spark.extras.dsir import dsir_select, dsir_weights

    like = [
        (i, f"science papers discuss the method and the results of study {i % 7}")
        for i in range(60)
    ]
    junk = [
        (1000 + i, f"buy cheap pills now click here best offer deal win prize {i % 3}")
        for i in range(60)
    ]
    raw = spark.createDataFrame(like + junk, "doc_id long, text string")
    target = spark.createDataFrame(
        [(i, f"the study method shows results in science of papers {i % 4}")
         for i in range(25)],
        "doc_id long, text string",
    )
    w = dsir_weights(raw, target, n_buckets=2048)
    picked = {r["doc_id"] for r in dsir_select(w, k=40, temperature=0.05).collect()}
    assert len(picked) == 40
    assert sum(1 for d in picked if d < 1000) >= 36  # >=90% target-like
    # deterministic under repartition
    picked2 = {
        r["doc_id"]
        for r in dsir_select(w.repartition(13), k=40, temperature=0.05).collect()
    }
    assert picked == picked2


def test_dsir_select_fraction_and_validation(spark):
    from daft_minhash_dedupe_spark.extras.dsir import dsir_select

    w = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 17).cast("double").alias("log_weight")
    )
    out = dsir_select(w, fraction=0.25)
    n = out.count()
    assert 400 <= n <= 600  # approxQuantile threshold, 25% +/- tolerance
    assert dsir_select(w, fraction=1.0).count() == 2000
    with pytest.raises(ValueError):
        dsir_select(w)
    with pytest.raises(ValueError):
        dsir_select(w, k=10, fraction=0.5)
    with pytest.raises(ValueError):
        dsir_select(w, k=0)
    with pytest.raises(ValueError):
        dsir_select(w, fraction=0.0)
    with pytest.raises(ValueError):
        dsir_select(w, k=5, temperature=0.0)


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


