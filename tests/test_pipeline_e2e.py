"""End-to-end pipeline tests.

- reference E2E pin (tests:440-448): 3-row corpus (2 exact dups + 1 unique)
  → 2 survivors with exact surviving texts;
- keep-rule pins (tests:388-394, 492-498): isolated rows survive;
- full-corpus cluster parity vs the independent pure-Python oracle
  (dup-pair recall = 1.0 by construction when both are correct);
- planted-duplicate recall ≥ 0.99 and near-miss separation on the synthetic
  Common-Crawl-style corpus;
- checkpoint resume: stage outputs are reused, results identical.
"""

import itertools

from pyspark.sql import functions as F

from daft_minhash_dedupe_spark import oracle
from daft_minhash_dedupe_spark.config import DedupeConfig
from daft_minhash_dedupe_spark.io import StageCheckpointer
from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline, prepare_web_pages
from daft_minhash_dedupe_spark.sources.synthetic import generate_web_pages


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [(f"doc-{i}", t) for i, t in enumerate(texts)], "block_id string, block_text string"
    )


def test_e2e_three_rows_two_survivors(spark):
    # mirror of the reference E2E fixture (tests:440-448)
    dup = " ".join(f"tok{i:03d}" for i in range(40))
    unique = " ".join(f"other{i:03d}" for i in range(40))
    df = _docs_df(spark, [dup, dup, unique])
    out = MinHashDedupePipeline()(df)
    rows = out.collect()
    assert len(rows) == 2
    assert {r["block_text"] for r in rows} == {dup, unique}
    assert out.columns == ["block_id", "block_text"]


def test_e2e_all_unique_all_survive(spark):
    texts = [" ".join(f"w{i}x{j}" for j in range(30)) for i in range(5)]
    df = _docs_df(spark, texts)
    assert MinHashDedupePipeline()(df).count() == 5


def test_e2e_cluster_parity_with_python_oracle(spark):
    """Full-stack parity: Spark pipeline clusters == independent pure-Python
    reimplementation (normalize no-op corpus) → dup-pair recall 1.0."""
    pdf, _truth = __import__(
        "daft_minhash_dedupe_spark.sources.synthetic", fromlist=["generate_web_pages_pandas"]
    ).generate_web_pages_pandas(n_rows=120, seed=7, hot_family=False)
    df = spark.createDataFrame(pdf[["url", "text"]]).withColumnRenamed(
        "url", "block_id"
    ).withColumnRenamed("text", "block_text")
    cfg = DedupeConfig(index_col="block_id", content_col="block_text")
    pipe = MinHashDedupePipeline(cfg)
    res = pipe.run(df)

    # Spark-side clusters in node-id space
    assigns = {r["u"]: r["rep"] for r in res["assignments"].collect()}
    id_of = {r["block_id"]: r["node_id"] for r in res["id_map"].collect()}

    # oracle clusters from raw text through the same config
    docs = {
        id_of[row.url]: row.text for row in pdf.itertuples()
    }
    # replicate normalize (remove_punct, nfd, ws on tokNNNN text = identity)
    want = oracle.minhash_lsh_clusters(docs, cfg.num_perm, cfg.ngram_size, cfg.seed, cfg.B, cfg.R)
    assert oracle.partition_sets(assigns) == oracle.partition_sets(want)


def test_e2e_planted_recall_and_near_miss(spark):
    """Verified run: planted duplicates merge, near misses stay apart."""
    df, truth = generate_web_pages(spark, n_rows=300, seed=11)
    prepped = prepare_web_pages(df)
    cfg = DedupeConfig(
        index_col="block_id",
        content_col="block_text",
        verify_pairs=True,
    )
    res = MinHashDedupePipeline(cfg).run(prepped)

    comp = {
        r["block_id"]: r["component"]
        for r in res["clusters"].select("block_id", "component").collect()
    }
    dup_pairs = truth["dup_pairs"]
    assert len(dup_pairs) > 50
    found = sum(1 for a, b in dup_pairs if comp[a] == comp[b])
    recall = found / len(dup_pairs)
    assert recall >= 0.99, f"planted dup-pair recall {recall:.4f}"

    # near-miss pairs must NOT share a cluster
    wrong = sum(1 for a, b in truth["near_miss_pairs"] if comp[a] == comp[b])
    assert wrong == 0

    # keep-rule: exactly one survivor per cluster
    survivors = res["results"].count()
    assert survivors == len(set(comp.values()))


def test_checkpoint_resume(spark, tmp_path):
    dup = " ".join(f"tok{i:03d}" for i in range(40))
    unique = " ".join(f"zz{i:03d}" for i in range(40))
    df = _docs_df(spark, [dup, dup, unique])
    root = str(tmp_path / "ckpt")
    pipe = MinHashDedupePipeline(DedupeConfig())
    ck1 = StageCheckpointer(spark, root=root)
    r1 = pipe.run(df, checkpointer=ck1)
    first = sorted(r["block_id"] for r in r1["results"].collect())
    assert ck1.has("signatures") and ck1.has("pairs") and ck1.has("components")
    assert (tmp_path / "ckpt" / "metrics.jsonl").exists()
    assert (tmp_path / "ckpt" / "components" / "_STAGE_OK").exists()
    assert not (tmp_path / "ckpt" / "_metrics").exists()

    # resume: a new checkpointer must reuse completed stages (no recompute)
    ck2 = StageCheckpointer(spark, root=root, resume=True)
    r2 = pipe.run(df, checkpointer=ck2)
    assert sorted(r["block_id"] for r in r2["results"].collect()) == first
    # metrics recorded only for the first run (stages were skipped on resume)
    assert ck2.metrics == []


def test_short_and_empty_docs_survive(spark):
    df = _docs_df(spark, ["a b", "", "x"])
    out = MinHashDedupePipeline()(df)
    assert out.count() >= 2  # none of these should cluster together


def test_bench_corpus_dup_rate_knob(spark):
    """The dup_rate re-crawl knob: deterministic, shape-preserving, and
    the verbatim-duplicate mass moves with the rate (the tiered cascade's
    tier-0 economics depend on exactly this mass)."""
    from pyspark.sql import functions as F

    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus

    def dup_mass(rate):
        df = bench_corpus(spark, 4000, seed=7, dup_rate=rate)
        n, groups = df.agg(
            F.count("*").alias("n"), F.countDistinct("text").alias("g")
        ).first()
        assert n == 4000
        return (n - groups) / n  # rows removable by exact dedup

    base = dup_mass(0.0)
    hi = dup_mass(0.35)
    assert 0.04 < base < 0.15  # built-in mass: family member-1s + hot family
    # 0.35 over the ~70% unique pool with ~20% wasted on family-member
    # targets -> expect roughly +0.15..0.25 of extra verbatim mass
    assert hi - base > 0.12, (base, hi)
    # determinism: same seed+rate => byte-identical corpus
    a = bench_corpus(spark, 500, seed=3, dup_rate=0.2).orderBy("url").collect()
    b = bench_corpus(spark, 500, seed=3, dup_rate=0.2).orderBy("url").collect()
    assert [r["text"] for r in a] == [r["text"] for r in b]


def test_dup_rate_hot_target_recrawls_are_verbatim(spark):
    """Re-crawls that resolve to the hot family must byte-match the hot rows
    (length is a pure function of template, including the hot special case) —
    so the hot text's multiplicity exceeds hot_size once dup_rate > 0."""
    from pyspark.sql import functions as F

    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus

    df = bench_corpus(spark, 2000, seed=5, dup_rate=0.3, min_tokens=5, max_tokens=40)
    hot_text = df.where(F.col("url").endswith("/p/0")).first()["text"]
    n_hot_text = df.where(F.col("text") == hot_text).count()
    assert n_hot_text > 100  # hot_size default; strict > means recrawls joined


def test_verified_entry_path_matches_full_pipeline(spark):
    """r6 optimization pin: the entry's verified flagship (shared-prefix
    reuse of the non-verify run's prep/normalize/shingle/signature/band
    checkpoints + fresh pairwise-verify/CC/merge) must produce exactly the
    survivor set and cluster assignment of a from-scratch
    MinHashDedupePipeline(verify_pairs=True) run."""
    import __spark_entry__ as e
    from daft_minhash_dedupe_spark.config import DedupeConfig
    from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline

    sf = "/root/testdata/sf0.01"
    got = e._run_flagship(spark, sf, verify=True)
    want = MinHashDedupePipeline(DedupeConfig(verify_pairs=True)).run(
        e._docs_as_blocks(spark, sf)
    )
    g_surv = sorted(r["block_id"] for r in got["results"].collect())
    w_surv = sorted(r["block_id"] for r in want["results"].collect())
    assert g_surv == w_surv
    g_cl = sorted(map(tuple, got["clusters"].select("block_id", "component").collect()))
    w_cl = sorted(map(tuple, want["clusters"].select("block_id", "component").collect()))
    assert g_cl == w_cl
