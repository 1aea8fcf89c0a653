"""Physical-plan audits: the optimizations we rely on must be visible in
.explain output (pushdown, pruning, broadcast, whole-stage codegen, partial
aggregation) — these tests pin them so regressions surface as failures."""

from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.operators.banding import salted_bucket_min

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_parquet_filter_pushdown_and_column_pruning(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .where(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # only the 3 referenced columns are read
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_broadcast_join_for_small_dimension(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    df = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    assert "BroadcastHashJoin" in _plan(df)


def test_min_agg_has_partial_aggregation(spark):
    buckets = spark.createDataFrame([(1, 2)], "band_key long, node long")
    plan = _plan(buckets.groupBy("band_key").agg(F.min("node")))
    # two HashAggregate nodes: partial (map-side) + final
    assert plan.count("HashAggregate") >= 2


def test_salted_min_two_phase_shape(spark):
    buckets = spark.createDataFrame([(1, 2)], "band_key long, node long")
    plan = _plan(salted_bucket_min(buckets, num_salts=4))
    # stage 1 partial+final on (key, salt), stage 2 partial+final on key
    assert plan.count("HashAggregate") >= 4
    assert "pmod" in plan


def test_whole_stage_codegen_on_agg_path(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    agg.collect()  # AQE shows codegen spans only in the final executed plan
    # formatted mode marks whole-stage-codegen spans with `* ` / codegen ids
    assert "[codegen id :" in _plan(agg)


def test_shingle_path_is_single_scan_no_shuffle(spark):
    # higher-order transform() exprs are CodegenFallback in Spark (expected),
    # but the shingle path must stay a narrow single-scan plan: no Exchange
    from daft_minhash_dedupe_spark.functions.minhash import add_shingles

    df = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(add_shingles(df, "text", 5, "sh").select("doc_id", "sh"))
    assert "Exchange" not in plan
    assert "Scan parquet" in plan


def test_left_anti_join_plan(spark):
    a = spark.createDataFrame([(1, 2)], "u long, v long")
    b = spark.createDataFrame([(1, 2)], "u long, v long")
    plan = _plan(a.join(b, ["u", "v"], "left_anti"))
    assert "LeftAnti" in plan


def test_aqe_enabled(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_curate_corpus_gates_in_scan_stage(spark):
    """The curation pipeline's quality and language gates must stay pure
    Catalyst (no Python nodes anywhere in the plan) and be evaluated against
    the scan (the corpus id predicate reaches PushedFilters), with the
    exact-dedup keep-set and decontamination index joined by broadcast.

    Round 6: the gate survivors sit behind lazy localCheckpoint barriers
    (each downstream stage re-read them 2-4x), so the final plan roots at a
    LogicalRDD and the scan node is only visible in the GATE stage's own
    plan — assert each property where it is observable."""
    from daft_minhash_dedupe_spark.extras.curate import curate_corpus
    from daft_minhash_dedupe_spark.extras.text_analysis import quality_score

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    corpus = docs.where(F.col("doc_id") >= 25)
    bench = docs.where(F.col("doc_id") < 25)
    plan = _plan(curate_corpus(corpus, bench, languages=("en",)))
    assert "Python" not in plan, plan  # no UDF fell into the hot path
    assert "BroadcastHashJoin" in plan
    gate = corpus.withColumn("quality", quality_score(F.col("text"))).where(
        F.col("quality") >= 0.5
    )
    gate_plan = _plan(gate)
    assert "Python" not in gate_plan, gate_plan
    assert (
        "PushedFilters: [IsNotNull(doc_id), GreaterThanOrEqual(doc_id,25"
        in gate_plan
    )


def test_exact_substring_removal_plan_shape(spark):
    """The span-removal hot path must stay JVM-side and partial-aggregated:
    no Python eval anywhere (window hashing is pure Catalyst), and the
    duplicated-window count partial-combines map-side so a corpus-wide
    window reaches its reducer as O(tasks) rows."""
    from daft_minhash_dedupe_spark.extras.exact_substring import (
        duplicated_windows,
        remove_duplicate_spans,
        window_postings,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    full = _plan(remove_duplicate_spans(docs, window_tokens=8))
    assert "BatchEvalPython" not in full and "ArrowEvalPython" not in full
    bl = _plan(duplicated_windows(window_postings(docs, window_tokens=8), "doc_id"))
    # distinct (partial+final) then count (partial+final)
    assert bl.count("HashAggregate") >= 4


def test_python_runs_only_in_the_minhash_kernel(spark):
    """Normalize is pure Catalyst (NFD through ICU4J's ``reflect``), and the
    driver-fallback CC result is a local Arrow table: neither plan starts a
    Python task."""
    from daft_minhash_dedupe_spark.operators.components import connected_components
    from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline

    docs = spark.range(4).select(
        F.col("id").cast("string").alias("block_id"),
        F.lit("Caf\u00e9, caf\u00e9!").alias("block_text"),
        F.col("id").alias("node_id"),
    )
    norm = _plan(MinHashDedupePipeline().normalize(docs))
    for node in ("ArrowEvalPython", "BatchEvalPython", "Union"):
        assert node not in norm, norm

    edges = spark.range(3).select(F.col("id").alias("u"), (F.col("id") + 1).alias("v"))
    cc = _plan(connected_components(edges, driver_fallback_edges=100))
    assert "LocalTableScan" in cc and "ExistingRDD" not in cc, cc
