#!/usr/bin/env python
"""Benchmark harness.

Default mode (driver contract): runs the headline queries on
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) with
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` mode additionally runs the flagship dedup at local[N] and
local[4N] on identical input (the sandbox stand-in for N vs 4N executors)
and reports throughput at both + scaling efficiency — evidence for the
north rule's two-cluster-size criterion. Results land in BENCH/BASELINE.md.

The flagship measures end-to-end dedup (normalize → minhash → LSH → CC →
keep-rule) on the synthetic web corpus + the sf documents table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def host_probe() -> dict:
    """~2.5 s host-health probe, emitted into the bench artifact itself so a
    contention-poisoned measurement window is visible in the recorded JSON
    (this sandbox carries a variable co-tenant: BENCH/BASELINE.md round-4
    measured a 7x DRAM-bandwidth spread between identical concurrent
    processes while the CPU probe stayed flat). Two readings:

    - cpu_md5_mbps: cache-resident single-core md5 spin — runnable-core
      contention shows here (healthy ~800+ MB/s, flat across rounds)
    - dram_gbps: 128 MB memcpy loop (read+write counted) — the co-tenant's
      memory-bus pressure shows here (healthy ~8+ GB/s; the round-4
      poisoned window measured 1.9 GB/s on this probe)
    - syscall_kps: 4 KB /dev/zero reads per millisecond — round 5 found a
      THIRD noise axis the two userspace probes are blind to: episodic
      70-83% system-time storms (kernel/hypervisor) that crush Spark's
      syscall-heavy shuffle I/O while md5/memcpy read healthy. Healthy
      ~2,400 k/s (0.4 us/call); a storm window shows here.
    """
    import hashlib

    import numpy as np

    buf = b"x" * (1 << 16)
    t0 = time.time()
    n = 0
    while time.time() - t0 < 1.0:
        hashlib.md5(buf).digest()
        n += 1
    cpu = n * len(buf) / (time.time() - t0) / 1e6
    a = np.ones(128 * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    np.copyto(b, a)  # fault the pages before the clock starts
    t0 = time.time()
    it = 0
    while time.time() - t0 < 1.5:
        np.copyto(b, a)
        it += 1
    dram = it * a.nbytes * 2 / (time.time() - t0) / 1e9
    fd = os.open("/dev/zero", os.O_RDONLY)
    t0 = time.time()
    calls = 0
    while time.time() - t0 < 0.5:
        for _ in range(1000):
            os.read(fd, 4096)
        calls += 1000
    sys_rate = calls / (time.time() - t0) / 1e3
    os.close(fd)
    return {
        "cpu_md5_mbps": round(cpu, 1),
        "dram_gbps": round(dram, 2),
        "syscall_kps": round(sys_rate, 1),
    }


def _fresh_spark(n_cores: int, shuffle_partitions: int | None = None):
    from daft_minhash_dedupe_spark.session import get_spark

    return get_spark(
        master=f"local[{n_cores}]",
        app_name=f"bench_{n_cores}",
        extra_confs={
            # initial (pre-AQE-coalesce) shuffle parallelism: plenty of splits
            # for big inputs, AQE merges them away on small ones
            "spark.sql.shuffle.partitions": str(shuffle_partitions or max(8 * n_cores, 64)),
        },
    )


def run_flagship(
    spark,
    n_docs: int,
    seed: int = 42,
    min_tokens: int = 80,
    max_tokens: int = 400,
    dup_rate: float = 0.0,
) -> tuple[float, int]:
    """Dedup the deterministic synthetic web corpus; returns (sec, rows_in).

    The corpus is generated Spark-side (sources/synthetic_spark.py) and
    materialized before the clock starts, so the measurement is pure dedup."""
    from daft_minhash_dedupe_spark.config import DedupeConfig
    from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline, prepare_web_pages
    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus

    df = prepare_web_pages(
        bench_corpus(
            spark,
            n_docs,
            seed,
            min_tokens=min_tokens,
            max_tokens=max_tokens,
            dup_rate=dup_rate,
        )
    ).localCheckpoint(eager=True)
    rows_in = df.count()
    t0 = time.time()
    res = MinHashDedupePipeline(DedupeConfig()).run(df)
    res["results"].write.format("noop").mode("overwrite").save()
    return time.time() - t0, rows_in


def run_tiered(
    spark,
    n_docs: int,
    seed: int = 42,
    min_tokens: int = 80,
    max_tokens: int = 400,
    dup_rate: float = 0.0,
) -> tuple[float, int]:
    """Tiered cascade (exact tier0/1b + minhash; no line tier — the synthetic
    corpus is single-line) on the same corpus run_flagship uses. The corpus
    carries ~8% verbatim duplicates (family member 1 + the hot family), so
    tier 0 shrinks the minhash tier's input by that fraction for the cost of
    one digest groupBy — the web re-crawl economics, measurable A/B against
    run_flagship in the same session."""
    from daft_minhash_dedupe_spark.extras.tiered import tiered_dedupe
    from daft_minhash_dedupe_spark.pipeline import prepare_web_pages
    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus

    df = prepare_web_pages(
        bench_corpus(
            spark,
            n_docs,
            seed,
            min_tokens=min_tokens,
            max_tokens=max_tokens,
            dup_rate=dup_rate,
        )
    ).localCheckpoint(eager=True)
    rows_in = df.count()
    t0 = time.time()
    res = tiered_dedupe(
        df,
        id_col="block_id",
        text_col="block_text",
        line_min_dup_docs=None,
        collect_metrics=False,
    )
    res["survivors"].write.format("noop").mode("overwrite").save()
    return time.time() - t0, rows_in


def run_exactsubstr(
    spark,
    n_docs: int,
    seed: int = 42,
    min_tokens: int = 80,
    max_tokens: int = 400,
    window_tokens: int = 20,
    dup_rate: float = 0.0,
) -> dict:
    """Exact-substring span removal throughput on the same corpus the
    flagship uses (its duplicate families share long verbatim runs, so the
    blocklist and rebuild paths both do real work). Clocked: the full
    window-hash -> blocklist -> rebuild job; removal stats measured after."""
    from pyspark.sql import functions as F

    from daft_minhash_dedupe_spark.extras.exact_substring import (
        remove_duplicate_spans,
    )
    from daft_minhash_dedupe_spark.pipeline import prepare_web_pages
    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus

    df = prepare_web_pages(
        bench_corpus(
            spark,
            n_docs,
            seed,
            min_tokens=min_tokens,
            max_tokens=max_tokens,
            dup_rate=dup_rate,
        )
    ).localCheckpoint(eager=True)
    rows_in = df.count()
    t0 = time.time()
    out = remove_duplicate_spans(
        df, text_col="block_text", id_col="block_id", window_tokens=window_tokens
    )
    out.write.format("noop").mode("overwrite").save()
    sec = time.time() - t0
    stats = out.agg(
        F.sum("total_tokens").alias("tok"),
        F.sum("removed_tokens").alias("rem"),
        F.sum((F.col("removed_tokens") > 0).cast("long")).alias("touched"),
    ).first()
    return {
        "metric": "exactsubstr_removal_seconds",
        "value": round(sec, 2),
        "unit": "sec",
        "rows": rows_in,
        "docs_per_sec": round(rows_in / sec, 1),
        "window_tokens": window_tokens,
        "total_tokens": stats["tok"],
        "removed_tokens": stats["rem"],
        "docs_touched": stats["touched"],
    }


def run_stream_neardup(
    spark, n_batches: int = 24, batch_docs: int = 2000, horizon_s: int = 600
) -> dict:
    """Per-micro-batch cost flatness for streaming near-dup suppression.

    Feeds n_batches equal-size batches with event time advancing half a
    horizon per batch, so cumulative persisted state grows ~n_batches× while
    the ts_bucket read window stays constant-size. O(batch) behavior =
    per-batch wall time stays FLAT as state accumulates (the round-3 state
    read was O(live-state): every batch re-scanned all batch_id=* trees)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from daft_minhash_dedupe_spark.config import DedupeConfig
    from daft_minhash_dedupe_spark.pipeline import prepare_web_pages
    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus
    from daft_minhash_dedupe_spark.streaming.near_dedupe import StreamingNearDedupe

    root = tempfile.mkdtemp(prefix="snd_bench_")
    snd = StreamingNearDedupe(
        DedupeConfig(), f"{root}/state", f"{root}/out", horizon=f"{horizon_s} seconds"
    )
    t_base = 1_700_000_000
    times = []
    for b in range(n_batches):
        batch = (
            prepare_web_pages(bench_corpus(spark, batch_docs, seed=1000 + b))
            .withColumn(
                "warc_ts",
                F.timestamp_seconds(F.lit(t_base + b * horizon_s // 2)),
            )
            .localCheckpoint(eager=True)
        )
        t0 = time.time()
        snd(batch, b)
        times.append(round(time.time() - t0, 2))
    shutil.rmtree(root, ignore_errors=True)
    head = sum(times[1:4]) / 3  # skip batch 0 (worker warmup)
    tail = sum(times[-3:]) / 3
    return {
        "metric": "stream_neardup_batch_seconds",
        "n_batches": n_batches,
        "batch_docs": batch_docs,
        "horizon_s": horizon_s,
        "per_batch_sec": times,
        "head_mean_sec": round(head, 2),
        "tail_mean_sec": round(tail, 2),
        "tail_over_head": round(tail / head, 3),
    }


def run_documents_dedupe(spark, sf_dir: str) -> tuple[float, int]:
    import __spark_entry__ as e

    df = e._docs_as_blocks(spark, sf_dir).localCheckpoint(eager=True)
    rows_in = df.count()
    t0 = time.time()
    from daft_minhash_dedupe_spark.config import DedupeConfig
    from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline

    res = MinHashDedupePipeline(DedupeConfig()).run(df)
    res["clusters"].write.format("noop").mode("overwrite").save()
    return time.time() - t0, rows_in


def timed_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as e

    out: dict[str, float] = {}
    qs = e.queries()
    for name, fn in qs.items():
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


def run_skew(spark, total_rows: int, hot_frac: float = 0.25, repeats: int = 2) -> dict:
    """Measured evidence for the salted two-phase bucket-min (the engine's
    central skew defense, operators/banding.py): plant ONE hot band bucket
    holding ``hot_frac`` of all rows (boilerplate-text shape) among ~1M
    uniform buckets, then time three strategies at the bench core count:

      naive_min     groupBy(band_key).min(node)      — Catalyst partial agg
      salted_min    salted_bucket_min(buckets, 16)   — the engine's path
      collect_list  groupBy(band_key).collect_list   — the reference's bucket
                    materialization shape (chengmao_minhash_spark.py:464),
                    where the hot bucket lands on one reducer

    Interleaved best-of-N per strategy (ambient-noise estimator)."""
    from pyspark.sql import functions as F

    from daft_minhash_dedupe_spark.operators.banding import salted_bucket_min

    hot = int(total_rows * hot_frac)
    n_keys = 1_000_000
    buckets = (
        spark.range(total_rows)
        .select(
            F.when(F.col("id") < hot, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)) + 1)
            .alias("band_key"),
            F.col("id").alias("node"),
        )
        .localCheckpoint(eager=True)
    )
    n = buckets.count()

    def naive_min():
        buckets.groupBy("band_key").agg(F.min("node").alias("u")).write.format(
            "noop"
        ).mode("overwrite").save()

    def salted_min():
        salted_bucket_min(buckets, num_salts=16).write.format("noop").mode(
            "overwrite"
        ).save()

    def collect_list():
        buckets.groupBy("band_key").agg(
            F.collect_list("node").alias("nodes")
        ).write.format("noop").mode("overwrite").save()

    strategies = {
        "naive_min": naive_min,
        "salted_min": salted_min,
        "collect_list": collect_list,
    }
    times: dict[str, list[float]] = {k: [] for k in strategies}
    for _ in range(max(repeats, 1)):
        for name, fn in strategies.items():
            t0 = time.time()
            fn()
            times[name].append(round(time.time() - t0, 2))
    return {
        "metric": "skew_bucket_agg_seconds",
        "rows": n,
        "hot_bucket_rows": hot,
        "background_buckets": n_keys,
        "cores": CPUS,
        "best": {k: min(v) for k, v in times.items()},
        "all_runs": times,
    }


def cc_stress_edges(spark, n_nodes: int, star_size: int):
    """Star-chained single component: n_nodes/star_size stars (leaf→hub
    edges) whose hubs form one long chain — a ~10^6-node component whose
    hub-chain diameter (~n_nodes/star_size) is the worst shape for
    label-diffusion CC. Star contraction must still converge in O(log
    diameter) rounds or a real 100-TB boilerplate cluster (every page
    sharing one template) would never finish."""
    from pyspark.sql import functions as F

    leaves = (
        spark.range(n_nodes)
        .where(F.col("id") % star_size != 0)
        .select(
            (F.col("id") - F.col("id") % star_size).alias("u"),
            F.col("id").alias("v"),
        )
    )
    n_hubs = n_nodes // star_size
    chain = spark.range(n_hubs - 1).select(
        (F.col("id") * star_size).alias("u"),
        ((F.col("id") + 1) * star_size).alias("v"),
    )
    return leaves.unionByName(chain)


class RoundCounter:
    """Checkpoint wrapper that records the per-phase iteration names the CC
    loop passes it — the observable for max_loops-margin assertions."""

    def __init__(self):
        from daft_minhash_dedupe_spark.operators.components import _local_checkpoint

        self.names: list[str] = []
        self._inner = _local_checkpoint

    def __call__(self, df, name):
        self.names.append(name)
        return self._inner(df, name)

    def rounds(self) -> dict:
        import re

        def max_idx(pat):
            idxs = [int(m.group(1)) for n in self.names if (m := re.match(pat, n))]
            return max(idxs, default=0)

        return {
            "small_star_rounds": max_idx(r"cc_edges_(\d+)$"),
            "large_star_steps": sum(1 for n in self.names if n.startswith("cc_large_")),
            "label_prop_iters": max_idx(r"lp_labels_(\d+)$"),
        }


def run_cc_stress(
    spark, n_nodes: int = 1_000_000, star_size: int = 1000, max_loops: int = 100
) -> dict:
    """End-to-end CC on the star-chained worst case (VERDICT r4 #8): one
    ~n_nodes component, diameter ~n_nodes/star_size. Asserts single-component
    correctness (every rep == global min 0) and reports the per-phase round
    counts against max_loops."""
    from pyspark.sql import functions as F

    from daft_minhash_dedupe_spark.operators.components import connected_components

    edges = cc_stress_edges(spark, n_nodes, star_size).localCheckpoint(eager=True)
    n_edges = edges.count()
    counter = RoundCounter()
    t0 = time.time()
    assigns = connected_components(
        edges, algorithm="two_phase", max_loops=max_loops, checkpoint=counter
    ).localCheckpoint(eager=True)
    sec = time.time() - t0
    stats = assigns.agg(
        F.count("*").alias("n"),
        F.countDistinct("rep").alias("k"),
        F.max("rep").alias("max_rep"),
    ).first()
    rounds = counter.rounds()
    return {
        "metric": "cc_stress_seconds",
        "value": round(sec, 2),
        "unit": "sec",
        "nodes": n_nodes,
        "edges": n_edges,
        "hub_chain_diameter": n_nodes // star_size,
        "assigned_nodes": stats["n"],
        "components": stats["k"],
        "all_reps_are_global_min": stats["max_rep"] == 0,
        "max_loops": max_loops,
        **rounds,
    }


def run_bloom(
    spark,
    n_seen: int = 4_000_000,
    n_batch: int = 1_000_000,
    m: int = 1 << 27,
    k: int = 4,
    recrawl: float = 0.2,
) -> dict:
    """Bloom membership-dedup probe strategies A/B (extras/bloom_dedupe.py):
    the SQL-adjudicable relational bit-table join vs the packed-bitmap
    broadcast probe (m/8 bytes, mapInPandas, zero shuffle). Both probe the
    same batch (``recrawl`` fraction verbatim re-occurrences of history)
    against the same m/k/seed filter and must flag identical hit counts.
    The bitmap arm splits build (one OR-reduce over history, amortized
    across every future batch) from probe (the recurring per-batch cost —
    the number that must stay flat as history grows)."""
    from pyspark.sql import functions as F

    from daft_minhash_dedupe_spark.extras.bloom_dedupe import (
        bloom_bitmap_build,
        flag_bloom_duplicates,
        flag_bloom_duplicates_bitmap,
    )
    from daft_minhash_dedupe_spark.pipeline import prepare_web_pages
    from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus

    seen = (
        prepare_web_pages(bench_corpus(spark, n_seen, seed=7))
        .select(F.xxhash64("block_id").alias("doc_id"), F.col("block_text").alias("text"))
        .localCheckpoint(eager=True)
    )
    fresh = (
        prepare_web_pages(bench_corpus(spark, n_batch, seed=101))
        .select(F.xxhash64("block_id", F.lit(9)).alias("doc_id"), F.col("block_text").alias("text"))
    )
    # recrawl fraction: verbatim texts sampled deterministically from history
    re_n = int(n_batch * recrawl)
    recrawls = seen.orderBy(F.xxhash64("doc_id")).limit(re_n).select(
        (F.col("doc_id") + 1).alias("doc_id"), "text"
    )
    batch = (
        fresh.where(F.pmod(F.xxhash64("doc_id", F.lit(3)), F.lit(100)) >= int(recrawl * 100))
        .unionByName(recrawls)
        .localCheckpoint(eager=True)
    )
    batch_rows = batch.count()

    t0 = time.time()
    rel_flags = flag_bloom_duplicates(seen, batch, m=m, k=k)
    rel_hits = rel_flags.agg(F.sum(F.col("bloom_hit").cast("long"))).first()[0]
    t_rel = time.time() - t0

    t0 = time.time()
    bitmap = bloom_bitmap_build(seen, m=m, k=k)
    t_build = time.time() - t0
    t0 = time.time()
    bit_flags = flag_bloom_duplicates_bitmap(bitmap, batch, m=m, k=k)
    bit_hits = bit_flags.agg(F.sum(F.col("bloom_hit").cast("long"))).first()[0]
    t_probe = time.time() - t0

    probe_after_timing = host_probe()  # before the untimed parity recompute

    # per-ROW parity (untimed; re-executes both probe pipelines once):
    # equal counts could hide offsetting disagreements — pin that no row's
    # flag differs between the paths. Join on (doc_id, text) so batch rows
    # sharing an id but differing in text can't cross-pair, and check the
    # joined row count so a path silently losing rows can't fake parity.
    parity = (
        rel_flags.select("doc_id", "text", F.col("bloom_hit").alias("_rel"))
        .join(
            bit_flags.select("doc_id", "text", F.col("bloom_hit").alias("_bit")),
            ["doc_id", "text"],
        )
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("_rel") != F.col("_bit")).cast("long")).alias("mm"),
        )
        .first()
    )
    flag_mismatches = parity["mm"] or 0
    parity_rows = parity["n"]

    return {
        "metric": "bloom_probe_seconds",
        "value": round(t_probe, 2),
        "unit": "sec",
        "n_seen": n_seen,
        "batch_rows": batch_rows,
        "m_bits": m,
        "k": k,
        "bitmap_bytes": len(bitmap),
        "relational_probe_sec": round(t_rel, 2),
        "bitmap_build_sec": round(t_build, 2),
        "bitmap_probe_sec": round(t_probe, 2),
        "relational_hits": rel_hits,
        "bitmap_hits": bit_hits,
        "hits_identical": rel_hits == bit_hits,
        "flag_mismatches": flag_mismatches,
        "parity_rows_joined": parity_rows,
        "parity_covers_batch": parity_rows == batch_rows,
        "probe_end": probe_after_timing,
        "bitmap_probe_docs_per_sec": round(batch_rows / t_probe, 1),
        "relational_probe_docs_per_sec": round(batch_rows / t_rel, 1),
    }


def run_recall(spark, n_docs: int = 5000, seed: int = 11) -> dict:
    """Dup-pair recall vs planted ground truth + near-miss precision +
    cluster parity vs the pure-Python oracle (BASELINE.md criteria)."""
    from daft_minhash_dedupe_spark import oracle
    from daft_minhash_dedupe_spark.config import DedupeConfig
    from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline, prepare_web_pages
    from daft_minhash_dedupe_spark.sources.synthetic import generate_web_pages

    df, truth = generate_web_pages(spark, n_rows=n_docs, seed=seed)
    cfg = DedupeConfig(
        index_col="block_id",
        content_col="block_text",
        verify_pairs=True,
    )
    res = MinHashDedupePipeline(cfg).run(prepare_web_pages(df))
    comp = {
        r["block_id"]: r["component"]
        for r in res["clusters"].select("block_id", "component").collect()
    }
    dup = truth["dup_pairs"]
    found = sum(1 for a, b in dup if comp[a] == comp[b])
    near_wrong = sum(1 for a, b in truth["near_miss_pairs"] if comp[a] == comp[b])
    out = {
        "docs": n_docs,
        "planted_dup_pairs": len(dup),
        "dup_pair_recall": round(found / len(dup), 5) if dup else 1.0,
        "near_miss_pairs_merged": near_wrong,
    }
    # oracle parity: same clusters as the independent python reimplementation
    assigns = {r["u"]: r["rep"] for r in res["assignments"].collect()}
    id_of = {r["block_id"]: r["node_id"] for r in res["id_map"].collect()}
    docs = {id_of[r["block_id"]]: r["block_text"] for r in prepare_web_pages(df).collect()}
    want = oracle.minhash_lsh_clusters(docs, cfg.num_perm, cfg.ngram_size, cfg.seed, cfg.B, cfg.R)
    # note: verify_pairs prunes LSH false positives, so parity here means the
    # spark partition must REFINE the oracle's (every spark cluster ⊆ oracle cluster)
    spark_parts = oracle.partition_sets(assigns)
    want_parts = oracle.partition_sets(want)
    node2want = {n: rep for n, rep in want.items()}
    refines = all(
        len({node2want.get(m, m) for m in part}) == 1 for part in spark_parts
    )
    out["spark_partition_refines_oracle"] = bool(refines)
    out["oracle_parity_exact"] = spark_parts == want_parts
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true", help="run local[N] vs local[4N] scaling study")
    ap.add_argument("--recall", action="store_true", help="recall/precision vs planted ground truth")
    ap.add_argument(
        "--tiered",
        action="store_true",
        help="A/B the tiered cascade (exact+minhash) vs the flagship alone",
    )
    ap.add_argument(
        "--skew",
        action="store_true",
        help="salted vs naive bucket aggregation on a planted hot band "
        "(--docs = total band rows; one bucket holds 25%% of them)",
    )
    ap.add_argument(
        "--exactsubstr",
        action="store_true",
        help="exact-substring span-removal throughput on the flagship corpus",
    )
    ap.add_argument(
        "--cc-stress",
        action="store_true",
        help="connected-components on a star-chained single ~1M-node "
        "component (--docs = node count): correctness + round counts "
        "vs max_loops + wall",
    )
    ap.add_argument(
        "--bloom",
        action="store_true",
        help="Bloom membership dedup probe A/B: relational bit-table join "
        "vs broadcast packed-bitmap mapInPandas probe (--docs = history "
        "size; batch = docs/4 with 20%% verbatim recrawls)",
    )
    ap.add_argument(
        "--bloom-batch",
        type=int,
        default=None,
        help="--bloom: pin the probe batch size (default docs/4) — fix it "
        "across --docs values to measure probe-cost flatness in history size",
    )
    ap.add_argument(
        "--stream-neardup",
        action="store_true",
        help="streaming near-dup suppression: per-micro-batch cost flatness "
        "as persisted state accumulates (O(batch) evidence)",
    )
    ap.add_argument(
        "--docs",
        type=int,
        default=None,
        help="corpus size (default 20000; --cc-stress defaults to 1000000)",
    )
    ap.add_argument("--skip-queries", action="store_true")
    ap.add_argument(
        "--flagship-only",
        action="store_true",
        help="one flagship dedup run at --docs, nothing else (headline points)",
    )
    ap.add_argument("--min-tokens", type=int, default=80)
    ap.add_argument("--max-tokens", type=int, default=400)
    ap.add_argument(
        "--window-tokens",
        type=int,
        default=20,
        help="--exactsubstr only: duplicated-run window length k",
    )
    ap.add_argument(
        "--dup-rate",
        type=float,
        default=0.0,
        help="corpus generator: fraction of unique-pool rows converted to "
        "verbatim re-crawls (additive on the ~8%% built-in mass) — the "
        "CC re-crawl economics knob for --tiered/--flagship-only/--scaling",
    )
    ap.add_argument(
        "--repeats",
        type=int,
        default=1,
        help="--scaling/--flagship-only/--tiered: run N times and report "
        "the best (min wall) per level/arm — suppresses ambient host "
        "noise, which on this sandbox drifts ~10-15%% over a session",
    )
    ap.add_argument(
        "--flagship-repeats",
        type=int,
        default=2,
        help="default sweep: best-of-N for the two flagship timings "
        "(the rest of the sweep runs once)",
    )
    args = ap.parse_args()
    docs_explicit = args.docs is not None or "BENCH_DOCS" in os.environ
    if args.docs is None:
        args.docs = int(os.environ.get("BENCH_DOCS", "20000"))

    if args.flagship_only:
        probe_start = host_probe()
        runs = []
        for _ in range(max(args.repeats, 1)):
            spark = _fresh_spark(CPUS)
            sec, rows = run_flagship(
                spark,
                args.docs,
                min_tokens=args.min_tokens,
                max_tokens=args.max_tokens,
                dup_rate=args.dup_rate,
            )
            runs.append(round(sec, 2))
            spark.stop()
        sec = min(runs)
        print(
            json.dumps(
                {
                    "metric": "flagship_dedup_seconds",
                    "value": sec,
                    "unit": "sec",
                    "rows": rows,
                    "docs_per_sec": round(rows / sec, 1),
                    "min_tokens": args.min_tokens,
                    "max_tokens": args.max_tokens,
                    "dup_rate": args.dup_rate,
                    "cores": CPUS,
                    "all_runs": runs,
                    "probe_start": probe_start,
                    "probe_end": host_probe(),
                }
            )
        )
        return

    if args.recall:
        spark = _fresh_spark(CPUS)
        print(json.dumps(run_recall(spark, min(args.docs, 5000))))
        spark.stop()
        return

    if args.tiered:
        # interleaved flagship/tiered pairs in ONE session — the ambient-noise
        # estimator for an A/B on this host (best-of-N per arm)
        tiered_probe_start = host_probe()
        runs = {"flagship": [], "tiered": []}
        for _ in range(max(args.repeats, 1)):
            # fresh session per ARM: sharing one session hands the second arm
            # warm Python workers + page cache (measured 2.2x flattering)
            for arm, fn in (("flagship", run_flagship), ("tiered", run_tiered)):
                spark = _fresh_spark(CPUS)
                sec, rows = fn(
                    spark,
                    args.docs,
                    min_tokens=args.min_tokens,
                    max_tokens=args.max_tokens,
                    dup_rate=args.dup_rate,
                )
                runs[arm].append(round(sec, 2))
                spark.stop()
        best_f, best_t = min(runs["flagship"]), min(runs["tiered"])
        print(
            json.dumps(
                {
                    "metric": "tiered_vs_flagship_seconds",
                    "rows": rows,
                    "dup_rate": args.dup_rate,
                    "flagship_best": best_f,
                    "tiered_best": best_t,
                    "tiered_over_flagship": round(best_t / best_f, 3),
                    "all_runs": runs,
                    "probe_start": tiered_probe_start,
                    "probe_end": host_probe(),
                }
            )
        )
        return

    if args.skew:
        spark = _fresh_spark(CPUS)
        print(json.dumps(run_skew(spark, args.docs, repeats=max(args.repeats, 2))))
        spark.stop()
        return

    if args.cc_stress:
        spark = _fresh_spark(CPUS)
        n = args.docs if docs_explicit else 1_000_000
        print(json.dumps(run_cc_stress(spark, n_nodes=n)))
        spark.stop()
        return

    if args.bloom:
        if args.bloom_batch is not None and args.bloom_batch <= 0:
            raise SystemExit(f"--bloom-batch must be positive, got {args.bloom_batch}")
        spark = _fresh_spark(CPUS)
        n = args.docs if docs_explicit else 4_000_000
        n_batch = args.bloom_batch if args.bloom_batch is not None else max(n // 4, 1000)
        out = run_bloom(spark, n_seen=n, n_batch=n_batch)
        print(json.dumps(out))
        spark.stop()
        return

    if args.stream_neardup:
        spark = _fresh_spark(CPUS)
        print(json.dumps(run_stream_neardup(spark)))
        spark.stop()
        return

    if args.exactsubstr:
        spark = _fresh_spark(CPUS)
        print(
            json.dumps(
                run_exactsubstr(
                    spark,
                    args.docs,
                    min_tokens=args.min_tokens,
                    max_tokens=args.max_tokens,
                    window_tokens=args.window_tokens,
                )
            )
        )
        spark.stop()
        return

    if args.scaling:
        report = {
            "input_docs": args.docs,
            "min_tokens": args.min_tokens,
            "max_tokens": args.max_tokens,
            "dup_rate": args.dup_rate,
            "probe_start": host_probe(),
            "runs": {},
        }
        lo, hi = max(CPUS // 4, 1), CPUS
        # interleave hi/lo (hi first) so monotonic ambient drift penalizes
        # neither side systematically; best-of-N per level is the estimator
        order = [hi, lo] * max(args.repeats, 1)
        all_runs: dict[int, list[dict]] = {lo: [], hi: []}
        for n in order:
            spark = _fresh_spark(n)
            sec, rows = run_flagship(
                spark,
                args.docs,
                min_tokens=args.min_tokens,
                max_tokens=args.max_tokens,
                dup_rate=args.dup_rate,
            )
            all_runs[n].append(
                {
                    "sec": round(sec, 2),
                    "docs_per_sec": round(rows / sec, 1),
                    "rows": rows,
                    # per-run probe: a mid-sequence host collapse (observed
                    # 4x identical-run spread inside one --scaling call) is
                    # attributable run-by-run inside the artifact itself
                    "probe": host_probe(),
                }
            )
            spark.stop()
        for n in (lo, hi):
            report["runs"][f"local[{n}]"] = min(all_runs[n], key=lambda r: r["sec"])
        if args.repeats > 1:
            report["all_runs"] = {f"local[{n}]": rs for n, rs in all_runs.items()}
        tl = report["runs"][f"local[{lo}]"]["docs_per_sec"]
        th = report["runs"][f"local[{hi}]"]["docs_per_sec"]
        report["scaling_efficiency"] = round(th / (tl * (hi / lo)), 3)
        report["speedup"] = round(th / tl, 2)
        report["probe_end"] = host_probe()
        print(json.dumps(report))
        return

    probe_start = host_probe()
    spark = _fresh_spark(CPUS)
    # best-of-N on the two flagship timings (memo-busting: each repeat is a
    # fresh pipeline object; the corpus localCheckpoint is rebuilt per call)
    # — one retry defends the headline numbers against a transient co-tenant
    # burst without rerunning the whole sweep
    reps = max(args.flagship_repeats, 1)
    doc_runs, syn_runs = [], []
    for _ in range(reps):
        sec, rows = run_documents_dedupe(spark, SF_DIR)
        doc_runs.append(sec)
        syn_sec, syn_rows = run_flagship(spark, args.docs)
        syn_runs.append(syn_sec)
    sec, syn_sec = min(doc_runs), min(syn_runs)
    queries = {
        "flagship_documents_dedupe": round(sec, 3),
        "flagship_synthetic_20k": round(syn_sec, 3),
    }
    if not args.skip_queries:
        queries.update(timed_queries(spark, SF_DIR))
    total = sum(queries.values())
    result = {
        "metric": "dedup_e2e_seconds",
        "value": round(sec, 3),
        "unit": "sec",
        "queries": queries,
        "sf": SF_DIR,
        "docs_per_sec_documents": round(rows / sec, 1),
        "docs_per_sec_synthetic": round(syn_rows / syn_sec, 1),
        "total_sec": round(total, 3),
        "flagship_all_runs": {
            "documents": [round(s, 3) for s in doc_runs],
            "synthetic": [round(s, 3) for s in syn_runs],
        },
        "probe_start": probe_start,
        "probe_end": host_probe(),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
