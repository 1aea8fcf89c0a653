"""The benchmark's workloads: generated inputs, the timed operations, and the
per-operation correctness checks and layer counts.

Import only after ``run.py`` has pinned the environment: importing pyspark
and the program reads it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
from daft_minhash_dedupe_spark.config import DedupeConfig
from daft_minhash_dedupe_spark.functions.minhash import add_shingles
from daft_minhash_dedupe_spark.functions.normalize import _PUNCT_CLASS
from daft_minhash_dedupe_spark.io import StageCheckpointer, partitioned_save, write_table
from daft_minhash_dedupe_spark.operators import incremental as incremental_mod
from daft_minhash_dedupe_spark.operators.state import IncrementalState, meta_from_config
from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline, prepare_web_pages
from daft_minhash_dedupe_spark.sources.synthetic_spark import bench_corpus
from proc import tree_cpu_s
from spans import StatusStore, Tracer, layer_totals

# Sizes are set by the run budget, not by the program. On a 4-core host a
# process pays ~30 s of JVM launch and warm-up before its first timed
# operation, and one pipeline operation costs ~60-100 Spark jobs (~8 s)
# before any per-document work. A run affords one operation, sized so that
# a whole run takes about a minute.
PAGES = {"n_rows": 3000, "min_tokens": 80, "max_tokens": 400, "dup_rate": 0.0}
PAGES_WARM_ROWS = 300
FOLD = {
    "base_rows": 1500,
    "batch_rows": 1500,
    # more batches than a run folds on a 4-core host; the timed loop stops
    # cleanly when they run out
    "batches": 8,
    "min_tokens": 5,
    "max_tokens": 40,
    "dup_rate": 0.25,
    "hot_size": 1000,
}

STAGE_LAYER = {
    "prepped": "prep",
    "normalized": "normalize",
    "signatures": "minhash",
    "bands": "banding",
    "pairs": "edges",
    "components": "components",
}
CC_CHECKPOINTS = ("lp_labels_", "cc_")


@dataclass
class OpResult:
    wall_s: float
    docs: int
    traced: bool
    # CPU seconds of the driver JVM and Python workers over the same span
    cpu_s: float = float("nan")
    problems: list[str] = field(default_factory=list)
    error: str | None = None
    layers: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)
    # (survivors, assignment digest) of a full pipeline run, when the
    # operation is one
    result: tuple | None = None

    @property
    def failed(self) -> bool:
        return bool(self.error or self.problems)


class BoundaryCheckpointer(StageCheckpointer):
    """The pipeline's own checkpointer, plus: stage outputs kept for the
    checks, CC iteration checkpoints counted, and (when tracing) a layer
    span closed at every ``stage()`` return.

    With a checkpoint root and tracing on, the stage's plan is materialized
    before the parquet write so that the ``io`` span times the write alone;
    the extra copy is part of the reported tracing overhead."""

    def __init__(self, spark, root: str | None, tracer: Tracer | None = None):
        super().__init__(spark, root=root)
        self.tracer = tracer
        self.outputs: dict = {}
        self.cc_checkpoints = 0

    def stage(self, name, df):
        if self.tracer is not None and self.root is not None:
            df = df.localCheckpoint(eager=True)
            with self.tracer.span("io"):
                out = super().stage(name, df)
        else:
            out = super().stage(name, df)
        self.outputs[name] = out
        if self.tracer is not None:
            self.tracer.boundary(STAGE_LAYER[name])
        return out

    def iter_checkpoint(self, df, name):
        if name.startswith(CC_CHECKPOINTS):
            self.cc_checkpoints += 1
        return super().iter_checkpoint(df, name)

    def flush_metrics_table(self, target=None):
        with self.tracer.span("io") if self.tracer and self.root else nullcontext():
            super().flush_metrics_table(target)


def dir_bytes(path: Path) -> tuple[int, int]:
    """(bytes, data files) under a directory tree."""
    total = files = 0
    for p in Path(path).rglob("*"):
        if p.is_file():
            total += p.stat().st_size
            files += not p.name.startswith((".", "_"))
    return total, files


def read_columns(path, columns) -> dict:
    # Spark's partitioned_save names partition dirs "__pid__=N", which
    # pyarrow's default "_" ignore prefix would skip
    table = pq.read_table(str(path), columns=list(columns), ignore_prefixes=[".", "_SUCCESS"])
    return {c: table.column(c).to_pylist() for c in columns}


def python_rows(prepped, content_col: str) -> int:
    """Rows normalize_dataframe routes to the NFD pandas UDF: the ones that
    are not ASCII after punctuation removal (its own split predicate)."""
    pre = F.regexp_replace(F.col(content_col), _PUNCT_CLASS, "")
    return prepped.where(~pre.rlike(r"^[\x00-\x7F]*$")).count()


def band_counts(bands) -> dict:
    row = (
        bands.groupBy("band_key")
        .count()
        .agg(F.sum("count").alias("rows"), F.count("*").alias("buckets"), F.max("count").alias("mx"))
        .first()
    )
    return {
        "banding.band_rows": row["rows"] or 0,
        "banding.buckets": row["buckets"] or 0,
        "banding.max_bucket": row["mx"] or 0,
    }


def checked_run(c: DedupeConfig, df):
    """A pipeline run without a checkpoint root over a small corpus, read
    back and checked: ((survivors, digest), problems, the run's result)."""
    text_of = {r["url"]: r["text"] for r in df.select("url", "text").collect()}
    res = MinHashDedupePipeline(c).run(prepare_web_pages(df))
    clusters = res["clusters"].select(c.index_col, c.component_col).collect()
    ids, comps = [r[0] for r in clusters], [r[1] for r in clusters]
    survivors = [r[0] for r in res["results"].select(c.index_col).collect()]
    problems = checks.cluster_table_problems(text_of, ids)
    problems += checks.survivor_problems(survivors, comps)
    problems += checks.identical_text_problems([text_of.get(b) for b in ids], comps)
    result = (len(survivors), checks.assignment_digest(ids, comps))
    return result, problems, res


class Workload:
    """Shared run loop: warm-up, timed operations, per-op checks."""

    name = ""
    max_ops = 1000

    def __init__(self, spark, work: Path, seed: int, expected: dict | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.expected = expected
        self.cfg = DedupeConfig()
        self.store: StatusStore | None = None

    def run_op(self, i: int, traced: bool) -> OpResult:
        tracer = Tracer() if traced else None
        if traced and self.store is None:
            self.store = StatusStore(self.spark)
        elif traced:
            self.store.read()  # drop stages of earlier untraced work
        try:
            res = self.op(i, tracer)
        except Exception:  # an operation that raises is a failed operation
            traceback.print_exc(file=sys.stderr)
            return OpResult(wall_s=float("nan"), docs=0, traced=traced, error="raised")
        if traced:
            stages, jobs = self.store.read()
            res.layers = layer_totals(tracer.spans, stages, jobs)
            res.spans = [s.as_dict() for s in tracer.spans]
        if res.problems:
            print(f"[perfbench] op {i} failed checks: {res.problems}", file=sys.stderr)
        return res

    def check_expected(self, survivors: int, digest: str) -> list[str]:
        """For the default seed, the run's result equals the recorded one."""
        if self.expected is None:
            return []
        want = (self.expected["survivors"], self.expected["digest"])
        if (survivors, digest) != want:
            return [f"default-seed result {(survivors, digest)} != recorded {want}"]
        return []

    def final_check(self) -> list[str] | None:
        """Problems found over the whole run; None: the workload has no such
        check."""
        return None


class PagesFull(Workload):
    """Full pipeline over full-length pages with a StageCheckpointer root,
    the ``main.py --checkpoint`` production path."""

    name = "pages_full"

    def corpus_kwargs(self) -> dict:
        return {**PAGES, "seed": self.seed}

    def warm_up(self) -> list[str]:
        """One untimed pipeline run, without a checkpoint root, straight over
        a small generated corpus: the first run in a process pays plan
        compilation and JIT warm-up, not document work. Returns the run's
        check problems."""
        df = bench_corpus(self.spark, **{**self.corpus_kwargs(), "n_rows": PAGES_WARM_ROWS})
        self.warm_result, problems, _ = checked_run(self.cfg, df)
        return problems

    def prepare(self) -> None:
        self.corpus = self.work / "corpus"
        bench_corpus(self.spark, **self.corpus_kwargs()).write.parquet(str(self.corpus))
        cols = read_columns(self.corpus, ["url", "text"])
        self.text_of = dict(zip(cols["url"], cols["text"]))
        self.text_bytes = sum(len(t.encode()) for t in cols["text"])

    def op(self, i: int, tracer: Tracer | None) -> OpResult:
        c, text_of = self.cfg, self.text_of
        root, sink = self.work / f"ckpt-{i}", self.work / f"sink-{i}"
        ck = BoundaryCheckpointer(self.spark, root=str(root), tracer=tracer)
        t0, cpu0 = time.perf_counter(), tree_cpu_s(os.getpid())
        with tracer.span("op") if tracer else nullcontext():
            df = prepare_web_pages(self.spark.read.parquet(str(self.corpus)))
            res = MinHashDedupePipeline(c).run(df, checkpointer=ck)
            partitioned_save(res["results"], f"{sink}/survivors")
            write_table(res["clusters"], f"{sink}/clusters")
            if tracer:
                tracer.boundary("merge")
        wall, cpu = time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0
        out = OpResult(wall_s=wall, docs=len(text_of), traced=tracer is not None, cpu_s=cpu)

        clusters = read_columns(f"{sink}/clusters", [c.index_col, c.component_col])
        ids, comps = clusters[c.index_col], clusters[c.component_col]
        survivors = read_columns(f"{sink}/survivors", [c.index_col])[c.index_col]
        out.problems += checks.cluster_table_problems(text_of, ids)
        out.problems += checks.survivor_problems(survivors, comps)
        out.problems += checks.identical_text_problems([text_of.get(b) for b in ids], comps)
        out.result = (len(survivors), checks.assignment_digest(ids, comps))
        out.problems += self.check_expected(*out.result)
        if tracer:
            out.counts = self.layer_counts(res, ck, root, len(survivors))
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(sink, ignore_errors=True)
        return out

    def layer_counts(self, res, ck, root, n_survivors) -> dict:
        c = self.cfg
        written, _ = dir_bytes(root)
        shingles = res["shingled"].agg(F.sum(F.size("shingles"))).first()[0] or 0
        return {
            "normalize.python_rows": python_rows(res["prepped"], c.content_col),
            "minhash.shingles": shingles,
            **band_counts(res["bands"]),
            "edges.candidates": ck.outputs["pairs"].count(),
            "components.iterations": ck.cc_checkpoints,
            "components.driver_fallback": int(ck.cc_checkpoints == 0),
            "components.clusters": ck.outputs["components"].select("rep").distinct().count(),
            "merge.survivors": n_survivors,
            "io.bytes_written": written,
            "io.write_amp": written / self.text_bytes,
        }


class IncrementalFold(Workload):
    """Fold successive short-block batches into append-only incremental
    state, the way ``main.py run_incremental`` does."""

    name = "incremental_fold"
    max_ops = FOLD["batches"]

    def corpus_kwargs(self) -> dict:
        f = FOLD
        return {
            "n_rows": f["base_rows"] + f["batches"] * f["batch_rows"],
            "seed": self.seed,
            "hot_size": f["hot_size"],
            "min_tokens": f["min_tokens"],
            "max_tokens": f["max_tokens"],
            "dup_rate": f["dup_rate"],
        }

    def generated(self):
        """The whole corpus, generated, with its part: 0 is the base, k the
        k-th batch."""
        f = FOLD
        row = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("long")
        part = F.when(row < f["base_rows"], 0).otherwise(
            ((row - f["base_rows"]) / f["batch_rows"]).cast("int") + 1
        )
        return bench_corpus(self.spark, **self.corpus_kwargs()).withColumn("part", part)

    def warm_up(self) -> list[str]:
        """Bootstrap the state from a full run straight over the generated
        base corpus (untimed); that run is the warm-up pass for the shared
        pipeline layers. Returns the run's check problems."""
        c = self.cfg
        self.state = IncrementalState(self.spark, str(self.work / "state"))
        self.folded: list[int] = []
        base = self.generated().where("part = 0").drop("part")
        self.warm_result, problems, res = checked_run(c, base)
        problems += self.check_expected(*self.warm_result)
        self.state.bootstrap(res["bands"], res["assignments"], meta_from_config(c))
        return problems

    def prepare(self) -> None:
        self.corpus = self.work / "corpus"
        self.generated().where("part > 0").write.partitionBy("part").parquet(str(self.corpus))

    def part_path(self, part: int) -> str:
        return str(self.corpus / f"part={part}")

    def op(self, i: int, tracer: Tracer | None) -> OpResult:
        batch = i  # part 0 is the base corpus
        c, spark, state = self.cfg, self.spark, self.state
        pipe = MinHashDedupePipeline(c)
        edges_dir, out_dir = self.work / f"fold-edges-{batch}", self.work / f"fold-out-{batch}"
        bound = tracer.boundary if tracer else (lambda _name: None)
        cc = {"calls": [], "checkpoints": 0}
        real_cc = incremental_mod.connected_components

        def traced_cc(edges, **kw):
            def counting(df, name):
                cc["checkpoints"] += name.startswith(CC_CHECKPOINTS)
                return df.localCheckpoint(eager=False)

            with tracer.span("components"):
                out = real_cc(edges, checkpoint=counting, **kw)
            cc["calls"].append(out)
            return out

        if tracer:
            incremental_mod.connected_components = traced_cc
        t0, cpu0 = time.time(), tree_cpu_s(os.getpid())
        t_read = t_append = 0.0
        try:
            with tracer.span("op") if tracer else nullcontext():
                prior_bands = state.read_bands()
                prior_assigns = state.read_assignments()
                t_read = time.time() - t0
                bound("state")
                df = prepare_web_pages(spark.read.parquet(self.part_path(batch)))
                prepped = pipe.prep(df).localCheckpoint(eager=tracer is not None)
                bound("prep")
                new_bands = pipe.bands(pipe.signatures(pipe.normalize(prepped))).localCheckpoint(
                    eager=tracer is not None
                )
                bound("minhash")
                new_assign, old_updates = incremental_mod.incremental_assignments(
                    new_bands.select("band_key", "node"),
                    prior_bands,
                    prior_assigns,
                    algorithm=c.algorithm,
                    edges_checkpoint_dir=str(edges_dir),
                )
                delta = new_assign.unionByName(old_updates).localCheckpoint(eager=True)
                clusters_new = (
                    prepped.select(c.index_col, "node_id")
                    .join(new_assign.withColumnRenamed("u", "node_id"), "node_id", "left")
                    .select(c.index_col, F.coalesce("rep", "node_id").alias(c.component_col))
                )
                write_table(clusters_new, str(out_dir / "clusters"))
                bound("incremental")
                t1 = time.time()
                batch_id = state.append(new_bands.select("band_key", "node"), delta)
                t_append = time.time() - t1
                bound("state")
        finally:
            incremental_mod.connected_components = real_cc
        wall, cpu = time.time() - t0, tree_cpu_s(os.getpid()) - cpu0
        self.folded.append(batch)

        batch_cols = read_columns(self.part_path(batch), ["url", "text"])
        text_of = dict(zip(batch_cols["url"], batch_cols["text"]))
        out = OpResult(wall_s=wall, docs=len(text_of), traced=tracer is not None, cpu_s=cpu)
        clusters = read_columns(out_dir / "clusters", [c.index_col, c.component_col])
        ids, comps = clusters[c.index_col], clusters[c.component_col]
        out.problems += checks.cluster_table_problems(text_of, ids)
        out.problems += checks.identical_text_problems([text_of.get(b) for b in ids], comps)
        out.problems += self.cc_problems(edges_dir, delta)
        if tracer:
            out.counts = self.layer_counts(
                prepped, new_bands, edges_dir, old_updates, cc, batch_id, t_read, t_append
            )
        shutil.rmtree(out_dir, ignore_errors=True)
        return out

    @staticmethod
    def cc_problems(edges_dir: Path, delta) -> list[str]:
        """The batch's distributed CC labels every node of its own candidate
        edges with the component minimum a driver union-find gives: the new
        nodes in ``new_assign``, the absorbed old representatives in
        ``old_updates``."""
        edges = read_columns(edges_dir / "incremental_edges", ["u", "v"])
        want = checks.union_find(zip(edges["u"], edges["v"]))
        got: dict[int, set] = {}
        for r in delta.collect():
            got.setdefault(r["u"], set()).add(r["rep"])
        multi = sum(len(v) > 1 for v in got.values())
        missing = len(want.keys() - got.keys())
        out = [f"{multi} nodes carry several labels"] if multi else []
        out += [f"{missing} edge nodes have no label"] if missing else []
        labels = {u: min(v) for u, v in got.items() if u in want}
        return out + checks.partition_problems(labels, want, "a union-find over the batch's edges")

    def layer_counts(self, prepped, new_bands, edges_dir, old_updates, cc, batch_id, t_read, t_append) -> dict:
        pipe = MinHashDedupePipeline(self.cfg)
        norm = pipe.normalize(prepped)
        shingles = (
            add_shingles(norm, "content_normalized", self.cfg.ngram_size, "sh")
            .agg(F.sum(F.size("sh")))
            .first()[0]
            or 0
        )
        edge_rows = sum(
            pq.ParquetFile(str(p)).metadata.num_rows
            for p in (edges_dir / "incremental_edges").glob("*.parquet")
        )
        root = Path(self.state.root)
        batch_bytes = sum(
            dir_bytes(root / sub / f"batch_id={batch_id}")[0] for sub in ("bands", "components")
        )
        return {
            "normalize.python_rows": python_rows(prepped, self.cfg.content_col),
            "minhash.shingles": shingles,
            **band_counts(new_bands),
            "components.iterations": cc["checkpoints"],
            "components.driver_fallback": 0,
            "components.clusters": sum(
                o.select("rep").distinct().count() for o in cc["calls"]
            ),
            "incremental.edges": edge_rows,
            "incremental.relabels": old_updates.count(),
            "state.read_s": t_read,
            "state.append_s": t_append,
            "state.bytes_per_batch": batch_bytes,
            "state.files": dir_bytes(root)[1],
        }

    def final_check(self) -> list[str]:
        """The folded state labels every node as a full run over the base and
        every folded batch would. A full run's components are those of
        band-bucket co-membership (star edges within each bucket, no
        verification by default), so the reference is a driver union-find
        over the state's band table; a second full pipeline run would cost
        more than the run budget allows."""
        members: dict[int, int] = {}
        edges = []
        for r in self.state.read_bands().collect():
            first = members.setdefault(r["band_key"], r["node"])
            edges.append((first, r["node"]))
        want = checks.union_find(edges)
        folded = {r["u"]: r["rep"] for r in self.state.read_assignments().collect()}
        return checks.partition_problems(folded, want, "a full run over the union")


WORKLOADS = {w.name: w for w in (PagesFull, IncrementalFold)}
