"""MinHashDedupePipeline — the flagship end-to-end pipeline.

Spark-first rebuild of the reference ``MinHashDedupePipeline``
(workload/minhash_dedupe.py:131-647). Stage DAG (each stage boundary is a
resumable parquet/Iceberg checkpoint with per-partition metrics):

    input (url, warc_ts, html, text, lang)  [input_hint table]
      → prep (select natural key + text; deterministic node_id = xxhash64)
      → normalize (Catalyst; NFD through ICU4J in the JVM, no Python)
      → signatures (JVM shingle hashing + numpy permutation kernel)   [ckpt]
      → bands (posexplode banded slices → 8-byte band_key)            [ckpt]
      → pairs (salted bucket-min star edges; optional exact-Jaccard
               verification)                                          [ckpt]
      → components (hash-to-min CC with star accelerators)            [ckpt]
      → merge (keep-rule) + cluster assignment write-back

Keep-rule, representative and edge semantics are bit-for-bit the reference's
(SURVEY §2 "semantics worth pinning" 1-5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.config import DedupeConfig
from daft_minhash_dedupe_spark.functions.hashing import doc_id_from_url
from daft_minhash_dedupe_spark.functions.minhash import (
    add_shingles,
    minhash_signature,
)
from daft_minhash_dedupe_spark.functions.normalize import normalize_text
from daft_minhash_dedupe_spark.io import StageCheckpointer, write_table
from daft_minhash_dedupe_spark.operators.banding import lsh_band_buckets
from daft_minhash_dedupe_spark.operators.components import (
    CC_DRIVER_FALLBACK_EDGES,
    connected_components,
)
from daft_minhash_dedupe_spark.operators.edges import (
    build_edges_from_buckets,
    build_pair_edges_from_buckets,
)
from daft_minhash_dedupe_spark.operators.incremental import incremental_assignments
from daft_minhash_dedupe_spark.operators.merge import cluster_table, survivors
from daft_minhash_dedupe_spark.operators.state import IncrementalState
from daft_minhash_dedupe_spark.operators.verify import verify_pairs_exact_jaccard


def prepare_web_pages(
    df: DataFrame, index_col: str = "block_id", content_col: str = "block_text"
) -> DataFrame:
    """Adapt the input_hint web-pages table (url, warc_ts, html, text, lang)
    to the pipeline's (index_col, content_col) contract.

    Replaces the reference's WARC preprocessing (workload/minhash_dedupe.py:50-76)
    — extraction already happened upstream (byte-identical text per url), so
    this is a pure projection plus latest-crawl-per-url selection (window max,
    a new convenience the reference lacks)."""
    # xxhash64(text) tiebreak → deterministic pick when a url was crawled
    # twice at the same timestamp (row_number over ts alone would be
    # partition-order dependent)
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.xxhash64("text").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("url").alias(index_col), F.col("text").alias(content_col))
    )


def _python_stage_parallelism(
    n_rows: int, default_par: int, rows_per_task: int = 200_000
) -> int:
    """Partition count for the CPU-heavy narrow text stages: normalize (JVM
    regex and ICU NFD) and the shingle + MinHash stage, whose kernel is the
    pipeline's one Python UDF (one Python task per partition).

    Three regimes:
    - tiny inputs clamp DOWN to ceil(rows/1000): fanning 500 docs over 32+
      partitions spawns a Python worker per core for milliseconds of work
      each (measured 2.6s of a 9s cold flagship run);
    - the middle band pins to the cluster's core count (``default_par``) —
      byte-based AQE/split sizing is wrong here (150MB of text is 3 input
      splits but hours of per-core work);
    - big inputs scale UP to ceil(rows/rows_per_task): capping at core count
      put 625k docs in ONE Python task at 2x10^7 docs on 32 cores — a
      15-minute task whose single worker crash (host OOM-kill, throttled
      node) forfeits the whole task on retry, and at real cluster scale a
      100-TB input needs thousands of tasks, not #cores. 200k/task keeps the
      proven headline-shape task size (5x10^6/32 = 156k).
    """
    par = max(default_par, -(-n_rows // rows_per_task))
    return max(1, min(par, -(-n_rows // 1000)))


class MinHashDedupePipeline:
    """End-to-end near-duplicate dedup (reference parity + scale hardening)."""

    def __init__(self, config: DedupeConfig | None = None, **overrides):
        if config is None:
            config = DedupeConfig(**overrides)
        self.cfg = config

    # -- stages ------------------------------------------------------------

    def prep(self, df: DataFrame) -> DataFrame:
        """Projection + deterministic integer node id (reference :189-194 and
        :241-246; monotonically_increasing_id regret fixed per
        FRICTION_LOG.md:88-91)."""
        c = self.cfg
        return df.select(
            c.index_col,
            c.content_col,
            doc_id_from_url(F.col(c.index_col)).alias("node_id"),
        )

    def normalize(self, df: DataFrame) -> DataFrame:
        c = self.cfg
        return df.withColumn(
            "content_normalized",
            normalize_text(
                F.col(c.content_col),
                remove_punct=c.remove_punct,
                lowercase=c.lowercase,
                nfd_unicode=c.nfd_unicode,
                white_space=c.white_space,
            ),
        )

    def shingles(self, norm: DataFrame) -> DataFrame:
        """(node_id, shingles) — distinct shingle hashes, pure Catalyst.

        Lazily materialized: the signature kernel must read the shingle
        arrays as a bound column. Feeding the pandas-UDF kernel (the
        pipeline's one Python UDF) an expensive unmaterialized projection
        measured 6–8× slower — the JVM re-buffers/spills the full input rows
        around the Python exchange."""
        return (
            add_shingles(norm, "content_normalized", self.cfg.ngram_size, "shingles")
            .select("node_id", "shingles")
            .localCheckpoint(eager=False)
        )

    def _attach_signatures(self, shingled: DataFrame) -> DataFrame:
        """(node_id, min_hashes) of a (node_id, shingles) frame via the Arrow
        pandas-UDF kernel (functions/minhash.py). The shingle arrays
        (~ngram_size × tokens × 8B/row) are kept only for exact-Jaccard
        verification."""
        c = self.cfg
        out = shingled.withColumn(
            "min_hashes", minhash_signature(F.col("shingles"), c.num_perm, c.seed)
        )
        return out if c.verify_pairs else out.drop("shingles")

    def signatures(self, norm: DataFrame) -> DataFrame:
        """(node_id, min_hashes) — reference :218-239; plus ``shingles`` when
        verifying pairs."""
        return self._attach_signatures(self.shingles(norm))

    def bands(self, df: DataFrame) -> DataFrame:
        # band_idx is already folded into band_key (functions/hashing.py:36-44)
        # and nothing downstream of the persisted stage reads it — drop it so
        # the checkpoint writes and downstream scans carry 16B/row, not 20B
        return lsh_band_buckets(df, self.cfg.R, self.cfg.B).select("band_key", "node")

    def candidate_edges(self, buckets: DataFrame, signatures: DataFrame) -> DataFrame:
        c = self.cfg
        if c.verify_pairs:
            # pairwise within-bucket candidates so verification can't orphan
            # a true pair via a dropped star edge (see operators/verify.py)
            edges = build_pair_edges_from_buckets(buckets.select("band_key", "node"))
            edges = verify_pairs_exact_jaccard(
                edges, signatures, c.threshold, node_col="node_id", shingle_col="shingles"
            )
        else:
            edges = build_edges_from_buckets(buckets)
        return edges

    def merge(
        self, prepped: DataFrame, assignments: DataFrame, id_map: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        """(clusters, survivors): the cluster table, lazily materialized so
        that every sink reads it once, and the keep-rule survivors derived
        from it (reference :616-647)."""
        c = self.cfg
        clusters = cluster_table(
            prepped.select(c.index_col, c.content_col, "node_id"),
            assignments,
            id_map,
            index_col=c.index_col,
            component_col=c.component_col,
        ).localCheckpoint(eager=False)
        return clusters, survivors(clusters, c.index_col, c.component_col)

    # -- orchestration -----------------------------------------------------

    def run(self, df: DataFrame, checkpointer: StageCheckpointer | None = None) -> dict:
        """Execute all stages; returns dict with results/clusters/assignments/id_map.

        ``checkpointer`` enables per-stage resume (north rule); without one,
        stage boundaries fall back to localCheckpoint (lineage severing only).
        """
        c = self.cfg
        ck = checkpointer or StageCheckpointer(df.sparkSession)

        prepped = ck.stage("prepped", self.prep(df))
        id_map = prepped.select(c.index_col, "node_id").distinct()

        # CPU-heavy narrow stages (regex/UDF text work) are row-count
        # partitioned, not byte-partitioned — see _python_stage_parallelism.
        # The count is a cheap job on the just-materialized stage.
        n_rows = prepped.count()
        par = _python_stage_parallelism(
            n_rows, df.sparkSession.sparkContext.defaultParallelism
        )

        # normalize is its own stage boundary: a resumable stage, and the
        # boundary a trace attributes normalize's time to (the reference
        # also materializes it eagerly, FRICTION_LOG.md:32)
        # downstream of prep, rows travel by integer node_id only — the string
        # key stays in id_map and rejoins at merge (smaller caches, and the
        # pandas-UDF stage doesn't ship passthrough strings to Python)
        norm = ck.stage(
            "normalized",
            self.normalize(prepped.repartition(par)).select(
                "node_id", "content_normalized"
            ),
        )
        shingled = self.shingles(norm.repartition(par))
        sigs = ck.stage("signatures", self._attach_signatures(shingled))
        buckets = ck.stage("bands", self.bands(sigs))
        edges = ck.stage("pairs", self.candidate_edges(buckets, sigs))
        assignments = ck.stage(
            "components",
            connected_components(
                edges,
                algorithm=c.algorithm,
                max_loops=c.max_loops,
                checkpoint=ck.iter_checkpoint,
                driver_fallback_edges=CC_DRIVER_FALLBACK_EDGES,
            ),
        )
        clusters, results = self.merge(prepped, assignments, id_map)
        return {
            "results": results,
            "assignments": assignments,
            "id_map": id_map,
            "clusters": clusters,
            # intermediate stage handles (already materialized at the stage
            # boundary) — lets callers reuse the run instead of re-executing
            # the pipeline for band-level or prep-level questions
            "prepped": prepped,
            "bands": buckets,
            "shingled": shingled,
            "signatures": sigs,
        }

    def batch_bands(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(prepped, bands) of one batch without run()'s stage checkpoints,
        both lazily materialized."""
        prepped = self.prep(df).localCheckpoint(eager=False)
        bands = self.bands(self.signatures(self.normalize(prepped)))
        return prepped, bands.localCheckpoint(eager=False)

    def fold(self, df: DataFrame, state: IncrementalState, out_dir: str) -> dict:
        """Fold one batch into ``state`` (operators/incremental.py): write the
        batch's cluster rows to ``out_dir/clusters``, then append its bands
        and assignment delta to ``state`` — last, so a failed write leaves
        the state untouched. ``delta`` rows carry ``relabel``: False for the
        batch's own labels, True for re-labelled old rows."""
        c = self.cfg
        state.validate_config(c)
        prepped, bands = self.batch_bands(df)
        new_assign, old_updates = incremental_assignments(
            bands,
            state.read_bands(),
            state.read_assignments(),
            algorithm=c.algorithm,
            edges_checkpoint_dir=f"{out_dir}/_work",
            driver_fallback_edges=CC_DRIVER_FALLBACK_EDGES,
        )
        delta = (
            new_assign.withColumn("relabel", F.lit(False))
            .unionByName(old_updates.withColumn("relabel", F.lit(True)))
            .localCheckpoint(eager=True)
        )
        labels = delta.where(~F.col("relabel")).withColumnRenamed("u", "node_id")
        write_table(
            prepped.join(labels, "node_id", "left").select(
                c.index_col, F.coalesce("rep", "node_id").alias(c.component_col)
            ),
            f"{out_dir}/clusters",
        )
        return {
            "batch_id": state.append(bands, delta),
            "prepped": prepped,
            "bands": bands,
            "delta": delta,
            "new_assign": new_assign,
            "old_updates": old_updates,
        }

    def __call__(self, df: DataFrame) -> DataFrame:
        """Reference-shaped entry point: input → deduplicated survivors
        (workload/minhash_dedupe.py:176-185)."""
        return self.run(df)["results"]
