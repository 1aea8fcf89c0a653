"""Incremental near-duplicate dedup: fold a NEW batch of documents into an
already-deduped corpus using its persisted band table and cluster
assignments — without touching (or recomputing) the old corpus' text.

This is the operating mode that matters at 10^12-document scale: a crawl
lands daily; re-running the full pipeline over the whole corpus per batch is
O(corpus) per day, while this path is O(batch + matched buckets).

Correctness argument (exact equivalence with a full re-run, proven by
``tests/test_incremental.py``):

- LSH band keys are deterministic per document, so the union of the old band
  table and the new batch's bands IS the full-corpus band table.
- Within a bucket, connectivity — not the specific edge set — determines
  components. Old members of a bucket are already connected to their
  cluster representative (old assignments). Linking the new bucket-min to
  ONE old member's representative therefore connects everything a full run
  would connect; new-new star edges cover buckets the old corpus never saw.
- Old representatives are the MINIMUM ids of their old components, so the
  minimum over {new nodes ∪ old reps} of a merged component equals the
  global minimum a full run would pick — cluster ids come out identical,
  not merely isomorphic.

Scale shape: one semi-join of old bands against the new batch's band keys
(bucket-prunable / bucketed-table-friendly), salted bucket minima, CC over
O(batch) edges, and an assignment update that touches only old clusters a
new document actually bridged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.operators.banding import salted_bucket_min
from daft_minhash_dedupe_spark.operators.components import connected_components
from daft_minhash_dedupe_spark.operators.edges import build_edges_from_buckets


def incremental_assignments(
    new_bands: DataFrame,
    old_bands: DataFrame,
    old_assignments: DataFrame,
    edges_checkpoint_dir: str,
    algorithm: str = "hash_to_min",
    num_salts: int = 16,
    driver_fallback_edges: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Returns (new_assign, old_updates).

    new_bands / old_bands: (band_key, node) rows. old_assignments: (u, rep)
    for every non-isolated old node (rep = min id of its component).
    edges_checkpoint_dir: where the fold's edges are written; the returned
    frames read them lazily, so the directory must outlive them (on a
    cluster, shared storage).

    new_assign:  (u, rep) for every new node that joined any cluster.
    old_updates: (u, rep) re-labels for old nodes whose cluster got merged
                 (bridged by a new document) — apply with a left join +
                 coalesce over the stored assignment table.
    """
    # cache (NOT localCheckpoint): the band table feeds several branches that
    # later self-union; localCheckpoint's LogicalRDD carries originConstraints
    # with the original attribute ids, and Spark's self-union deduplication
    # (newInstance) leaves them stale → Union.rewriteConstraints crashes with
    # "key not found: v#…". A cached plan keeps plan-based children, which
    # that rewrite handles correctly.
    new_bands = new_bands.select("band_key", "node").cache()

    # new-new connectivity: star edges within the new batch's buckets
    nn_edges = build_edges_from_buckets(new_bands, num_salts=num_salts)

    # new-old connectivity: for each bucket the new batch touches, link the
    # new bucket min to ONE old member's representative
    touched = new_bands.select("band_key").distinct()
    old_touched = old_bands.select("band_key", "node").join(touched, "band_key")
    old_min = salted_bucket_min(old_touched, num_salts=num_salts).withColumnRenamed(
        "u", "old_node"
    )
    old_min_rep = (
        old_min.join(
            old_assignments.withColumnRenamed("u", "old_node"), "old_node", "left"
        )
        .select("band_key", F.coalesce("rep", "old_node").alias("old_rep"))
    )
    new_min = salted_bucket_min(new_bands, num_salts=num_salts)
    no_edges = (
        new_min.join(old_min_rep, "band_key")
        .select(
            F.least("u", "old_rep").alias("u"), F.greatest("u", "old_rep").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    # materialize the combined edges through a REAL storage boundary before
    # CC: the two branches share the new_bands lineage, and Spark 4.1's
    # Union self-reference deduplication leaves constraints referencing
    # pre-dedup attribute ids — the CC star steps then crash inside
    # Union.rewriteConstraints ("key not found: v#…"). Neither cache() nor
    # localCheckpoint() breaks the constraint linkage; a parquet round-trip
    # does (and is the same boundary the full pipeline places here anyway).
    path = f"{edges_checkpoint_dir}/incremental_edges"
    nn_edges.unionByName(no_edges).write.mode("overwrite").parquet(path)
    edges = new_bands.sparkSession.read.parquet(path)
    # nothing returned reads new_bands past the edges write: release it, or a
    # long-lived driver keeps one cached band table per fold
    new_bands.unpersist()
    assigns = connected_components(
        edges, algorithm=algorithm, driver_fallback_edges=driver_fallback_edges
    )

    # split the result: labels for new nodes vs merged-old-rep re-labels
    old_reps = old_assignments.select(F.col("rep").alias("u")).distinct()
    rep_moves = assigns.join(old_reps, "u")  # an old rep absorbed a smaller id
    new_assign = assigns.join(old_reps, "u", "left_anti")

    # propagate rep moves to every old row of the affected clusters
    old_updates = (
        old_assignments.withColumnRenamed("rep", "old_rep")
        .join(
            rep_moves.select(F.col("u").alias("old_rep"), "rep"),
            "old_rep",
        )
        .select("u", "rep")
        .unionByName(rep_moves.select("u", "rep"))
        .distinct()
    )
    return new_assign, old_updates


def merge_assignment_tables(
    old_assignments: DataFrame, new_assign: DataFrame, old_updates: DataFrame
) -> DataFrame:
    """Full updated assignment table: old rows (re-labeled where a new doc
    bridged clusters) plus the new batch's rows."""
    upd = old_updates.withColumnRenamed("rep", "_new_rep")
    refreshed = (
        old_assignments.join(upd, "u", "left")
        .select("u", F.coalesce("_new_rep", "rep").alias("rep"))
    )
    return refreshed.unionByName(new_assign.select("u", "rep"))
