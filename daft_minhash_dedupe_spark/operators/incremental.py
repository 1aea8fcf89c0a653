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

Scale shape: one pass over the touched buckets. The stored bands are
semi-joined to the batch's band keys (bucket-prunable), one salted two-phase
min gives each touched bucket's new and old minimum, and one join emits both
edge kinds. CC runs over O(batch) edges. The split looks up the stored
labels once, and re-labels the old members of a cluster only when its
representative moved to a smaller id; a touched cluster whose
representative stays writes just that representative's own row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.operators.banding import salted_bucket_min
from daft_minhash_dedupe_spark.operators.components import connected_components


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

    new_assign:  (u, rep) for every edge node that is not an old
                 representative (every new node that joined any cluster).
    old_updates: (u, rep) for every old representative among the edge
                 nodes, plus the old members of each representative that
                 moved.

    Apply both as the batch's delta: ``IncrementalState.append(new_bands,
    new_assign ∪ old_updates)``, whose reads let the latest batch's label win.
    """
    # one salted two-phase min over the batch's rows (tagged new) and the
    # stored rows of the buckets the batch touches (tagged old) gives each
    # touched bucket's new and old minimum in one shared aggregate
    batch = new_bands.select("band_key", "node")
    rows = batch.withColumn("_new", F.lit(True)).unionByName(
        old_bands.select("band_key", "node")
        .join(batch, "band_key", "left_semi")
        .withColumn("_new", F.lit(False))
    )
    mins = salted_bucket_min(rows, num_salts=num_salts, mins={
        "new_min": F.when(F.col("_new"), F.col("node")),
        "old_min": F.when(~F.col("_new"), F.col("node")),
    })

    # per batch row: the star edge to its bucket's new min, and the link from
    # that min to ONE old member's representative (least() skips the null of
    # a bucket without old rows, which the u != v filter then drops)
    stored = old_assignments.select("u", "rep")
    old_rep = F.coalesce("rep", "old_min")
    edges = (
        batch.join(mins, "band_key")
        .join(stored.withColumnRenamed("u", "old_min"), "old_min", "left")
        .select(F.inline(F.array(
            F.struct(F.col("new_min").alias("u"), F.col("node").alias("v")),
            F.struct(
                F.least("new_min", old_rep).alias("u"),
                F.greatest("new_min", old_rep).alias("v"),
            ),
        )))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    # a parquet round trip cuts the edges' lineage before CC: Spark 4.1's
    # Union self-reference deduplication leaves constraints on pre-dedup
    # attribute ids, and CC's star steps then crash inside
    # Union.rewriteConstraints ("key not found: v#…"); neither cache() nor
    # localCheckpoint() breaks that constraint linkage
    path = f"{edges_checkpoint_dir}/incremental_edges"
    edges.write.mode("overwrite").parquet(path)
    assigns = connected_components(
        new_bands.sparkSession.read.schema("u long, v long").parquet(path),
        algorithm=algorithm,
        driver_fallback_edges=driver_fallback_edges,
    )

    # split with one lookup of the stored labels, evaluated once: an old
    # representative is a node whose stored label is itself
    split = assigns.join(
        stored.withColumnRenamed("rep", "_stored"), "u", "left"
    ).localCheckpoint(eager=False)
    is_old_rep = F.col("_stored").eqNullSafe(F.col("u"))
    new_assign = split.where(~is_old_rep).select("u", "rep")
    rep_moves = split.where(is_old_rep).select("u", "rep")
    # an old representative keeps its own row; its members are re-labelled
    # only when it moved to a smaller id
    moved = rep_moves.where(F.col("rep") != F.col("u")).select(
        F.col("u").alias("rep"), F.col("rep").alias("_moved_to")
    )
    old_updates = rep_moves.unionByName(
        stored.where(F.col("u") != F.col("rep"))
        .join(moved, "rep")
        .select("u", F.col("_moved_to").alias("rep"))
    )
    return new_assign, old_updates
