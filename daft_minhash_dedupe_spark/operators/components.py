"""Iterative DataFrame-based connected components (hash-to-min).

Semantics mirror the reference exactly (behavior contract):

- ``large_star`` / ``small_star``: star-contraction rounds
  (workload/minhash_dedupe.py:279-358);
- ``construct_assignments``: node → min-neighbor representative with
  isolated-node self-assignment (:388-421);
- ``global_min_label_propagation``: min-label diffusion to the unique fixed
  point — needed because star contraction can stabilize at multiple local
  minima within one true component (friction/connected_components_reasoning.md:7-27);
- ``connected_components``: the orchestrating driver loop (:507-557),
  "alternating" (large★→small★ per round) or "two_phase" (large★ to fixpoint,
  then one small★) — default two_phase matching the reference __main__ (:740).

Differences from the reference are purely physical, never semantic:

- neighborhood minima use ``groupBy(u).agg(min(v))`` + join-back instead of
  ``collect_list`` + ``array_min`` (no giant per-node arrays at scale; min
  gets map-side partial aggregation for free); a label-propagation round is
  one join and one ``groupBy(u).min`` over own ∪ neighbour labels, and
  ``hash_to_min`` seeds min(u, neighbours) from the symmetrized edges;
- convergence checks are one-job aggregate signatures confirmed by a
  distributed anti-join count (edges.edge_sets_equal) instead of the reference's
  driver-side ``to_pydict()`` set comparison (:379-385) which collects the
  full edge list;
- every iteration output is checkpointed (localCheckpoint by default,
  parquet round-trip when a checkpoint dir is configured) to sever lineage —
  without this the plan depth grows per iteration and Catalyst analysis time
  dominates (the reference severs via eager ``.collect()``).
"""

from __future__ import annotations

import logging
from typing import Callable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)

from daft_minhash_dedupe_spark.operators.edges import (
    edge_sets_equal,
    symmetrize,
)

Checkpoint = Callable[[DataFrame, str], DataFrame]

# Scale-adaptive CC: edge sets at or under this bound run driver-side
# union-find (identical output) instead of the iterative distributed loop —
# the AQE-broadcast analogue for tiny graphs. 100k edges ≈ 2 MB collected;
# bigger edge sets always take the distributed path. The pipeline and the
# driver queries pass it; connected_components itself defaults to None.
CC_DRIVER_FALLBACK_EDGES = 100_000


def _local_checkpoint(df: DataFrame, _name: str) -> DataFrame:
    # lazy: the convergence-signature aggregation that immediately follows is
    # the action that materializes (and caches) the checkpoint — one job
    # instead of two per iteration
    return df.localCheckpoint(eager=False)


def _edge_signature(edges: DataFrame) -> tuple:
    """(row_count, Σ xxhash64(u,v) as exact decimal) in ONE aggregation job —
    map-side partial agg, no shuffle of the edge set, no join. Used as a fast
    probabilistic set-equality signal; equality is CONFIRMED with the exact
    anti-join check before the loop exits (so correctness never rests on the
    hash)."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _labels_sum(labels: DataFrame):
    """Σ label as exact decimal, one aggregation job. Min-label propagation is
    monotone non-increasing, so an unchanged sum ⟺ a fixed point — an EXACT
    convergence test with no join and no second pass."""
    return labels.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s")).first()["s"]


def _neighborhood_min(edges: DataFrame) -> DataFrame:
    """(u, m) where m = min(neighbors(u) ∪ {u}); null-safe via F.least
    (reference's if_else idiom :296-304)."""
    return (
        edges.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("_mn", "u").alias("m"))
    )


def large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor to the neighborhood min
    (reference :279-316): symmetrize → m(u) → emit (v, m(u)) for v > u."""
    sym = symmetrize(edges)
    m = _neighborhood_min(sym)
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def small_star(edges: DataFrame) -> DataFrame:
    """Small-star round (reference :318-358). NOTE: despite the reference's
    comment ("group by larger"), its struct-if_else canonicalizes each edge to
    (u=min, v=max) — the group key is the SMALLER endpoint; m = min(nbrs∪{u})
    = u, and every larger neighbor is emitted attached to it. We mirror the
    code, not the comment, via least/greatest."""
    directed = (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    m = _neighborhood_min(directed)
    return (
        directed.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def construct_assignments(edges: DataFrame) -> DataFrame:
    """(u, rep) for every node in the edge list; isolated → self
    (reference :388-421)."""
    nodes = (
        edges.select("u")
        .unionByName(edges.select(F.col("v").alias("u")))
        .distinct()
    )
    rep_map = edges.groupBy("u").agg(F.min("v").alias("rep"))
    return (
        nodes.join(rep_map, "u", "left")
        .select("u", F.coalesce("rep", "u").alias("rep"))
        .distinct()
    )


def global_min_label_propagation(
    edges: DataFrame,
    assignments: DataFrame | None = None,
    max_iters: int = 100,
    checkpoint: Checkpoint = _local_checkpoint,
) -> DataFrame:
    """Diffuse the global minimum label over the undirected graph to a unique
    fixed point (reference :429-505). ``assignments`` (u, rep) seeds the
    labels; without it each node starts at min(u, neighbours), the
    hash-to-min seed. Per round: own labels ∪ neighbours' labels (one join)
    → min per node (one aggregate); labels checkpointed each round to sever
    lineage. Raises when ``max_iters`` runs out first: a longer chain would
    come back split."""
    sym = checkpoint(symmetrize(edges), "lp_edges")
    if assignments is None:
        assignments = _neighborhood_min(sym).withColumnRenamed("m", "rep")
    labels = checkpoint(
        assignments.select("u", F.col("rep").alias("label")), "lp_labels_0"
    )
    prev_sum = _labels_sum(labels)
    for i in range(max_iters):
        labels_next = (
            labels.unionByName(
                sym.join(labels.withColumnRenamed("u", "v"), "v").select("u", "label")
            )
            .groupBy("u")
            .agg(F.min("label").alias("label"))
        )
        labels_next = checkpoint(labels_next, f"lp_labels_{i + 1}")
        next_sum = _labels_sum(labels_next)  # materializes the checkpoint too
        labels = labels_next
        if next_sum == prev_sum:
            break
        prev_sum = next_sum
    else:
        raise RuntimeError(
            f"label propagation did not converge within max_loops={max_iters}; "
            "raise max_loops or use a star algorithm (two_phase, alternating)"
        )
    return labels.select("u", F.col("label").alias("rep"))


def connected_components(
    edges: DataFrame,
    algorithm: str = "two_phase",
    max_loops: int = 100,
    checkpoint: Checkpoint = _local_checkpoint,
    driver_fallback_edges: int | None = None,
) -> DataFrame:
    """Full CC: star contraction to stability, then assignments, then global
    min-label propagation for exact global-minimum parity (reference :507-557).

    Returns (u, rep) with rep = the global minimum node id of u's component —
    the invariant every downstream keep-rule depends on.

    ``driver_fallback_edges``: scale-adaptive execution (the AQE-broadcast
    analogue for the iterative CC loop): when the edge set fits under this
    bound, a bounded ``limit(N+1).collect()`` + driver union-find replaces
    the multi-job distributed loop — identical output (one row per node
    appearing in edges, rep = component minimum, self rows included), tested
    for DataFrame equality against the distributed path. ~1.5 s of driver
    round-trips saved per tiny run; big edge sets take the distributed loop
    untouched.
    """
    if driver_fallback_edges:
        head = edges.select("u", "v").limit(driver_fallback_edges + 1).collect()
        if len(head) <= driver_fallback_edges:
            mapping = union_find_components([(r["u"], r["v"]) for r in head])
            nodes = sorted(mapping)
            # an Arrow table plans as a LocalTableScan; a Python list would
            # plan as a pickled RDD whose scan starts a Python task per slice
            table = pa.table({"u": nodes, "rep": [mapping[n] for n in nodes]})
            return edges.sparkSession.createDataFrame(table, "u long, rep long")
    if algorithm == "hash_to_min":
        # no star contraction: seed label(u) = min(u, neighbours) and diffuse.
        # Fastest option on low-diameter LSH graphs (~2× vs alternating);
        # star algorithms remain the safe choice for high-diameter graphs.
        return global_min_label_propagation(
            edges, max_iters=max_loops, checkpoint=checkpoint
        )

    b = checkpoint(edges, "cc_edges_0")
    sig_b = _edge_signature(b)

    def _stable(prev_sig: tuple, prev_df: DataFrame, next_df: DataFrame) -> tuple:
        """(converged?, next_sig): cheap one-job signature compare; only when
        the signature matches run the exact anti-join confirmation."""
        next_sig = _edge_signature(next_df)
        if next_sig != prev_sig:
            return False, next_sig
        return edge_sets_equal(prev_df, next_df), next_sig

    if algorithm == "alternating":
        for i in range(max_loops):
            a = large_star(b)
            b_next = checkpoint(small_star(a), f"cc_edges_{i + 1}")
            converged, sig_b = _stable(sig_b, b, b_next)
            logger.debug("cc alternating round %d: edges=%s", i, sig_b[0])
            b = b_next
            if converged:
                logger.info("cc alternating converged after %d rounds", i + 1)
                break
    elif algorithm == "two_phase":
        for i in range(max_loops):
            L, sig_l = b, sig_b
            for j in range(max_loops):
                L_next = checkpoint(large_star(L), f"cc_large_{i}_{j}")
                converged, sig_l = _stable(sig_l, L, L_next)
                logger.debug("cc two_phase round %d large-star %d: edges=%s", i, j, sig_l[0])
                L = L_next
                if converged:
                    break
            b_next = checkpoint(small_star(L), f"cc_edges_{i + 1}")
            converged, sig_b = _stable(sig_b, b, b_next)
            logger.debug("cc two_phase round %d: edges=%s", i, sig_b[0])
            b = b_next
            if converged:
                logger.info("cc two_phase converged after %d rounds", i + 1)
                break
    else:
        raise ValueError(f"unknown algorithm: {algorithm!r}")

    assignments = construct_assignments(b)
    return global_min_label_propagation(
        b, assignments, max_iters=max_loops, checkpoint=checkpoint
    )


def union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Pure-Python union-find oracle (replaces the reference's igraph parity
    validator, :559-614) — TEST/VALIDATION use only, never on big data."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # compress to the component minimum
    return {x: find(x) for x in list(parent)}
