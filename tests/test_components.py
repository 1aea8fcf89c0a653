"""Connected components (reference tests:303-383) + union-find oracle parity."""

import random
import re

import pytest
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.operators.components import (
    connected_components,
    construct_assignments,
    global_min_label_propagation,
    large_star,
    small_star,
    union_find_components,
)
from daft_minhash_dedupe_spark.oracle import partition_sets


def _edges(spark, pairs):
    return spark.createDataFrame(list(pairs) or [], "u long, v long")


def _assign(df):
    return {r["u"]: r["rep"] for r in df.collect()}


def test_large_star_invariants(spark):
    e = _edges(spark, [(1, 2), (2, 3), (4, 5)])
    out = large_star(e).collect()
    assert all(r["u"] != r["v"] for r in out)
    # every emitted target label is ≤ source (min-attachment)
    assert all(r["v"] < r["u"] for r in out)


def test_small_star_invariants(spark):
    e = _edges(spark, [(1, 2), (2, 3), (4, 5)])
    out = small_star(e).collect()
    assert all(r["u"] != r["v"] for r in out)


def test_construct_assignments_isolated_self(spark):
    e = _edges(spark, [(1, 2), (1, 3)])
    got = _assign(construct_assignments(e))
    # reference :388-421 is directional: u-side nodes get min(v) as rep,
    # v-only nodes self-assign (label propagation fixes parity afterwards)
    assert got == {1: 2, 2: 2, 3: 3}


def test_empty_edges_converges(spark):
    # reference pin (tests:355-360): no edges → no assignments
    e = _edges(spark, [])
    assigns = connected_components(e)
    assert assigns.count() == 0


@pytest.mark.parametrize("algorithm", ["alternating", "two_phase", "hash_to_min"])
def test_cc_known_graph(spark, algorithm):
    # reference pin (tests:342-353): components [[1,2,3,4],[5,6],[7 isolated]]
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (5, 6)])
    got = _assign(connected_components(e, algorithm=algorithm))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


@pytest.mark.parametrize("algorithm", ["alternating", "two_phase", "hash_to_min"])
def test_cc_chain_reaches_global_min(spark, algorithm):
    # long chain is the classic star-contraction stress (local-minima risk)
    chain = [(i, i + 1) for i in range(1, 30)]
    got = _assign(connected_components(_edges(spark, chain), algorithm=algorithm))
    assert all(rep == 1 for rep in got.values())
    assert set(got) == set(range(1, 31))


def test_cc_chain_beyond_max_loops_raises_not_splits(spark):
    # hash_to_min needs ~diameter iterations; running out of max_loops must
    # fail loudly rather than return the chain split into many components
    chain = _edges(spark, [(i, i + 1) for i in range(1, 30)])
    with pytest.raises(RuntimeError, match="max_loops=5.*two_phase"):
        connected_components(chain, algorithm="hash_to_min", max_loops=5).collect()
    # star contraction shrinks the diameter, so the same budget suffices
    got = _assign(connected_components(chain, algorithm="two_phase", max_loops=5))
    assert set(got) == set(range(1, 31))
    assert set(got.values()) == {1}


def test_label_propagation_drives_to_global_min(spark):
    # reference pin (tests:371-376)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    init = spark.createDataFrame([(1, 1), (2, 2), (3, 3), (4, 4)], "u long, rep long")
    got = _assign(global_min_label_propagation(e, init))
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


@pytest.mark.parametrize("algorithm", ["alternating", "two_phase", "hash_to_min"])
def test_cc_random_graphs_match_union_find_oracle(spark, algorithm):
    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 80))
        ]
        edges = [(u, v) for u, v in edges if u != v]
        got = _assign(connected_components(_edges(spark, edges), algorithm=algorithm))
        want = union_find_components(edges)
        assert partition_sets(got) == partition_sets(want), f"trial {trial}"
        # representative is the global min of each component
        assert all(got[rep] == rep for rep in got.values())


def test_driver_fallback_identical_to_distributed(spark):
    """The scale-adaptive union-find fallback must return EXACTLY the
    distributed result (same node set incl. self rows, same min reps)."""
    import random

    from daft_minhash_dedupe_spark.operators.components import connected_components

    rng = random.Random(7)
    nodes = [rng.randint(-(2**40), 2**40) for _ in range(300)]
    edges = [
        (nodes[rng.randrange(len(nodes))], nodes[rng.randrange(len(nodes))])
        for _ in range(400)
    ]
    df = spark.createDataFrame(edges, "u long, v long")
    dist = {
        (r["u"], r["rep"])
        for r in connected_components(df, algorithm="hash_to_min").collect()
    }
    fast = {
        (r["u"], r["rep"])
        for r in connected_components(
            df, algorithm="hash_to_min", driver_fallback_edges=10_000
        ).collect()
    }
    assert fast == dist
    # over-threshold edge sets must keep taking the distributed path
    # (fallback bound smaller than the edge count -> same distributed result)
    still_dist = {
        (r["u"], r["rep"])
        for r in connected_components(
            df, algorithm="hash_to_min", driver_fallback_edges=10
        ).collect()
    }
    assert still_dist == dist

    empty = spark.createDataFrame([], "u long, v long")
    none = connected_components(empty, driver_fallback_edges=100)
    assert none.count() == 0
    assert none.schema.simpleString() == "struct<u:bigint,rep:bigint>"


def _cc_stress_edges(spark, n_nodes: int, star_size: int):
    """Star-chained single component: n_nodes/star_size stars (leaf→hub
    edges) whose hubs form one long chain — a component whose hub-chain
    diameter (~n_nodes/star_size) is the worst shape for label-diffusion
    CC. Star contraction must still converge in O(log diameter) rounds or
    a boilerplate cluster (every page sharing one template) would never
    finish."""
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


class _RoundCounter:
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
        def max_idx(pat):
            idxs = [int(m.group(1)) for n in self.names if (m := re.match(pat, n))]
            return max(idxs, default=0)

        return {
            "small_star_rounds": max_idx(r"cc_edges_(\d+)$"),
            "large_star_steps": sum(1 for n in self.names if n.startswith("cc_large_")),
            "label_prop_iters": max_idx(r"lp_labels_(\d+)$"),
        }


def test_cc_star_chain_converges_with_max_loops_margin(spark):
    """Star-chained worst case, 25x smaller than a 10^6-node stress run:
    one component of 40k nodes whose 200-hub chain gives diameter ~200.
    Star contraction must converge in O(log diameter) rounds — assert a
    4x margin under the default max_loops=100 budget, and exact
    correctness (single component labeled by the global min)."""
    edges = _cc_stress_edges(spark, 40_000, 200).localCheckpoint(eager=True)
    counter = _RoundCounter()
    assigns = connected_components(
        edges, algorithm="two_phase", max_loops=100, checkpoint=counter
    )
    rows = assigns.collect()
    assert len(rows) == 40_000
    assert {r["rep"] for r in rows} == {0}
    rounds = counter.rounds()
    # log2(200) ~ 8; anything near max_loops means contraction degraded to
    # per-hop diffusion and a 10^6-hub chain would blow the budget
    assert rounds["small_star_rounds"] <= 25, rounds
    assert rounds["large_star_steps"] <= 50, rounds
    assert rounds["label_prop_iters"] <= 25, rounds
