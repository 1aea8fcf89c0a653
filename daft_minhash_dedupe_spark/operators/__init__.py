from daft_minhash_dedupe_spark.operators.banding import (
    lsh_band_buckets,
    lsh_banding,
    salted_bucket_min,
)
from daft_minhash_dedupe_spark.operators.edges import (
    build_edges,
    build_edges_from_buckets,
    build_pair_edges_from_buckets,
    canonicalize,
    symmetrize,
)
from daft_minhash_dedupe_spark.operators.components import (
    connected_components,
    construct_assignments,
    global_min_label_propagation,
    large_star,
    small_star,
)
from daft_minhash_dedupe_spark.operators.incremental import incremental_assignments
from daft_minhash_dedupe_spark.operators.merge import cluster_table, survivors
from daft_minhash_dedupe_spark.operators.verify import verify_pairs_exact_jaccard

__all__ = [
    "lsh_band_buckets",
    "lsh_banding",
    "salted_bucket_min",
    "build_edges",
    "build_edges_from_buckets",
    "build_pair_edges_from_buckets",
    "canonicalize",
    "symmetrize",
    "connected_components",
    "construct_assignments",
    "global_min_label_propagation",
    "large_star",
    "small_star",
    "incremental_assignments",
    "cluster_table",
    "survivors",
    "verify_pairs_exact_jaccard",
]
