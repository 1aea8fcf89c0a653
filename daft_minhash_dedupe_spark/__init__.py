"""PySpark-native near-duplicate detection & clustering engine.

A from-scratch Spark rebuild with the query/data-processing capabilities of
the reference ``everettVT/daft-minhash-dedupe`` (a Daft pipeline): word-shingle
MinHash signatures, LSH banding, exact-Jaccard candidate verification, and
iterative DataFrame-based connected components (hash-to-min with large-/small-
star accelerators), plus the surrounding training-data operators (exact dedup,
SimHash, n-gram Jaccard, embedding ANN, text analysis).

Architecture is DataFrame/Catalyst/AQE-first: every stage is a declarative
plan; on the pipeline path Python appears only in one Arrow-batched pandas
UDF, the minhash permutation kernel (NFD normalize runs in the JVM through
ICU4J) — no per-row Python anywhere.

Reference behavior contract: /root/reference/workload/minhash_dedupe.py
(cited per-function as file:line in docstrings).
"""

from daft_minhash_dedupe_spark.config import DedupeConfig, optimal_param
from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline

__all__ = ["DedupeConfig", "optimal_param", "MinHashDedupePipeline"]
__version__ = "0.1.0"
