"""Training-data pipeline extras beyond the reference's own operators:
exact / Bloom-filter / line-level / exact-substring / tiered-cascade /
semantic dedup, SimHash, n-gram Jaccard similarity join, embedding ANN,
benchmark decontamination (verbatim + fuzzy Jaccard), per-domain caps,
sequence packing, LM-perplexity scoring, PII redaction and text analysis.
All Spark-first (Catalyst expressions; pandas UDFs only where numerics
demand it)."""
