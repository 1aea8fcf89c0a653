"""Training-data pipeline extras beyond the reference's own operators:
exact / Bloom-filter / line-level / exact-substring / tiered-cascade /
semantic dedup, SimHash, n-gram Jaccard similarity join, embedding ANN,
benchmark decontamination (verbatim + fuzzy Jaccard), DSIR importance
resampling, stratified sampling + per-domain caps, sequence packing,
LM-perplexity scoring, PII redaction, text analysis, and numpy audio/video
fingerprints. All Spark-first (Catalyst expressions; pandas UDFs only where
numerics demand it)."""
