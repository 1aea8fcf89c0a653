"""Spark-native deterministic corpus generator (bench scale).

The pandas generator (synthetic.py) builds rich ground truth for recall
oracles but is driver-side Python — fine at 10^5 rows, not at 10^6+. This
generator builds the same *statistical* shape entirely in JVM expressions
(seeded xxhash64 arithmetic, no Python, no driver memory), so benchmark and
scaling-study corpora can be generated at any size:

- ~30% of rows belong to duplicate families of 4 (template = family id);
  members carry ~2% seeded token substitutions (word-5-gram Jaccard ≈ 0.8);
- one hot family of ``hot_size`` near-identical rows (skew driver);
- remaining rows are unique documents of 80-400 tokens.

Determinism: every token is ``tok{xxhash64(seed, ...) % VOCAB}`` — same seed
⇒ byte-identical corpus, any cluster size, any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VOCAB = 2000  # distinct tokens


def _canonical_template(seed: int, n_rows: int, hot_size: int):
    """Re-crawl target resolution: pick a uniform target id, then map it to
    the template ITS OWN row renders (hot → 0, family member → floor4), so a
    re-crawl of a hot or family target reproduces text some row actually
    carries instead of an orphan canonical stream. One resolution level is
    enough: only target-is-itself-a-recrawl chains (rate·0.7 of targets)
    still land on unique-pool streams, which is the dominant case anyway."""
    t0 = F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("src")), F.lit(n_rows))
    t0_hot = t0 < hot_size
    t0_fam = (~t0_hot) & (
        F.pmod(F.xxhash64(F.lit(seed), t0, F.lit("fam")), F.lit(10)) < 3
    )
    return (
        F.when(t0_hot, F.lit(0))
        .when(t0_fam, (t0 / 4).cast("long") * 4)
        .otherwise(t0)
    )


def bench_corpus(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    hot_size: int = 100,
    min_tokens: int = 80,
    max_tokens: int = 400,
    dup_rate: float = 0.0,
) -> DataFrame:
    """(url, warc_ts, html, text, lang) input_hint-shaped DataFrame.

    ``min_tokens``/``max_tokens`` bound document length: the defaults model
    whole web pages; (5, 40) models the reference's Common-Crawl *text
    blocks* (short title/paragraph fragments, its 5×10⁶-row headline shape).

    ``dup_rate``: fraction of the unique-pool rows (the ~70% outside the
    hot family and the noisy families) converted into verbatim re-crawls of
    a uniformly chosen template stream — the Common-Crawl re-crawl knob.
    Text is a pure function of (template, noisy, length) and length is
    itself derived from template, so pointing template at a random id with
    noisy=false reproduces that row's canonical stream byte-exactly.
    Additive on top of the ~8% built-in verbatim mass (family member 1s +
    the hot family); 0.25 models the 25-50% byte-identical re-crawl excess
    real CC snapshots carry.
    """
    if max_tokens < min_tokens:
        raise ValueError(f"max_tokens {max_tokens} < min_tokens {min_tokens}")
    if not 0.0 <= dup_rate <= 1.0:
        raise ValueError(f"dup_rate {dup_rate} outside [0, 1]")
    par = spark.sparkContext.defaultParallelism
    base = spark.range(0, n_rows, 1, par)

    is_hot = F.col("id") < hot_size
    in_family = (~is_hot) & (
        F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("fam")), F.lit(10)) < 3
    )
    is_recrawl = (
        (~is_hot)
        & (~in_family)
        & (
            F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("dup")), F.lit(10_000))
            < int(dup_rate * 10_000)
        )
    )
    # bind the per-row scalars as real columns so the token lambda references
    # them instead of re-deriving per element (same CSE rule as add_shingles)
    df = (
        base.withColumn(
            "template",
            F.when(is_hot, F.lit(0))
            .when(in_family, (F.col("id") / 4).cast("long") * 4)
            .when(is_recrawl, _canonical_template(seed, n_rows, hot_size))
            .otherwise(F.col("id")),
        )
        .withColumn(
            "noisy", in_family & (F.pmod(F.col("id"), F.lit(4)) != 1)
        )
        .withColumn(
            # length must be a pure function of template (like the token
            # stream) or re-crawls aren't verbatim: keying the hot special
            # case on template==0 rather than is_hot makes a hot-targeted
            # re-crawl byte-identical to the hot rows instead of a
            # prefix/extension of their stream
            "length",
            F.when(
                F.lit(hot_size > 0) & (F.col("template") == 0),
                F.lit(max(min(120, max_tokens), min_tokens)),
            ).otherwise(
                F.pmod(
                    F.xxhash64(F.lit(seed), F.col("template"), F.lit("len")),
                    F.lit(max_tokens - min_tokens + 1),
                )
                + min_tokens
            ),
        )
    )
    # token t_i: from the TEMPLATE stream, except ~2% member-specific noise
    # (member 1 of each family carries no noise → exact duplicate of template)
    toks = F.transform(
        F.sequence(F.lit(1), F.col("length")),
        lambda i: F.concat(
            F.lit("tok"),
            F.pmod(
                F.when(
                    F.col("noisy")
                    & (F.pmod(F.xxhash64(F.lit(seed), F.col("id"), i, F.lit("noise")), F.lit(50)) == 0),
                    F.xxhash64(F.lit(seed), F.col("id"), i, F.lit("sub")),
                ).otherwise(F.xxhash64(F.lit(seed), F.col("template"), i, F.lit("tok"))),
                F.lit(VOCAB),
            ),
        ),
    )
    text = F.array_join(toks, " ")
    langs = F.array(*[F.lit(x) for x in ["en", "fr", "es", "de", "zh"]])
    return df.select(
        F.concat(F.lit("https://site"), F.pmod(F.col("id"), F.lit(50)), F.lit(".example/p/"), F.col("id")).alias("url"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("ts")), F.lit(10**7)))).alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        text.alias("text"),
        F.element_at(langs, (F.pmod(F.xxhash64(F.lit(seed), F.col("id"), F.lit("lang")), F.lit(5)) + 1).cast("int")).alias("lang"),
    )
