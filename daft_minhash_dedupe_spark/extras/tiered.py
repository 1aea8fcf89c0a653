"""Tiered deduplication — the cheapest-first composition a 100 TB webtext
pipeline actually runs.

Ordering rationale (each tier shrinks the input to the strictly more
expensive one):

  tier 0  exact      one shuffle on a 128-bit digest; kills verbatim
                     re-crawls/mirrors (the bulk of web duplication) before
                     anything per-token runs
  tier 1  line       CCNet-style boilerplate line removal (extras/
                     line_dedupe.py) — REWRITES the text so the near-dup
                     tier isn't confounded by shared nav bars / footers
                     (two different articles sharing a sidebar must not band
                     together; two identical articles with different footers
                     must)
  tier 1b exact'     re-digest the cleaned text: stripping boilerplate can
                     reveal verbatim duplicates tier 0 could not see
  tier 1c substr     (optional) exact-substring span removal
                     (extras/exact_substring.py, Lee et al. ExactSubstr):
                     cut every token covered by a k-token window recurring
                     across documents — runs-level duplication that line
                     granularity cannot see (quotes, syndicated paragraphs
                     flowing across line breaks)
  tier 1d exact''    re-digest after span removal — cutting shared runs can
                     again reveal verbatim duplicates
  tier 2  minhash    the flagship MinHash→LSH→CC pipeline (pipeline.py) on
                     the cleaned text — the expensive tier sees only what
                     the cheap tiers could not resolve

The exact tiers keep the GLOBAL MIN id of each duplicate group; the minhash
tier keeps the flagship's representative (the group's min deterministic
node hash — SURVEY §2 semantics #1-2). Either way every keep decision is a
pure function of content + ids, so the composition's survivor set is
order-insensitive within a tier and deterministic across parallelism
levels (deterministic ids, functions/hashing.py).

The reference has no tiered orchestrator (its pipeline is single-tier
MinHash, workload/minhash_dedupe.py:176-185); each tier here is individually
driver-oracle-checked (exact_dedupe / line_dedupe_boilerplate /
minhash_dedupe_stats rows) and the composition is pinned by planted-corpus
tests with hand-derived per-tier counts (tests/test_tiered.py).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.config import DedupeConfig
from daft_minhash_dedupe_spark.extras.exact_dedupe import exact_dedupe
from daft_minhash_dedupe_spark.extras.line_dedupe import line_dedupe
from daft_minhash_dedupe_spark.pipeline import MinHashDedupePipeline


def tiered_dedupe(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_min_dup_docs: int | None = 5,
    substring_window_tokens: int | None = None,
    minhash_config: DedupeConfig | None = None,
    minhash_overrides: dict | None = None,
    run_minhash: bool = True,
) -> dict:
    """Run the tier cascade; returns {"survivors", "metrics", "cleaned_col"}.

    survivors: (id_col, text_col original, + one rewrite column per enabled
    rewrite tier: cleaned_text after the line tier, substr_text after the
    substr tier; "cleaned_col" names the final one) — one row per kept doc.
    metrics: list of {"tier", "docs_in", "docs_out"} dicts (counted at tier
    boundaries).
    """
    metrics: list[dict] = []
    _counts: dict[int, int] = {}
    _counted: list[DataFrame] = []

    def _mat(d: DataFrame) -> DataFrame:
        # materialize each tier boundary once (lineage severed) — otherwise
        # every per-tier count() and the final action each recompute the
        # whole upstream cascade (O(tiers²) work)
        return d.localCheckpoint(eager=True)

    def _n(d: DataFrame) -> int:
        # memo keyed by object identity; _counted pins every counted frame
        # for the cascade's lifetime — without the pin, a freed frame's
        # CPython id can be RECYCLED by a later frame, silently returning
        # the dead frame's count (observed as a rare full-suite flake in
        # the per-tier metrics)
        k = id(d)
        if k not in _counts:
            _counts[k] = d.count()
            _counted.append(d)
        return _counts[k]

    def _record(tier: str, before: DataFrame, after: DataFrame) -> None:
        metrics.append({"tier": tier, "docs_in": _n(before), "docs_out": _n(after)})

    # NOT materialized: tier 0's own boundary checkpoint below severs all
    # upstream lineage, so an eager copy of the RAW input here would be a
    # full extra pass over the corpus — at the 100-TB deployment shape the
    # input never fits the storage pool and must stream straight from the
    # source scan into the first (shrinking) tier. Measured at 2M short
    # blocks, dropping it cut the cascade's fixed cost materially (round 5).
    # The trade: tier 0 evaluates this lineage 2-3x (exact_dedupe reads its
    # input for both the digest agg and the keep semi-join; the metrics add
    # a docs_in count) — cheap column-pruned scans for a stable source,
    # but the input MUST be deterministic across re-evaluations. A
    # nondeterministic frame (sample(), shuffling limit, changing view)
    # must be checkpointed by the caller first.
    cur = df.select(id_col, text_col)

    # tier 0: exact
    t0 = _mat(exact_dedupe(cur, text_col=text_col, id_col=id_col))
    _record("exact", cur, t0)
    cur = t0

    # tier 1: line-level boilerplate removal, then drop docs it emptied
    cleaned_col = text_col
    if line_min_dup_docs is not None:
        lines = line_dedupe(
            cur,
            id_col=id_col,
            text_col=text_col,
            min_dup_docs=line_min_dup_docs,
            out_col="cleaned_text",
        ).select(id_col, "cleaned_text")
        t1 = _mat(cur.join(lines, id_col).where(F.col("cleaned_text") != ""))
        cleaned_col = "cleaned_text"
        _record("line_boilerplate", cur, t1)
        # tier 1b: exact again on the cleaned text — boilerplate stripping
        # can reveal verbatim duplicates the raw digest could not see
        t1b = _mat(exact_dedupe(t1, text_col=cleaned_col, id_col=id_col))
        _record("exact_after_line", t1, t1b)
        cur = t1b

    # tier 1c: exact-substring span removal on the (possibly line-cleaned)
    # text — catches verbatim RUNS that cross line boundaries, which the
    # line tier by construction cannot see
    if substring_window_tokens is not None:
        from daft_minhash_dedupe_spark.extras.exact_substring import (
            remove_duplicate_spans,
        )

        spans = remove_duplicate_spans(
            cur.select(id_col, F.col(cleaned_col).alias("__substr_in")),
            text_col="__substr_in",
            id_col=id_col,
            window_tokens=substring_window_tokens,
            out_col="substr_text",
        ).select(id_col, "substr_text")
        t1c = _mat(cur.join(spans, id_col).where(F.col("substr_text") != ""))
        cleaned_col = "substr_text"
        _record("substr_spans", cur, t1c)
        # tier 1d: exact again — cutting shared runs can reveal verbatim
        # duplicates, exactly as tier 1b does after line removal
        t1d = _mat(exact_dedupe(t1c, text_col=cleaned_col, id_col=id_col))
        _record("exact_after_substr", t1c, t1d)
        cur = t1d

    # tier 2: MinHash near-dup on the cleaned text. Ids round-trip through
    # their string form (the pipeline's index is a string key), so the tier
    # is id-type agnostic — long doc_ids and URL strings both work.
    if run_minhash:
        cfg = minhash_config or DedupeConfig(
            **{
                "index_col": "__tier_id",
                "content_col": cleaned_col,
                "verify_pairs": False,
                **(minhash_overrides or {}),
            }
        )
        pipe_in = cur.select(
            F.col(id_col).cast("string").alias(cfg.index_col),
            F.col(cleaned_col).alias(cfg.content_col),
        )
        res = MinHashDedupePipeline(cfg).run(pipe_in)
        kept_ids = res["results"].select(F.col(cfg.index_col).alias("__kept_sid"))
        t2 = _mat(
            cur.withColumn("__sid", F.col(id_col).cast("string"))
            .join(
                kept_ids,
                F.col("__sid") == F.col("__kept_sid"),
                "left_semi",
            )
            .drop("__sid")
        )
        _record("minhash", cur, t2)
        cur = t2

    return {"survivors": cur, "metrics": metrics, "cleaned_col": cleaned_col}


def tiered_stats(result: dict) -> DataFrame:
    """Metrics as a one-row-per-tier DataFrame (for sinks/reporting)."""
    survivors = result["survivors"]
    spark = survivors.sparkSession
    metrics = result["metrics"]
    table = pa.table(
        {k: [m[k] for m in metrics] for k in ("tier", "docs_in", "docs_out")}
    )
    return spark.createDataFrame(table, "tier string, docs_in long, docs_out long")
