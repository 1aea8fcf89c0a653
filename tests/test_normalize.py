"""Normalization semantics pinned by the reference
(tests/test_minhash_dedupe_unit.py:194-214)."""

import re
import sys
import unicodedata

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from daft_minhash_dedupe_spark.functions.normalize import _PUNCT_CLASS, normalize_text

# composed form on input; NFD keeps the combining acute after decomposition
PINNED_IN = "Hello, World! cafés  \t\n"


def _norm(spark, text, flags):
    df = spark.createDataFrame([(text,)], "block_text string")
    remove_punct, lowercase, nfd, ws = flags
    return df.select(
        normalize_text(F.col("block_text"), remove_punct, lowercase, nfd, ws).alias("n")
    ).first()["n"]


def test_normalize_all_flags_pinned(spark):
    # reference pin: all-flags → "hello world cafés"
    # (tests/test_minhash_dedupe_unit.py:202-214)
    assert _norm(spark, PINNED_IN, (True, True, True, True)) == "hello world cafés"


def test_normalize_no_flags_identity(spark):
    assert _norm(spark, PINNED_IN, (False, False, False, False)) == PINNED_IN


def test_normalize_pipeline_default_flags(spark):
    # pipeline defaults: remove_punct=True, lowercase=False, nfd=True, ws=True
    assert _norm(spark, PINNED_IN, (True, False, True, True)) == "Hello World cafés"


@pytest.mark.parametrize(
    "flags",
    [
        (True, True, True, True),
        (True, False, True, True),
        (False, True, False, True),
        (True, True, False, False),
    ],
)
def test_normalize_idempotent(spark, flags):
    samples = [
        PINNED_IN,
        "  a  b\tc\nd  ",
        "ABC!!! def??? Ééñ",
        "",
        "no-punct but-dashes",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    once = df.select(normalize_text(F.col("t"), *flags).alias("n"))
    twice = once.select(normalize_text(F.col("n"), *flags).alias("n"))
    assert [r["n"] for r in once.collect()] == [r["n"] for r in twice.collect()]


def test_normalize_null_safe(spark):
    df = spark.createDataFrame([(None,)], "t string")
    out = df.select(normalize_text(F.col("t")).alias("n")).first()["n"]
    assert out is None


def _reference(text, flags):
    """Pure-Python normalize: ``re`` plus ``unicodedata.normalize("NFD")``.
    Java's ``\\s`` and Spark's ``trim`` are ASCII-only, so the whitespace
    step spells out the same classes."""
    if text is None:
        return None
    remove_punct, lowercase, nfd, ws = flags
    if remove_punct:
        text = re.sub(_PUNCT_CLASS, "", text)
    if lowercase:
        text = text.lower()
    if nfd:
        text = unicodedata.normalize("NFD", text)
    if ws:
        text = re.sub(r"[ \t\n\x0b\f\r]+", " ", text).strip(" ")
    return text


def test_normalize_text_matches_python_reference(spark):
    """The JVM's NFD (ICU4J through ``reflect``) against ``unicodedata``."""
    samples = [
        PINNED_IN,
        "pure ascii text  here",
        "",
        None,
        "mixé ascii ñon",
        "Ünïcode  only",
        # marks of combining class 230 then 220 reorder to 220 then 230
        "a\u0301\u0323",
        # a Hangul syllable decomposes into its three jamo
        "\ud55c",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i long, t string")
    for flags in [(True, True, True, True), (True, False, True, True), (False, False, True, False)]:
        got = {
            r["i"]: r["n"]
            for r in df.select("i", normalize_text(F.col("t"), *flags).alias("n")).collect()
        }
        assert got == {i: _reference(s, flags) for i, s in enumerate(samples)}, flags
    # NFD alone (the last flags): canonical reordering and Hangul
    assert got[6] == "a\u0323\u0301"
    assert got[7] == "\u1112\u1161\u11ab"

    # every codepoint Python's Unicode database assigns, surrogates excluded
    # (Cs is a category of its own, not Cn), NFD alone, checked in one job
    assigned = [
        chr(cp)
        for cp in range(sys.maxunicode + 1)
        if unicodedata.category(chr(cp)) not in ("Cn", "Cs")
    ]
    chars = spark.createDataFrame(pa.table({"c": assigned}), "c string")
    nfd = normalize_text(F.col("c"), False, False, True, False)
    changed = chars.select("c", nfd.alias("n")).where(F.col("n") != F.col("c"))
    decomposed = {r["c"]: r["n"] for r in changed.collect()}
    expected = {
        c: unicodedata.normalize("NFD", c)
        for c in assigned
        if unicodedata.normalize("NFD", c) != c
    }
    assert decomposed == expected
