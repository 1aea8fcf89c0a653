"""Text normalization (Spark rebuild of Daft's ``Expression.str.normalize``).

Reference call site: workload/minhash_dedupe.py:196-215; semantics pinned by
reference tests/test_minhash_dedupe_unit.py:194-214:

- all-flags: ``"Hello, World! cafés  \\t\\n"`` → ``"hello world cafe\\u0301s"``
  (punct stripped, lowercased, NFD-decomposed keeping combining marks,
  whitespace runs collapsed to single space, trimmed);
- idempotent for every flag combination.

All four steps run JVM-side as Catalyst expressions, so normalization starts
no Python worker. NFD, the one step Spark has no builtin for, calls ICU4J's
``Normalizer.decompose`` through ``reflect`` (ICU4J ships in Spark's own
``jars/``). On every codepoint assigned in Python 3.11's Unicode 14.0 it
equals ``unicodedata.normalize("NFD")``. ICU4J 77 follows Unicode 16.0, so
codepoints assigned in 15.0-16.0 (unassigned to Python 3.11) can decompose
or reorder where Python would leave them as they are.
Application order (remove_punct → lowercase → NFD → whitespace) is chosen so
the composition is idempotent: no later step reintroduces anything an
earlier step removes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ASCII punctuation (Python string.punctuation), regex-escaped as a class.
_PUNCT_CLASS = r"""[!"#$%&'()*+,\-./:;<=>?@\[\\\]^_`{|}~]"""


def _nfd(col: Column) -> Column:
    """Unicode NFD in the JVM. ``reflect`` raises on a null argument, so
    nulls stay null without reaching ICU."""
    return F.when(
        col.isNotNull(),
        F.reflect(
            F.lit("com.ibm.icu.text.Normalizer"), F.lit("decompose"), col, F.lit(False)
        ),
    )


def normalize_text(
    col: Column,
    remove_punct: bool = True,
    lowercase: bool = False,
    nfd_unicode: bool = True,
    white_space: bool = True,
) -> Column:
    """Compose the four normalize steps as a single Column expression."""
    out = col
    if remove_punct:
        out = F.regexp_replace(out, _PUNCT_CLASS, "")
    if lowercase:
        out = F.lower(out)
    if nfd_unicode:
        out = _nfd(out)
    if white_space:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out
