"""Correctness checks over the program's outputs, read back on the driver.

Every check returns a list of problems (empty = passed), so one operation can
report all of its failures at once. None of this reuses program code: the
union-find here is the benchmark's own reference.
"""

from __future__ import annotations

import hashlib
from collections import Counter


def cluster_table_problems(expected_ids, block_ids) -> list[str]:
    """Each input doc appears exactly once in the cluster table."""
    counts = Counter(block_ids)
    dup = sum(1 for c in counts.values() if c > 1)
    expected = set(expected_ids)
    missing = len(expected - counts.keys())
    extra = len(counts.keys() - expected)
    out = []
    if dup:
        out.append(f"{dup} docs appear more than once in the cluster table")
    if missing:
        out.append(f"{missing} input docs missing from the cluster table")
    if extra:
        out.append(f"{extra} cluster rows name no input doc")
    return out


def survivor_problems(survivor_ids, components) -> list[str]:
    """Survivors are exactly the distinct components (one per component,
    named by its representative)."""
    survivors = list(survivor_ids)
    comps = set(components)
    out = []
    if len(survivors) != len(comps):
        out.append(f"{len(survivors)} survivors for {len(comps)} components")
    elif set(survivors) != comps:
        out.append("survivor ids differ from component representatives")
    return out


def identical_text_problems(texts, components) -> list[str]:
    """Byte-identical texts share a component."""
    seen: dict[str, object] = {}
    split = 0
    for t, c in zip(texts, components):
        if seen.setdefault(t, c) != c:
            split += 1
    return [f"{split} docs sit in another component than a byte-identical doc"] if split else []


def union_find(edges) -> dict[int, int]:
    """node → minimum node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = parent.setdefault(x, x)
        while root != parent[root]:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in list(parent)}


def partition_problems(got: dict[int, int], want: dict[int, int], what: str) -> list[str]:
    """Two node → representative maps agree; a node absent from a map is its
    own representative."""
    bad = sum(1 for n in got.keys() | want.keys() if got.get(n, n) != want.get(n, n))
    return [f"{bad} nodes labelled differently from {what}"] if bad else []


def assignment_digest(block_ids, components) -> str:
    """Order-independent digest of the (block_id, component) table."""
    h = hashlib.sha256()
    for b, c in sorted(zip(map(str, block_ids), map(str, components))):
        h.update(f"{b}\t{c}\n".encode())
    return h.hexdigest()[:16]
