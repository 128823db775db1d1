"""Independent single-process answers the benchmark checks the engine against.

Nothing here calls Spark.  The ER oracle re-derives the blocking rule
(first one/two/three letters, last three letters, consonant skeleton of the
lowercased title), counts distinct shared blocks per pair, purges blocks over
the size cap, prunes at weight > 1.5 and labels components with union-find —
the same semantics as ``plans.pipeline.resolve``, written out longhand.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterable

import numpy as np

PRUNE_THRESHOLD = 1.5


def phonetic_keys(title: str) -> set[str]:
    s = title.lower()
    skeleton = "".join(c for c in s if c.isalpha() and c not in "aeiou")
    return {s[:1], s[:2], s[:3], s[-3:], skeleton}


def pruned_edges(
    titles: Iterable[tuple[str, str]], max_block_size: int | None
) -> tuple[dict[tuple[str, str], int], dict[str, int]]:
    """Weighted edges over ``(record, title)`` rows that survive the prune,
    plus the size of every block before purging.  A record seen with several
    titles (a re-crawled url) holds the union of their keys."""
    blocks: dict[str, set[str]] = defaultdict(set)
    for rec, title in titles:
        for k in phonetic_keys(title):
            blocks[k].add(rec)
    sizes = {k: len(m) for k, m in blocks.items()}
    weights: dict[tuple[str, str], int] = defaultdict(int)
    for members in blocks.values():
        if max_block_size is not None and len(members) > max_block_size:
            continue
        ms = sorted(members)
        for i, a in enumerate(ms):
            for b in ms[i + 1 :]:
                weights[(a, b)] += 1
    kept = {e: w for e, w in weights.items() if w > PRUNE_THRESHOLD}
    return kept, sizes


def union_find(nodes: Iterable, edges: Iterable[tuple]) -> dict:
    """Component label per node: the smallest node of its component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {n: find(n) for n in nodes}


def partition(records: Iterable, labels: Iterable) -> frozenset[frozenset]:
    """The set of clusters, independent of how clusters are labelled."""
    groups: dict = defaultdict(set)
    for r, lb in zip(records, labels):
        groups[lb].add(r)
    return frozenset(frozenset(g) for g in groups.values())


def resolve(
    titles: list[tuple[str, str]], max_block_size: int | None
) -> tuple[frozenset, int, dict[str, int]]:
    """The expected partition, the number of pruned edges and the block
    sizes before purging."""
    edges, sizes = pruned_edges(titles, max_block_size)
    labels = union_find({r for r, _ in titles}, edges)
    return partition(labels.keys(), labels.values()), len(edges), sizes


def pair_counts(pred: dict, truth: dict) -> tuple[int, int, int]:
    """Pairwise (tp, fp, fn) of a predicted clustering against the truth,
    both given as ``record -> cluster label`` over the same records."""
    def c2(n: np.ndarray) -> int:
        return int((n * (n - 1) // 2).sum())

    recs = list(truth)
    p = np.unique([pred[r] for r in recs], return_inverse=True)[1]
    t = np.unique([truth[r] for r in recs], return_inverse=True)[1]
    cells = np.unique(p.astype(np.int64) * (t.max() + 1) + t, return_counts=True)[1]
    tp = c2(cells)
    return tp, c2(np.bincount(p)) - tp, c2(np.bincount(t)) - tp


def f1(tp: int, fp: int, fn: int) -> float:
    if tp == 0:
        return 0.0
    pr, rc = tp / (tp + fp), tp / (tp + fn)
    return 2 * pr * rc / (pr + rc)


def levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


# DuckDB's version of block → weight → purge → prune over a pages parquet,
# keyed by url.  Titles come from the stored ``text`` column, which the
# generators write as exactly the pinned extraction of ``html``.
PRUNED_EDGES_SQL = """
WITH recs AS (
    SELECT DISTINCT url, lower(split_part(text, chr(10), 1)) AS s
    FROM read_parquet('{path}')
), blocks AS (
    SELECT DISTINCT url, block_key FROM (
        SELECT url, unnest([
            substr(s, 1, 1), substr(s, 1, 2), substr(s, 1, 3),
            substr(s, greatest(length(s) - 2, 1), 3),
            regexp_replace(regexp_replace(s, '[^\\p{{L}}]', '', 'g'), '[aeiou]', '', 'g')
        ]) AS block_key FROM recs
    )
), kept AS (
    SELECT b.* FROM blocks b JOIN (
        SELECT block_key FROM blocks GROUP BY block_key HAVING count(*) <= {cap}
    ) USING (block_key)
), edges AS (
    SELECT l.url AS u1, r.url AS u2, count(*) AS weight
    FROM kept l JOIN kept r ON l.block_key = r.block_key AND l.url < r.url
    GROUP BY 1, 2
)
SELECT count(*) AS n,
       coalesce(bit_xor(('0x' || substr(md5(u1 || '|' || u2 || '|' || weight), 1, 15))::BIGINT), 0) AS h
FROM edges WHERE weight > 1.5
"""


def duckdb_pruned_checksum(pages_parquet: str, cap: int) -> tuple[int, int]:
    import duckdb

    con = duckdb.connect()
    try:
        n, h = con.execute(PRUNED_EDGES_SQL.format(path=pages_parquet, cap=cap)).fetchone()
    finally:
        con.close()
    return int(n), int(h)
