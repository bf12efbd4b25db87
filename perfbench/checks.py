"""Correctness checks.  Every check runs outside the timed spans.

The comparisons are multiset digests: rows are rendered, sorted and
hashed, so two tables agree iff they hold the same rows the same
number of times.  Reference sides that do not depend on the engine
(the DuckDB twins, the exact near-duplicate clustering) are computed
once per seed and cached on disk by the caller.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import pyarrow.dataset as ds

# the stage tables a build or refresh leaves under its output root
STAGE_TABLES = ("triples_raw", "same_as", "canonical", "triples", "entities")
# near-duplicate threshold: the dedup workload's and its exact reference's
JACCARD_THRESHOLD = 0.6


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def table_rows(path: str, columns: list[str] | None = None) -> list[tuple]:
    """Rows of a parquet table directory as written by the engine
    (hive ``p_hash=`` buckets included; ``_``/``.`` side files such as
    ``_frontier`` and ``_schema.json`` excluded).  Without ``columns``
    every column is read, in name order: a bucket rewritten by an
    upsert may store the same columns in another order."""
    d = ds.dataset(
        path, format="parquet", partitioning="hive",
        ignore_prefixes=["_", "."], exclude_invalid_files=True,
    )
    t = d.to_table(columns=columns or sorted(d.schema.names))
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def triples_digest(root: str) -> str:
    """``(subj, pred, obj)`` multiset of a root's final ``triples``."""
    return digest(table_rows(os.path.join(root, "triples"), ["subj", "pred", "obj"]))


def stage_digests(root: str) -> dict[str, str]:
    return {t: digest(table_rows(os.path.join(root, t))) for t in STAGE_TABLES}


def stages_equal(refreshed: dict[str, str], rebuilt: dict[str, str]) -> list[str]:
    """Names of the stage tables whose contents differ."""
    return [t for t in STAGE_TABLES if refreshed.get(t) != rebuilt.get(t)]


def replies_key(rows) -> Counter:
    """``replies_to`` edges as a multiset of (subj, obj, conv_id, turn_idx)
    from rows of (subj, pred, obj, conv_id, turn_idx)."""
    return Counter((r[0], r[2], r[3], r[4]) for r in rows if r[1] == "replies_to")


def refines(star: dict, exact: dict) -> list[tuple]:
    """Pairs of documents the star clustering merges but the exact
    clustering keeps apart (empty iff ``star`` refines ``exact``).
    Both arguments map doc_id -> cluster label."""
    bad = []
    first: dict = {}
    for doc, c in sorted(star.items()):
        if c in first and exact.get(first[c]) != exact.get(doc):
            bad.append((first[c], doc))
        first.setdefault(c, doc)
    return bad


def exact_clusters(docs: list[tuple]) -> dict:
    """Exact token-Jaccard connected components over ALL document
    pairs: doc_id -> min doc_id of its component.  Tokens as the
    engine's ``dedup._tokens`` (lower-case, whitespace split, distinct).
    Vectorised as a 0/1 doc x vocabulary product, so a few thousand
    documents take well under a second."""
    import numpy as np

    sets = [(d, set(t.lower().split())) for d, t in docs]
    vocab = {w: i for i, w in enumerate(sorted({w for _, s in sets for w in s}))}
    m = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for i, (_, s) in enumerate(sets):
        m[i, [vocab[w] for w in s]] = 1.0
    # counts are exact in float32; the ratio is taken in float64, the
    # engine's double division
    inter = (m @ m.T).astype(np.float64)
    size = m.sum(axis=1).astype(np.float64)
    union = size[:, None] + size[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        hit = (inter / union) >= JACCARD_THRESHOLD
    ids = [d for d, _ in sets]
    parent = list(range(len(ids)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i, j in zip(*np.nonzero(np.triu(hit, k=1))):
        ri, rj = find(int(i)), find(int(j))
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)
    roots: dict = {}
    for i in range(len(ids)):
        roots.setdefault(find(i), []).append(ids[i])
    return {d: min(members) for members in roots.values() for d in members}
