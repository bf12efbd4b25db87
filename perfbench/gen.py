"""Seeded input generators for the benchmark workloads.

Pure Python + pyarrow: generation never touches the Spark engine, so
it warms nothing and counts in no timing.  The same seed always gives
byte-identical inputs (perfbench/tests asserts it).

- ``corpus_rows`` / ``write_corpus``: the ``synth`` transcript corpus,
  row-for-row what ``synth.write_corpus_parquet(seed=...)`` writes for
  the same seed (same chunk seeding and conversation-id prefixes),
  without a session.
- ``TickPlan``: refresh ticks.  Sparse ticks change exactly
  ``SPARSE_K`` conversations picked with the seeded RNG; bulk ticks
  change ``BULK_SHARE`` (1%) of them.  Each changed conversation gains
  one new turn whose text comes
  from the same payload vocabulary as ``synth``: exact aliases and
  dependency cues in every tick, and in bulk ticks also noisy
  ``[[wikilink]]`` variants, so bulk ticks usually add surfaces (and
  run the link and canonicalize refresh paths) while sparse ticks
  stay on the pure O(delta) extraction path.
- ``write_stream_input``: shuffled (out-of-order) turn files plus two
  watermark sentinels that sort last.
- ``make_docs``: token-soup documents with a chosen near-duplicate
  share.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from datetime import timedelta

import pyarrow as pa
import pyarrow.parquet as pq

from lexicator_spark import rules, synth

TURN_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string(), nullable=False),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us"), nullable=False),
    ]
)
DOC_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.int64(), nullable=False), pa.field("text", pa.string())]
)

_CHUNK_CONVS = 20_000  # synth.write_corpus_parquet's default chunking
SPARSE_K = 10  # conversations a sparse tick changes
BULK_SHARE = 0.01  # share of conversations a bulk tick changes


def corpus_rows(n_convs: int, seed: int) -> list[tuple]:
    """The rows ``synth.write_corpus_parquet(n_convs=..., seed=...)``
    writes, in generation order (conversation by conversation, turns in
    order)."""
    rows: list[tuple] = []
    for start in range(0, n_convs, _CHUNK_CONVS):
        n = min(_CHUNK_CONVS, n_convs - start)
        corpus = synth.make_corpus(n_convs=n, seed=seed + start, shuffled=False)
        rows.extend((f"c{start:06d}_{r[0]}",) + r[1:] for r in corpus.rows)
    return rows


def corpus_turns(n_turns: int, seed: int) -> list[tuple]:
    """The first ``n_turns`` turns of the seeded corpus: whole
    conversations plus a prefix of one more.  A fixed row count keeps
    the work per operation the same for every seed (conversation sizes
    are heavy-tailed, so a fixed conversation count is not)."""
    n_convs = max(1, n_turns // 2)
    rows = corpus_rows(n_convs, seed)
    while len(rows) < n_turns:
        # a larger corpus of the same seed starts with the same conversations
        n_convs *= 2
        rows = corpus_rows(n_convs, seed)
    return rows[:n_turns]


def _table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _write_files(path: str, rows: list[tuple], schema: pa.Schema, n_files: int) -> None:
    """Round-robin ``rows`` into ``n_files`` parquet files under the
    directory ``path`` (replaced atomically, so an interrupted write
    never leaves a half-written input behind)."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for i in range(n_files):
        pq.write_table(_table(rows[i::n_files], schema), f"{tmp}/part-{i:05d}.parquet")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def write_corpus(path: str, rows: list[tuple]) -> None:
    _write_files(path, rows, TURN_SCHEMA, 4)


def _new_turn_text(rng: random.Random, noisy_share: float) -> str:
    """One new turn's text, drawn from synth's payload vocabulary."""
    words = rng.choices(synth.FILLER, k=rng.randrange(4, 12))
    if rng.random() < 0.6:
        words.insert(rng.randrange(len(words) + 1), rng.choice(synth._ALL_ALIASES))
    if rng.random() < noisy_share:
        noisy = synth._noisy_variant(rng, rng.choice(synth._ALL_ALIASES))
        words.insert(rng.randrange(len(words) + 1), f"[[{noisy}]]")
    if rng.random() < 0.15:
        a, b = rng.sample(synth._ALL_ALIASES, 2)
        words.append(f"{a} depends on {b}")
    return " ".join(words)


@dataclass
class Tick:
    kind: str  # "sparse" | "bulk"
    changed: list[str]  # conversation ids gaining a turn
    rows: list[tuple]  # the new turns
    n_turns_changed: int  # turns of the changed conversations after the tick


@dataclass
class TickPlan:
    """A deterministic sequence of refresh ticks over a base corpus:
    tick ``i`` draws from an RNG seeded by (seed, i) and extends the
    conversations as the ticks before it left them, so the same seed
    and kinds always give the same ticks."""

    base_rows: list[tuple]
    seed: int
    _last: dict = field(default_factory=dict)  # conv_id -> (turn_idx, ts)
    _n_turns: dict = field(default_factory=dict)
    _convs: list = field(default_factory=list)
    n_ticks: int = 0

    def __post_init__(self):
        for r in self.base_rows:
            conv, idx, ts = r[0], r[1], r[5]
            self._n_turns[conv] = self._n_turns.get(conv, 0) + 1
            if conv not in self._last or idx > self._last[conv][0]:
                self._last[conv] = (idx, ts)
        self._convs = sorted(self._last)

    @property
    def bulk_k(self) -> int:
        return max(SPARSE_K + 1, int(len(self._convs) * BULK_SHARE))

    def next_tick(self, kind: str) -> Tick:
        rng = random.Random(f"tick:{self.seed}:{self.n_ticks}")
        self.n_ticks += 1
        k = SPARSE_K if kind == "sparse" else self.bulk_k
        changed = sorted(rng.sample(self._convs, k))
        rows = []
        for conv in changed:
            idx, ts = self._last[conv]
            idx, ts = idx + 1, ts + timedelta(seconds=rng.randrange(1, 120))
            role = "user" if idx % 2 == 0 else "assistant"
            noisy = 0.0 if kind == "sparse" else 0.35
            rows.append((conv, idx, role, _new_turn_text(rng, noisy), None, ts))
            self._last[conv] = (idx, ts)
            self._n_turns[conv] += 1
        return Tick(kind, changed, rows, sum(self._n_turns[c] for c in changed))


def write_rows(path: str, rows: list[tuple]) -> None:
    _write_files(path, rows, TURN_SCHEMA, 1)


SENTINEL_CONV = "wm_sentinel"


def write_stream_input(path: str, rows: list[tuple], seed: int) -> None:
    """Turn files in shuffled (out-of-order) arrival order, plus two
    watermark sentinels 90 and 91 days past the epoch whose mtimes sort
    after every data file: with 6 files per trigger the drain is
    [6 data], [5 data + sentinel], [sentinel], so the advanced
    watermark fires every event-time timeout and the drain includes
    flushing the buffered state (the ``bench.py`` stream layout)."""
    rng = random.Random(f"stream:{seed}")
    shuffled = list(rows)
    rng.shuffle(shuffled)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    base = 1_700_000_000  # fixed mtimes: the file source orders by them
    n_files = 11
    for i in range(n_files):
        f = f"{tmp}/part-{i:05d}.parquet"
        pq.write_table(_table(shuffled[i::n_files], TURN_SCHEMA), f)
        os.utime(f, (base + i, base + i))
    far = synth.EPOCH + timedelta(days=90)
    for i in range(2):
        f = f"{tmp}/zz_sentinel_{i}.parquet"
        row = (SENTINEL_CONV, i, "user", "advance", None, far + timedelta(days=i))
        pq.write_table(_table([row], TURN_SCHEMA), f)
        os.utime(f, (base + 1000 + i, base + 1000 + i))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


# English-like vocabulary: the curation gates (langid markers, stopword
# share, token length) keep most of these documents, so packing has work
_DOC_VOCAB = sorted(
    set(synth.FILLER)
    | set(rules.TOOL_VOCAB)
    | {rules.normalize_surface(a) for a in synth._ALL_ALIASES}
    | {
        f"{stem}{suffix}"
        for stem in (
            "stream", "table", "graph", "query", "model", "token", "batch",
            "shard", "index", "cache", "merge", "split", "score", "label",
            "entity", "record", "window", "bucket", "filter", "schema",
        )
        for suffix in ("", "s", "ing", "ed", "er")
    }
)
_MARKERS = ("the", "and", "of", "the", "a", "to", "in")


def make_docs(n_docs: int, dup_share: float, seed: int) -> list[tuple]:
    """``(doc_id, text)`` rows: a ``dup_share`` fraction of documents are
    near-copies of an earlier original with ~5% of tokens replaced
    (token-set Jaccard well above ``checks.JACCARD_THRESHOLD``); the rest
    are fresh draws."""
    rng = random.Random(f"docs:{seed}:{dup_share}")
    originals: list[list[str]] = []
    rows = []
    for doc_id in range(n_docs):
        if originals and rng.random() < dup_share:
            toks = list(rng.choice(originals))
            for _ in range(max(1, len(toks) // 20)):
                toks[rng.randrange(len(toks))] = rng.choice(_DOC_VOCAB)
        else:
            n = rng.randrange(30, 90)
            toks = [
                rng.choice(_MARKERS) if rng.random() < 0.25 else rng.choice(_DOC_VOCAB)
                for _ in range(n)
            ]
            originals.append(toks)
        rows.append((doc_id, " ".join(toks)))
    return rows


def write_docs(path: str, rows: list[tuple]) -> None:
    """One ``documents.parquet`` file under ``path`` — the layout the
    ``__spark_entry__`` dedup queries and their DuckDB twins read."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(_table(rows, DOC_SCHEMA), f"{tmp}/documents.parquet")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
