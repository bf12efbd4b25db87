"""Tests of the benchmark itself: seeded generators are deterministic,
the checks reject corrupted outputs, and a corrupted run is counted in
``ops_failed`` and exits non-zero.

    python3 -m pytest perfbench/tests -q

The last two tests run whole workloads (a minute or two each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, REPO]

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import workloads  # noqa: E402


def _files(path):
    out = {}
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), "rb") as fh:
            out[f] = (fh.read(), int(os.stat(os.path.join(path, f)).st_mtime))
    return out


def test_corpus_is_deterministic_and_seeded(tmp_path):
    a, b = gen.corpus_rows(150, 3), gen.corpus_rows(150, 3)
    assert a == b
    gen.write_corpus(str(tmp_path / "a"), a)
    gen.write_corpus(str(tmp_path / "b"), b)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert gen.corpus_rows(150, 4) != a
    assert sorted(checks.table_rows(str(tmp_path / "a"))) == sorted(
        tuple(r[i] for i in (0, 2, 3, 4, 5, 1)) for r in a  # name order
    )


def test_corpus_turns_is_a_fixed_size_prefix():
    rows = gen.corpus_turns(500, 8)
    assert len(rows) == 500
    assert rows == gen.corpus_rows(250, 8)[:500]
    # the cut conversation keeps a contiguous prefix of its turns
    last = rows[-1][0]
    assert [r[1] for r in rows if r[0] == last] == list(range(sum(r[0] == last for r in rows)))


def test_corpus_matches_synth_write_corpus_parquet(tmp_path):
    """Same rows as ``synth.write_corpus_parquet`` for the same seed."""
    from lexicator_spark import synth
    from lexicator_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1)
    synth.write_corpus_parquet(spark, str(tmp_path / "s"), n_convs=120, seed=9)
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    got = [tuple(r) for r in spark.read.parquet(str(tmp_path / "s")).select(*cols).collect()]
    assert Counter(got) == Counter(gen.corpus_rows(120, 9))


def test_ticks_are_deterministic_and_exact():
    rows = gen.corpus_rows(400, 5)
    p1, p2 = gen.TickPlan(rows, 5), gen.TickPlan(rows, 5)
    kinds = ["sparse", "sparse", "bulk", "sparse"]
    t1 = [p1.next_tick(k) for k in kinds]
    t2 = [p2.next_tick(k) for k in kinds]
    assert [(t.changed, t.rows) for t in t1] == [(t.changed, t.rows) for t in t2]
    for t in t1:
        k = gen.SPARSE_K if t.kind == "sparse" else p1.bulk_k
        assert len(set(t.changed)) == len(t.changed) == len(t.rows) == k
    assert t1[0].changed != gen.TickPlan(rows, 6).next_tick("sparse").changed
    # every new turn extends its conversation by exactly one index
    last = {}
    for r in rows:
        last[r[0]] = max(last.get(r[0], -1), r[1])
    for conv, idx, *_ in t1[0].rows:
        assert idx == last[conv] + 1
    # only bulk ticks carry noisy wikilinks (new surfaces)
    assert not any("[[" in r[3] for t in t1 if t.kind == "sparse" for r in t.rows)
    assert any("[[" in r[3] for r in t1[2].rows)


def test_stream_input_is_deterministic_and_sentinels_sort_last(tmp_path):
    rows = gen.corpus_rows(60, 2)
    gen.write_stream_input(str(tmp_path / "a"), rows, seed=2)
    gen.write_stream_input(str(tmp_path / "b"), rows, seed=2)
    fa = _files(tmp_path / "a")
    assert fa == _files(tmp_path / "b")
    by_mtime = sorted(fa, key=lambda f: fa[f][1])
    assert by_mtime[-2:] == ["zz_sentinel_0.parquet", "zz_sentinel_1.parquet"]
    data = [r for f in by_mtime[:-2] for r in checks.table_rows(str(tmp_path / "a" / f))]
    assert len(data) == len(rows)


def test_docs_are_deterministic_with_the_requested_duplicate_share():
    hi = gen.make_docs(400, 0.5, 1)
    assert hi == gen.make_docs(400, 0.5, 1)
    lo = gen.make_docs(400, 0.05, 1)
    dup_share = lambda docs: 1 - len(set(checks.exact_clusters(docs).values())) / len(docs)
    assert 0.35 <= dup_share(hi) <= 0.6
    assert dup_share(lo) <= 0.12


def test_exact_clusters_matches_brute_force():
    docs = gen.make_docs(120, 0.4, 7)
    toks = {d: set(t.split()) for d, t in docs}
    parent = {d: d for d, _ in docs}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in toks:
        for b in toks:
            jaccard = len(toks[a] & toks[b]) / len(toks[a] | toks[b])
            if a < b and jaccard >= checks.JACCARD_THRESHOLD:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for d in toks:
        groups.setdefault(find(d), []).append(d)
    want = {d: min(g) for g in groups.values() for d in g}
    assert checks.exact_clusters(docs) == want


def _write_table(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i in range(2):
        part = rows[i::2]
        pq.write_table(
            pa.table({"subj": [r[0] for r in part], "pred": [r[1] for r in part],
                      "obj": [r[2] for r in part], "conv_id": [r[3] for r in part],
                      "turn_idx": [r[4] for r in part]}),
            os.path.join(path, f"part-{i}.parquet"),
        )


def test_digest_is_a_multiset_digest():
    rows = [("a", "p", "b"), ("c", "p", "d")]
    assert checks.digest(rows) == checks.digest(list(reversed(rows)))
    assert checks.digest(rows) != checks.digest(rows + rows[:1])
    assert checks.stages_equal({"triples": "x"}, {"triples": "y"}) == ["triples"]


def test_corrupted_build_output_fails_its_check(tmp_path):
    rows = [(f"s{i}", "mentions", f"o{i}", "c", i) for i in range(6)]
    root = tmp_path / "root"
    _write_table(str(root / "triples"), rows)
    before = checks.triples_digest(str(root))
    workloads._corrupt_table(str(root / "triples"))
    assert checks.triples_digest(str(root)) != before


def test_corrupted_stream_output_fails_its_check(tmp_path):
    rows = [(f"t{i}", "replies_to", f"t{i - 1}", "c", i) for i in range(1, 7)]
    _write_table(str(tmp_path / "out"), rows)
    want = checks.replies_key(rows)
    assert checks.replies_key(checks.table_rows(str(tmp_path / "out"), list(
        ("subj", "pred", "obj", "conv_id", "turn_idx")))) == want
    workloads._corrupt_table(str(tmp_path / "out"))
    got = checks.replies_key(checks.table_rows(str(tmp_path / "out"), list(
        ("subj", "pred", "obj", "conv_id", "turn_idx"))))
    assert got != want


def test_corrupted_dedup_clusters_fail_their_check():
    docs = gen.make_docs(200, 0.5, 3)
    exact = checks.exact_clusters(docs)
    star = dict(exact)  # the exact clustering refines itself
    assert checks.refines(star, exact) == []
    workloads._merge_two_exact_clusters(star, exact)
    assert checks.refines(star, exact)


def _run(workload, *extra):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
         "--seconds", "1", "--trace", "0", *extra],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_corrupted_run_counts_failed_ops_and_exits_nonzero(workload):
    code, out = _run(workload, "--corrupt")
    assert code != 0
    assert out["correct"] is False
    assert 1 <= out["failed"] <= out["attempted"]


def test_tree_cpu_counts_child_processes():
    before = harness.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(range(30_000_000))"], check=True)
    assert harness.tree_cpu_s() - before >= 0.2  # the reaped child's CPU time


def test_end_to_end_names_match_benchmark_json():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cycle = ({"jobs": 3, "tasks": 7}, {"jobs": 1, "tasks": 2})
    work = workloads.work_metrics([cycle], workloads.BOUNDED_WORK)
    assert work["jobs_per_cycle"] == (4, "count")
    printed = {"setup_s": "s", "peak_rss_mb": "MB", **{k: u for k, (_, u) in work.items()}}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == printed
