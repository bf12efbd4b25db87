"""End-to-end pipeline parity (the BASELINE.json metric check),
resume-from-checkpoint, and lineage tests (SURVEY.md §5 items 1/5)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lexicator_spark import synth
from lexicator_spark.plans.pipeline import run_pipeline, triples_of
from tests import oracle


def _tset(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


def test_full_pipeline_pr_against_oracle(spark, tmp_path):
    """Triple P/R ≥ 0.95 vs the pure-Python reference-semantics oracle
    (target 1.0 — same rules, so any gap is a distributed bug)."""
    corpus = synth.make_corpus(n_convs=120, seed=42)
    df = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(spark, df, out, resume=False)
    got = _tset(triples_of(spark, out))
    expected = oracle.full_oracle(corpus.rows)
    p, r = oracle.precision_recall(got, expected)
    assert p >= 0.95 and r >= 0.95, f"precision={p:.4f} recall={r:.4f}"
    assert got == expected, (
        f"exact parity expected; extra={sorted(got - expected)[:5]} "
        f"missing={sorted(expected - got)[:5]}"
    )


def test_pipeline_resume_skips_done_stages(spark, tmp_path):
    corpus = synth.make_corpus(n_convs=40, seed=8)
    df = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")

    res1 = run_pipeline(spark, df, out, resume=True)
    assert res1.stages_run and not res1.stages_skipped
    first = _tset(triples_of(spark, out))

    # second run must skip every stage and produce identical tables
    res2 = run_pipeline(spark, df, out, resume=True)
    assert not res2.stages_run
    assert set(res2.stages_skipped) == set(res1.stages_run)
    assert _tset(triples_of(spark, out)) == first


def test_rebuild_with_stop_after_leaves_no_stale_downstream(spark, tmp_path):
    """resume=False means REBUILD: when stop_after truncates the run
    before the downstream stages, their tables from the PREVIOUS
    corpus must be deleted, not left serving mixed-corpus answers to
    direct readers (triples_of reads the table path, not markers)."""
    out = str(tmp_path / "kg")
    corpus_a = synth.make_corpus(n_convs=40, seed=8)
    run_pipeline(spark, synth.corpus_df(spark, corpus_a), out)
    assert os.path.exists(os.path.join(out, "triples"))

    corpus_b = synth.make_corpus(n_convs=25, seed=99)
    res = run_pipeline(
        spark, synth.corpus_df(spark, corpus_b), out,
        resume=False, stop_after="extract",
    )
    assert res.stages_run == ["extract"]
    for stale in ("same_as", "canonical", "triples", "entities"):
        assert not os.path.exists(os.path.join(out, stale)), stale

    # finishing the run later picks up from the checkpoint and the
    # final graph describes corpus B alone
    run_pipeline(spark, synth.corpus_df(spark, corpus_b), out, resume=True)
    fresh = str(tmp_path / "fresh")
    run_pipeline(spark, synth.corpus_df(spark, corpus_b), fresh)
    assert _tset(triples_of(spark, out)) == _tset(triples_of(spark, fresh))


def test_pipeline_resume_mid_run(spark, tmp_path):
    """Kill after Stage A (simulated by a first run whose later
    checkpoints are removed), rerun, assert identical final tables and
    that Stage A was skipped."""
    corpus = synth.make_corpus(n_convs=40, seed=9)
    df = synth.corpus_df(spark, corpus)
    out_full = str(tmp_path / "full")
    run_pipeline(spark, df, out_full, resume=False)
    want = _tset(triples_of(spark, out_full))

    out = str(tmp_path / "resumed")
    run_pipeline(spark, df, out, resume=False)
    # simulate mid-run kill: drop every checkpoint after extract
    for stage in ("link", "canonicalize", "materialize", "entities"):
        os.remove(os.path.join(out, "_checkpoints", f"{stage}.json"))
    res = run_pipeline(spark, df, out, resume=True)
    assert "extract" in res.stages_skipped
    assert "link" in res.stages_run
    assert _tset(triples_of(spark, out)) == want


def test_entities_dimension_table(spark, tmp_path):
    """Entities table carries blocking key, link score, mention counts
    and the canonical flag (FIXTURES.md §4 schema)."""
    from lexicator_spark import rules
    from lexicator_spark.sources import io as sio

    corpus = synth.make_corpus(n_convs=60, seed=42)
    out = str(tmp_path / "kg")
    res = run_pipeline(spark, synth.corpus_df(spark, corpus), out, resume=False)
    ents = sio.read_table(spark, res.entities_path)
    assert ents.columns == [
        "canonical_id", "surface_form", "block_key", "score", "n_mentions",
        "n_convs", "first_seen", "last_seen", "is_canonical",
    ]
    rows = {r.surface_form: r for r in ents.collect()}
    assert rows, "entities table must not be empty"
    for r in rows.values():
        assert r.block_key == rules.block_key(r.surface_form)
        assert r.is_canonical == (r.surface_form == r.canonical_id)
        assert r.n_mentions >= 0
        assert 0 <= r.n_convs <= r.n_mentions
        # seen-range present iff the surface is actually mentioned
        assert (r.first_seen is None) == (r.n_mentions == 0)
        if r.first_seen is not None:
            assert r.first_seen <= r.last_seen
        assert r.score is None or 0.0 <= r.score <= 1.0
    # canonical members score 1.0 by identity
    assert all(r.score == 1.0 for r in rows.values() if r.is_canonical)
    # linked (non-canonical) members carry the Stage-B link confidence
    linked = [r for r in rows.values() if not r.is_canonical]
    assert linked and all(r.score >= rules.LINK_SCORE_THRESHOLD for r in linked)
    # mention counts agree with the raw triple table
    triples = triples_of(spark, out)
    mention_spark = triples.filter(
        f"pred = '{rules.PRED_MENTIONS}' AND obj = 'spark'"
    )
    if "spark" in rows:
        assert rows["spark"].n_mentions == mention_spark.count()
        assert (
            rows["spark"].n_convs
            == mention_spark.select("conv_id").distinct().count()
        )
        lo, hi = mention_spark.select(
            F.min("extracted_at"), F.max("extracted_at")
        ).first()
        assert (rows["spark"].first_seen, rows["spark"].last_seen) == (lo, hi)


def test_entity_tool_affinity_matches_oracle(spark):
    """The flagship KG analytics question (SURVEY §3): Spark answer ==
    the same derivation over the pure-Python oracle triples."""
    import __spark_entry__ as entrymod

    got = {
        (r.tool, r.canonical_id, r.n_convs)
        for r in entrymod.queries()["kg_entity_tool_affinity"](spark, "").collect()
    }

    from lexicator_spark import rules, synth

    corpus = synth.make_corpus(n_convs=300, seed=42)
    triples = oracle.full_oracle(corpus.rows)
    canon = {s: o for s, p, o in triples if p == rules.PRED_CANONICAL_OF}
    conv_of_turn = {}  # turn uri -> conv
    mentions, tools = [], []
    for s, p, o in triples:
        if p == rules.PRED_MENTIONS:
            mentions.append((s.split("#")[0], o))
        elif p == rules.PRED_USES_TOOL:
            tools.append((s.split("#")[0], o))
    pairs = {}
    tool_by_conv = {}
    for conv, tool in tools:
        tool_by_conv.setdefault(conv, set()).add(tool)
    for conv, surface in mentions:
        if surface not in canon:
            continue
        for tool in tool_by_conv.get(conv, ()):
            pairs.setdefault((tool, canon[surface]), set()).add(conv)
    expected = {(t, c, len(convs)) for (t, c), convs in pairs.items()}
    assert got == expected


def test_cli_dedup_verb(spark, tmp_path):
    """--dedup runs near-dup cluster assignment instead of the KG
    pipeline: (doc_id, cluster_id, keep) parquet with one keep per
    cluster, every input doc present."""
    import json
    import subprocess
    import sys

    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "alpha beta gamma delta"), (4, "something entirely else")],
        "doc_id long, text string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "clusters")
    r = subprocess.run(
        [sys.executable, "-m", "lexicator_spark",
         "--input", docs_path, "--out", out,
         "--dedup", "minhash_star", "--threshold", "0.6", "--cpus", "4"],
        capture_output=True, text=True, cwd="/root/repo", timeout=420,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    stats = [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")][-1]
    assert stats["docs"] == 4 and stats["clusters"] + stats["dropped"] == 4
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2, 3, 4}
    # docs 1/2 are identical → same cluster, min id kept
    assert rows[1].cluster_id == rows[2].cluster_id == 1
    assert rows[1].keep and not rows[2].keep
    assert rows[4].keep  # singleton keeps itself


def test_cli_graph_verb(spark, tmp_path):
    """--graph runs analytics over a previously materialized kg root:
    build a small KG with --synth, then pagerank its mention
    co-occurrence graph — ranks sum to 1, parquet written to --out."""
    import json
    import subprocess
    import sys

    kg = str(tmp_path / "kg")
    out = str(tmp_path / "ranks")

    def cli(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark", *argv, "--cpus", "4"],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")][-1]

    cli("--synth", "60", "--out", kg)
    stats = cli("--input", kg, "--out", out,
                "--graph", "pagerank", "--tol", "1e-9", "--iterations", "50")
    assert stats["graph"] == "pagerank" and stats["rows"] > 0
    ranks = spark.read.parquet(out)
    assert abs(sum(r.rank for r in ranks.collect()) - 1.0) < 1e-9


def test_cli_full_run_then_incremental_refresh(tmp_path):
    """CLI driver (SURVEY §2 #13): full run, then --refresh on the same
    out root — every stage table is updated O(delta) in place (no
    stage recompute), and a refresh of an unchanged corpus touches
    nothing."""
    import json
    import subprocess
    import sys

    out = str(tmp_path / "kg")

    def run_cli(n_convs, *extra):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark",
             "--synth", str(n_convs), "--out", out, "--cpus", "4", *extra],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines()
                if l.startswith("{")]

    first = run_cli(60)[-1]
    assert set(first["stages_run"]) == {
        "extract", "link", "canonicalize", "materialize", "entities"
    }

    # grow the corpus → refresh re-extracts the new conversations and
    # syncs every downstream table; the complete root needs no build
    msgs = run_cli(80, "--refresh")
    assert len(msgs) == 1
    stats = msgs[0]
    assert stats["refreshed_convs"] > 0 and stats["buckets_touched"] > 0
    assert stats["stages_refreshed"][0] == "extract"
    assert {"materialize", "entities"} <= set(stats["stages_refreshed"])

    # same corpus again → true no-op: nothing re-extracted, no stage
    # table touched
    msgs = run_cli(80, "--refresh")
    assert len(msgs) == 1
    assert msgs[0]["refreshed_convs"] == 0
    assert msgs[0]["buckets_touched"] == 0
    assert msgs[0]["stages_refreshed"] == []


def test_cli_flag_conflicts_error_before_jvm():
    # --refresh must REJECT a --stage cutoff and the build-only flags
    # instead of silently ignoring them; argparse errors fire before
    # any SparkSession is built, so this is JVM-free
    import pytest

    from lexicator_spark.__main__ import main

    base = ["--synth", "5", "--out", "/tmp/unused"]
    for extra in (
        ["--refresh", "--stage", "extract"],
        ["--refresh", "--no-resume"],
        ["--refresh", "--backfill", "4"],
    ):
        with pytest.raises(SystemExit) as exc:
            main(base + extra)
        assert exc.value.code == 2


def test_lineage_written(spark, tmp_path):
    corpus = synth.make_corpus(n_convs=10, seed=4)
    df = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(spark, df, out, resume=False)
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert {"extract", "link", "canonicalize", "materialize", "entities"} <= stages
    assert lin.filter("rows_out < 0").count() == 0
    # per-partition lineage (FIXTURES §4): bucket-partitioned stages
    # carry one row per p_hash, and the bucket counts sum to the
    # stage-level rows_out
    for stage in ("extract", "materialize"):
        stage_total = lin.filter(
            f"stage = '{stage}' AND partition_id = -1"
        ).collect()[0].rows_out
        parts = lin.filter(f"stage = '{stage}' AND partition_id >= 0").collect()
        assert parts, f"no per-partition lineage for {stage}"
        assert sum(p.rows_out for p in parts) == stage_total
        assert all(0 <= p.partition_id for p in parts)


def test_empty_input_pipeline_completes(spark, tmp_path):
    """An all-empty corpus must flow through every stage: the bucketed
    stage writes leave only schema sidecars (zero parquet footers),
    and lineage/bucket accounting must read that back as zero rows —
    not crash on schema inference (ADVICE r4: _bucket_counts)."""
    corpus = synth.make_corpus(n_convs=2, seed=1)
    df = synth.corpus_df(spark, corpus).filter(F.lit(False))
    out = str(tmp_path / "kg")
    res = run_pipeline(spark, df, out, resume=False)
    assert set(res.stages_run) == {
        "extract", "link", "canonicalize", "materialize", "entities"
    }
    assert triples_of(spark, out).count() == 0
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    assert lin.filter("partition_id = -1").count() == 5
    assert lin.filter("partition_id = -1 AND rows_out <> 0").count() == 0


def test_lineage_backfill_after_crash_before_flush(spark, tmp_path):
    """Lineage is written once per run; a crash between the last stage
    marker and that batched write must not lose the stages forever.
    On resume, skipped-but-unflushed stages are reconstructed from
    their marker JSONs; later no-op resumes append nothing."""
    import shutil

    corpus = synth.make_corpus(n_convs=12, seed=9)
    df = synth.corpus_df(spark, corpus)
    out = str(tmp_path / "kg")
    run_pipeline(spark, df, out, resume=False)
    # simulate the crash window: markers exist, lineage flush didn't
    shutil.rmtree(os.path.join(out, "_lineage"))
    os.remove(os.path.join(out, "_checkpoints", "_lineage_flushed.json"))

    res = run_pipeline(spark, df, out, resume=True)
    assert res.stages_run == [] and len(res.stages_skipped) == 5
    lin = spark.read.parquet(os.path.join(out, "_lineage"))
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert {"extract", "link", "canonicalize", "materialize", "entities"} <= stages
    # per-bucket rows survive the round-trip through the marker
    assert lin.filter("stage = 'extract' AND partition_id >= 0").count() > 0
    n = lin.count()

    run_pipeline(spark, df, out, resume=True)  # no-op resume
    assert spark.read.parquet(os.path.join(out, "_lineage")).count() == n


def test_cli_dedup_paragraphs_and_turns_verbs(spark, tmp_path):
    """--dedup paragraphs rewrites docs with corpus-wide duplicate
    paragraphs stripped; --dedup-turns flags verbatim canned turns
    across conversations — both one subprocess each, JSON summary +
    parquet out."""
    import json
    import subprocess
    import sys

    def cli(*argv):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark", *argv, "--cpus", "4"],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines() if l.startswith("{")][-1]

    docs_path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "unique lead\n\nSHARED FOOTER"), (2, "SHARED FOOTER\n\nown body")],
        "doc_id long, text string",
    ).write.parquet(docs_path)
    out = str(tmp_path / "paras")
    stats = cli("--input", docs_path, "--out", out, "--dedup", "paragraphs")
    assert stats == {
        "dedup_method": "paragraphs", "docs": 2, "paragraphs": 4,
        "paragraphs_dropped": 1, "out": out,
    }
    rows = {r.doc_id: r.text_dedup for r in spark.read.parquet(out).collect()}
    assert rows == {1: "unique lead\n\nSHARED FOOTER", 2: "own body"}

    turns_path = str(tmp_path / "turns")
    spark.createDataFrame(
        [("c1", 0, "user", "hello", None, None),
         ("c1", 1, "assistant", "CANNED DISCLAIMER", None, None),
         ("c2", 0, "assistant", "CANNED DISCLAIMER", None, None),
         ("c2", 1, "user", "different", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).write.parquet(turns_path)
    tout = str(tmp_path / "turns_flagged")
    stats = cli("--input", turns_path, "--out", tout, "--dedup-turns")
    assert stats == {
        "turns": 4, "first_occurrences": 3,
        "boilerplate_repeats": 1, "out": tout,
    }
    flagged = {(r.conv_id, r.turn_idx): r for r in spark.read.parquet(tout).collect()}
    assert flagged[("c1", 1)].is_first and flagged[("c1", 1)].n_copies == 2
    assert not flagged[("c2", 0)].is_first


def test_cli_stage_cutoff(spark, tmp_path):
    """--stage X runs the pipeline up to and including X (the flag was
    previously parsed but ignored — every invocation ran all five
    stages); a later full run resumes from the checkpoints, and so
    does --refresh, which then refreshes a grown corpus to exactly a
    fresh full build."""
    import json
    import subprocess
    import sys

    from lexicator_spark.sources import io as sio

    out = str(tmp_path / "kg")

    def run_cli(*extra, expect_rc=0, root=out, n_convs=30):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark",
             "--synth", str(n_convs), "--out", root, "--cpus", "4", *extra],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == expect_rc, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines()
                if l.startswith("{")]

    first = run_cli("--stage", "extract")[-1]
    assert first["stages_run"] == ["extract"]
    assert not os.path.exists(os.path.join(out, "entities"))

    second = run_cli("--stage", "canonicalize")[-1]
    assert second["stages_skipped"] == ["extract"]
    assert second["stages_run"] == ["link", "canonicalize"]

    final = run_cli()[-1]
    assert final["stages_run"] == ["materialize", "entities"]

    # --refresh refreshes every stage in place; a cutoff has no
    # meaning there → refused
    run_cli("--refresh", "--stage", "link", expect_rc=2)

    # an extract-only root, then --refresh on a grown corpus: the
    # missing stages are built from the existing raw table first, then
    # the new conversations flow through every stage
    cut = str(tmp_path / "cut")
    run_cli("--stage", "extract", root=cut)
    build, refresh = run_cli("--refresh", root=cut, n_convs=40)
    assert build["stages_skipped"] == ["extract"]
    assert build["stages_run"] == [
        "link", "canonicalize", "materialize", "entities"
    ]
    assert refresh["refreshed_convs"] == 10

    full = str(tmp_path / "full")
    corpus = synth.make_corpus(40, seed=42)  # the CLI's --synth 40
    run_pipeline(spark, synth.corpus_df(spark, corpus), full)

    def rows(root, table):
        df = sio.read_table(spark, os.path.join(root, table))
        got = [tuple(r) for r in df.select(*sorted(df.columns)).collect()]
        return sorted(got, key=repr)  # None-safe total order

    for table in ("triples_raw", "same_as", "canonical", "triples", "entities"):
        assert rows(cut, table) == rows(full, table), f"{table} diverged"


def test_cli_refresh_recovers_after_crash(tmp_path):
    """--refresh on an empty root builds it first.  An in-flight marker
    left by a refresh that died between its raw upsert and the
    downstream sync must force the next --refresh to rebuild the
    downstream stages even when its own delta is empty (the crashed
    delta is undetectable by then)."""
    import json
    import subprocess
    import sys

    out = str(tmp_path / "kg")

    def run_cli(*extra):
        r = subprocess.run(
            [sys.executable, "-m", "lexicator_spark",
             "--synth", "40", "--out", out, "--cpus", "4", *extra],
            capture_output=True, text=True, cwd="/root/repo", timeout=420,
        )
        assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
        return [json.loads(l) for l in r.stdout.splitlines()
                if l.startswith("{")]

    def downstream_marker_mtimes():
        return {
            stage: os.stat(
                os.path.join(out, "_checkpoints", f"{stage}.json")
            ).st_mtime_ns
            for stage in ("link", "canonicalize", "materialize", "entities")
        }

    # empty root: --refresh falls through to a first full build, and
    # the refresh right after it finds nothing to do
    build, refresh = run_cli("--refresh")
    assert set(build["stages_run"]) == {
        "extract", "link", "canonicalize", "materialize", "entities"
    }
    assert refresh["refreshed_convs"] == 0

    marker = os.path.join(out, "_checkpoints", "_refresh_inflight.json")
    with open(marker, "w") as f:
        f.write('{"inflight": true}')
    before = downstream_marker_mtimes()
    msgs = run_cli("--refresh")  # same corpus → no new delta
    assert msgs[-1]["refreshed_convs"] == 0
    # recovery dropped the stale downstream markers → recomputed and
    # rewritten, window closed
    after = downstream_marker_mtimes()
    assert all(after[s] > before[s] for s in before), (before, after)
    assert not os.path.exists(marker)

    # and without a crash, the no-op stays a no-op
    msgs = run_cli("--refresh")
    assert msgs[-1]["stages_refreshed"] == []
    assert downstream_marker_mtimes() == after
    assert not os.path.exists(marker)
