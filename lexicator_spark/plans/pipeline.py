"""Stage orchestration: extract → link → canonicalize → materialize,
with per-stage checkpoints (resume skips completed stages) and
per-stage lineage metrics — the Spark re-design of lexicator's
pipeline-of-ContentStores DAG (``lexicator/__main__.py`` ::
``Lexicator``/``caches`` dict [M], SURVEY.md §3.1).

Each stage is a pure ``DataFrame → DataFrame`` function whose output
is persisted as a stage table; resumability = checking the stage's
``_SUCCESS``-backed checkpoint marker before recomputing (north_rule:
"resumable from checkpoint with per-partition lineage + metrics").

Lineage rows: (stage, rows_in, rows_out, wall_ms, n_partitions) are
appended to ``<root>/_lineage`` (an ordinary Spark-written table);
checkpoint markers are tiny JSON files under ``<root>/_checkpoints``
written through the Hadoop FileSystem of ``out_root`` — so resume
works identically whether ``out_root`` is local disk, HDFS, or an
object store (FIXTURES.md §4 schemas).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lexicator_spark.sources import fsutil

from lexicator_spark.operators.canonicalize import (
    canonical_of_triples,
    connected_components,
)
from lexicator_spark.operators.extract import extract_triples, split_rejects
from lexicator_spark.operators.link import build_catalog, link_mentions
from lexicator_spark.sources import io as sio
from lexicator_spark import rules

# The pipeline's stage order — the single authority shared by
# run_pipeline's stop_after validation, plans/refresh's marker
# deletion + completeness loop, and the CLI's --stage choices.
STAGES = ("extract", "link", "canonicalize", "materialize", "entities")


@dataclass
class PipelineResult:
    triples_path: str
    entities_path: str
    lineage: list[dict]
    stages_run: list[str]
    stages_skipped: list[str]


def _ckpt_path(root: str, stage: str) -> str:
    return os.path.join(root, "_checkpoints", f"{stage}.json")


def _mark_done(spark: SparkSession, root: str, stage: str, meta: dict) -> None:
    fsutil.write_text(
        spark,
        _ckpt_path(root, stage),
        json.dumps({"stage": stage, "status": "done", **meta}),
    )


def _is_done(spark: SparkSession, root: str, stage: str) -> bool:
    return fsutil.exists(spark, _ckpt_path(root, stage))


def _read_marker(spark: SparkSession, root: str, stage: str) -> dict:
    return json.loads(fsutil.read_text(spark, _ckpt_path(root, stage)))


def _lineage_flushed_path(root: str) -> str:
    return os.path.join(root, "_checkpoints", "_lineage_flushed.json")


def _lineage_flushed(spark: SparkSession, root: str) -> set[str]:
    """Stages whose lineage rows have already been appended to
    ``_lineage``.  Lineage is written once per run (batched), so a run
    that crashes mid-pipeline leaves completed stages with markers but
    no lineage rows; on resume those stages are skipped and would be
    silently absent from ``_lineage`` forever.  This marker lets the
    resume backfill exactly the missing stages from their marker JSONs
    without duplicating rows on later no-op resumes."""
    path = _lineage_flushed_path(root)
    if fsutil.exists(spark, path):
        return set(json.loads(fsutil.read_text(spark, path))["stages"])
    lineage_path = os.path.join(root, "_lineage")
    if fsutil.exists(spark, lineage_path):
        # legacy root: built before this marker existed, but its
        # lineage WAS written end-of-run — treat the stages already
        # present as flushed, or every no-op resume would re-append
        # (duplicate) each stage's rows.  Bounded collect: one row
        # per distinct stage name.
        try:
            return {
                r.stage
                for r in spark.read.parquet(lineage_path)
                .select("stage")
                .distinct()
                .collect()
            }
        except Exception as exc:
            # the directory exists but holds no committed parquet (a
            # run died INSIDE the lineage write, leaving only
            # _temporary/) — nothing was flushed; resume recovers
            # from the stage markers exactly as before this fallback.
            # ONLY that case: a transient read failure (throttling,
            # one bad footer) must propagate, or this resume would
            # re-append every marker-done stage's lineage rows on top
            # of the already-flushed ones (silent double counting)
            msg = str(exc)
            if (
                "UNABLE_TO_INFER_SCHEMA" in msg
                or "Unable to infer schema" in msg
            ):
                return set()
            raise
    return set()


def _mark_lineage_flushed(spark: SparkSession, root: str, stages: set[str]) -> None:
    fsutil.write_text(
        spark, _lineage_flushed_path(root), json.dumps({"stages": sorted(stages)})
    )


def _bucket_counts(spark: SparkSession, out_path: str) -> list[tuple] | None:
    """Per-p_hash-bucket row counts of a just-written stage table, or
    None for unbucketed tables.  ONE scan of the p_hash column (row
    counts ride parquet row-group metadata); the result is at most
    ``n_buckets`` rows, so collecting it is bounded by configuration,
    not data.  Read through ``sio.read_table`` (not bare
    ``spark.read.parquet``): an all-empty bucketed stage write leaves
    only the schema sidecar — no parquet footers to infer from — and
    must yield zero bucket counts, not an inference crash."""
    raw = sio.read_table(spark, out_path, keep_bucket_col=True)
    if "p_hash" not in raw.columns:
        return None
    return [
        (int(r["p_hash"]), int(r["count"]))
        for r in raw.groupBy("p_hash").count().collect()
    ]


def _write_lineage(
    spark: SparkSession, root: str, entries: list[tuple[dict, list | None]]
) -> None:
    """ONE lineage write for the whole run: every stage-level row plus
    the per-partition rows (FIXTURES.md §4 / north_rule 'per-partition
    lineage + metrics') in a single appended file.  r3 issued two
    writes and two full-table scans PER STAGE (a rows_out count, a
    separate per-partition aggregation, and two one-file appends at
    ~0.6 s of fixed job cost each) — measurable orchestration tax at
    bench scale, pure waste at 100 TB.  Crash-safety is preserved by
    the stage markers, which now carry the same rows (rows_out, wall,
    bucket counts), so a run that dies before this final write loses
    no information.

    The frame is a SINGLE-SLICE parallelize (the _driver_union_find
    idiom), not createDataFrame([...]) (a Python worker per default
    slice) and not a literal explode(array(struct...)) plan: r5 built
    ~stages·(1+n_buckets) struct literals inline and Catalyst analysis
    of that expression tree cost ~5 s per run at bench scale — pure
    driver time, measured in scripts/bench_r06_probe.py (guide §7.3:
    very large plans spend their wall in the optimizer).  One slice =
    one task = one output file; row count stays bounded by
    configuration (stages · (1 + n_buckets))."""
    rows = []
    for row, bucket_counts in entries:
        rows.append(
            (
                row["stage"],
                -1,
                int(row["rows_in"]),
                int(row["rows_out"]),
                int(row["wall_ms"]),
                int(row["n_partitions"]),
            )
        )
        rows.extend(
            (row["stage"], int(pid), -1, int(cnt), -1, int(row["n_partitions"]))
            for pid, cnt in (bucket_counts or [])
        )
    lineage = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "stage string, partition_id int, rows_in bigint, rows_out bigint, "
        "wall_ms bigint, n_partitions int",
    )
    lineage.write.mode("append").parquet(os.path.join(root, "_lineage"))


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    out_root: str,
    resume: bool = True,
    impl: str = "native",
    n_buckets: int = sio.DEFAULT_BUCKETS,
    lineage_input_counts: bool = True,
    backfill_groups: int | None = None,
    turns_source: str | None = None,
    stop_after: str | None = None,
) -> PipelineResult:
    """Run (or resume) the full KG-construction pipeline.

    ``stop_after`` truncates the run after the named stage (the CLI's
    ``--stage X`` contract: run up to and including X) — checkpoints
    make a later full run resume exactly where this one stopped.

    ``lineage_input_counts=False`` records -1 for ``rows_in`` instead
    of counting each stage's input: stage inputs that are persisted
    parquet count from footer metadata (cheap), but a raw CSV/JSON
    turns source would be re-parsed end to end just for the lineage
    row — disable it there.

    ``backfill_groups=N`` builds Stage A via
    ``incremental.backfill_triples`` — N bucket-aligned chunked
    passes with a ``_backfill.json`` progress marker, so a killed
    initial build resumes at the first unfinished group instead of
    restarting the whole extraction (sub-stage resume; at 10^12 turns
    Stage A is not one job).  ``turns_source`` names the bucketed
    raw-turns table ``turns`` was read from, letting each group's
    read partition-prune to its own raw buckets.  Downstream stages
    and checkpoints behave identically either way.

    Stage tables under ``out_root``:
      triples_raw/   Stage A output (+ rejects/ error channel)
      triples/       A + same_as + canonical_of, final graph edges
      entities/      canonical_id → surface_form rows
    """
    if stop_after is not None and stop_after not in STAGES:
        raise ValueError(
            f"stop_after must be one of {STAGES}, got {stop_after!r}"
        )

    def _runs(stage: str) -> bool:
        if stop_after is None:
            return True
        return STAGES.index(stage) <= STAGES.index(stop_after)

    lineage: list[dict] = []
    lineage_entries: list[tuple[dict, list | None]] = []
    run: list[str] = []
    skipped: list[str] = []

    flushed = _lineage_flushed(spark, out_root) if resume else set()
    if flushed and not fsutil.exists(spark, _lineage_flushed_path(out_root)):
        # legacy root resolved via the _lineage fallback above: persist
        # the marker now so later resumes don't re-pay the distinct scan
        _mark_lineage_flushed(spark, out_root, flushed)

    # futures a stage's fn() launched that must complete BEFORE that
    # stage's checkpoint marker becomes durable (e.g. the extract
    # stage's error-channel write): a marker must never promise
    # outputs a still-in-flight side write could fail to deliver —
    # resume would then skip the stage and serve the broken sink
    # forever.  Joined (and cleared) by staged() right before
    # _mark_done.
    pre_mark_joins: list = []

    def staged(name: str, in_df: DataFrame | None, fn, out_path: str, partition_key):
        if resume and _is_done(spark, out_root, name):
            skipped.append(name)
            if name not in flushed:
                # crashed-run backfill: the stage completed (marker
                # present) but its lineage rows never reached the
                # batched end-of-run write — reconstruct them from the
                # marker (rows_out / wall_ms / bucket_counts are all
                # there; rows_in wasn't recorded → -1)
                meta = _read_marker(spark, out_root, name)
                row = {
                    "stage": name,
                    "rows_in": -1,
                    "rows_out": meta["rows_out"],
                    "wall_ms": meta["wall_ms"],
                    "n_partitions": -1,
                }
                lineage.append(row)
                lineage_entries.append(
                    (row, [tuple(bc) for bc in meta["bucket_counts"] or []] or None)
                )
            return sio.read_table(spark, out_path)
        t0 = time.monotonic()
        out_df = fn()
        observed = sio.write_table(
            out_df, out_path, partition_key=partition_key, n_buckets=n_buckets,
            observe_counts=True,
        )
        persisted = sio.read_table(spark, out_path)
        # row counts observed on the write job itself (CollectMetrics)
        # — no second scan of the files just written; the catalog
        # backend (observed None) falls back to the footer-metadata
        # count.  [(-1, n)] marks an unbucketed write.
        if observed is None:
            buckets = _bucket_counts(spark, out_path)
            rows_out = (
                sum(c for _, c in buckets)
                if buckets is not None
                else persisted.count()
            )
        elif observed and observed[0][0] == -1:
            buckets = None
            rows_out = observed[0][1]
        else:
            buckets = observed
            rows_out = sum(c for _, c in observed)
        wall_ms = int((time.monotonic() - t0) * 1000)
        row = {
            "stage": name,
            "rows_in": (
                in_df.count()
                if in_df is not None and lineage_input_counts
                else -1
            ),
            "rows_out": rows_out,
            "wall_ms": wall_ms,
            "n_partitions": persisted.rdd.getNumPartitions(),
        }
        lineage.append(row)
        lineage_entries.append((row, buckets))
        for fut in pre_mark_joins:
            fut.result()
        pre_mark_joins.clear()
        _mark_done(
            spark,
            out_root,
            name,
            {
                "rows_out": rows_out,
                "wall_ms": wall_ms,
                "bucket_counts": buckets,
            },
        )
        run.append(name)
        return persisted

    raw_path = os.path.join(out_root, "triples_raw")
    triples_path = os.path.join(out_root, "triples")
    entities_path = os.path.join(out_root, "entities")

    if not resume:
        # resume=False means REBUILD: clear every artifact a rebuild
        # does not unconditionally overwrite, or it silently describes
        # the previous corpus — the raw stage table (with its
        # _frontier and any _backfill.json inside; a completed
        # backfill marker would otherwise make the new backfill a
        # no-op that keeps stale triples), the group-upserted rejects
        # channel, and _surface_stats (ensure_surface_stats no-ops
        # when it exists)
        for stale in (
            raw_path,
            os.path.join(out_root, "rejects"),
            os.path.join(out_root, "_surface_stats"),
            # stage markers + lineage too: a rebuild that crashes
            # mid-run must not let a later resume=True skip downstream
            # stages on the strength of the PREVIOUS corpus's markers
            # (mixed-corpus serving), and append-mode _lineage would
            # keep the old corpus's rows next to the new ones
            # (double-counted stage totals).  _checkpoints also holds
            # _lineage_flushed.json, whose stale 'extract' entry would
            # suppress the crashed rebuild's lineage backfill.
            os.path.join(out_root, "_checkpoints"),
            os.path.join(out_root, "_lineage"),
            # downstream stage tables too: a full run overwrites them
            # anyway, but with stop_after truncating the run they'd
            # keep serving the PREVIOUS corpus to direct readers
            # (triples_of & co read the table paths, not the markers)
            os.path.join(out_root, "same_as"),
            os.path.join(out_root, "canonical"),
            triples_path,
            entities_path,
        ):
            fsutil.delete(spark, stale, recursive=True)

    # Side-job pool (guide §2.6): independent writes/aggregates whose
    # outputs no stage reads (error channel, _frontier, the stats
    # sidecar) run concurrently with the stage chain so their fixed
    # job costs back-fill idle executor capacity instead of extending
    # the critical path.  All futures are joined before the function
    # returns (primary stage errors win; side-job errors surface on
    # the success path) — see _join_side_jobs below.
    from concurrent.futures import ThreadPoolExecutor

    side_pool = ThreadPoolExecutor(max_workers=3)
    side_futures = []

    # Stage A — extraction.  The extracted frame feeds two writes
    # (rejects + good); pin it with localCheckpoint so the scan + rule
    # evaluation runs once, not once per sink.  localCheckpoint beats
    # persist(MEMORY_AND_DISK) here by ~2 s at bench scale (measured,
    # scripts/bench_r06_probe.py stage_a): the checkpoint materializes
    # straight to shuffle-format RDD blocks, while the cache path pays
    # columnar-cache encode on write AND decode on each of the two
    # sink reads, competing with execution memory (guide §5).  The
    # rejects sink reads only the pinned checkpoint and nothing reads
    # it back in-run — written on the side pool, overlapped with the
    # good-side bucketed write.

    # when extraction runs THIS invocation, its pinned output is kept
    # here so stage D can union straight from the checkpoint instead
    # of re-reading the just-written parquet (identical rows by
    # determinism: the raw table holds exactly these rows); on a
    # marker-skipped resume the list stays empty and stage D reads
    # the persisted table as before
    stage_a_ckpt: list[DataFrame] = []

    def stage_a():
        # serialized checkpoint blocks (pyspark-4 naming: MEMORY_AND_DISK
        # stores serialized; the eager default is MEMORY_AND_DISK_DESER):
        # this is the one corpus-sized pin in the engine, and its
        # deserialized form held ~8.5 GB of an 8 GB local-mode heap at
        # 29.3M turns — the build then OOMed in stage B 2 of 5 runs
        # (GC-timing luck).  Serialized blocks are several-fold
        # smaller, measured bench-neutral (4.03 vs 4.08 s for the full
        # extract-pin-write cycle at sf0.1), and the two consumers
        # (bucketed write + rejects write) each decode once.
        from pyspark import StorageLevel

        extracted = extract_triples(turns, impl=impl).localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        good, rejects = split_rejects(extracted)
        stage_a_ckpt.append(good)
        # pre_mark_joins, not side_futures: the extract marker's
        # durability must wait for the error channel (see staged)
        pre_mark_joins.append(
            side_pool.submit(
                sio.write_table, rejects,
                os.path.join(out_root, "rejects"), partition_key=None,
            )
        )
        return good

    if backfill_groups is not None and not (
        resume and _is_done(spark, out_root, "extract")
    ):
        from lexicator_spark.operators.incremental import backfill_triples

        t0 = time.monotonic()
        backfill_triples(
            spark,
            turns_source if turns_source is not None else turns,
            raw_path,
            impl=impl,
            n_buckets=n_buckets,
            n_groups=backfill_groups,
            rejects_location=os.path.join(out_root, "rejects"),
        )
        # same bookkeeping as staged(): the stage checkpoint marks the
        # WHOLE extraction done (group-level progress lives in the
        # backfill marker); wall_ms spans only this invocation's groups
        triples_a = sio.read_table(spark, raw_path)
        buckets = _bucket_counts(spark, raw_path)
        rows_out = (
            sum(c for _, c in buckets) if buckets is not None else triples_a.count()
        )
        wall_ms = int((time.monotonic() - t0) * 1000)
        row = {
            "stage": "extract",
            "rows_in": turns.count() if lineage_input_counts else -1,
            "rows_out": rows_out,
            "wall_ms": wall_ms,
            "n_partitions": triples_a.rdd.getNumPartitions(),
        }
        lineage.append(row)
        lineage_entries.append((row, buckets))
        _mark_done(
            spark, out_root, "extract",
            {"rows_out": rows_out, "wall_ms": wall_ms, "bucket_counts": buckets},
        )
        run.append("extract")
    else:
        triples_a = staged("extract", turns, stage_a, raw_path, "conv_id")

    # build-time frontier: record what this build processed so the
    # first --refresh is delta-scoped instead of paying the detection
    # bootstrap (374.9 s vs one aggregate pass at 29.3M turns,
    # BENCH/BASELINE.md).  No-op when _frontier already exists (a
    # refreshed table maintains its own).  Only when extraction RAN
    # this invocation: on a marker-skipped resume the current turns
    # snapshot may be newer than what the table holds, and stamping
    # it as processed would hide its unextracted conversations from
    # every future refresh (the refresh bootstrap derives a frontier
    # from the triples table instead, which is always safe).
    from lexicator_spark.operators.incremental import materialize_frontier

    # likewise materialize the per-bucket surface-universe stats
    # (_surface_stats) the end-to-end refresh maintains — one
    # aggregate over the mention triples this build just wrote, so
    # the first --refresh never pays a full-table bootstrap and
    # the table is born consistent with the downstream stages.
    #
    # Both sidecar builds are INDEPENDENT of stages B-D (they read the
    # turns snapshot / the raw table, and write underscore-prefixed
    # sidecars no stage reads): run them on the side pool so their
    # ~5 s of aggregate+bucketed-write jobs back-fill the executor
    # capacity stages B-D leave idle (guide §2.6 — overlap independent
    # jobs) instead of extending the critical path.  The stats table
    # IS read by stage_entities, so the side jobs are joined before
    # that stage runs.
    from lexicator_spark.plans.refresh import ensure_surface_stats

    def _join_side_jobs(swallow: bool = False) -> None:
        """Wait for every side job.  ``swallow=True`` on the error
        path: the primary stage exception must not be masked by a
        secondary side-job failure raised out of a finally block."""
        for fut in side_futures:
            if swallow:
                try:
                    fut.result()
                except Exception:
                    pass
            else:
                fut.result()
        side_futures.clear()

    try:
        if "extract" in run:
            side_futures.append(
                side_pool.submit(
                    materialize_frontier, spark, turns, raw_path,
                    n_buckets=n_buckets,
                )
            )
        side_futures.append(
            side_pool.submit(
                ensure_surface_stats, spark, out_root, n_buckets
            )
        )

        # Stage B — linking (from the stage-A checkpoint when this
        # invocation extracted — same rows, no parquet re-scan)
        def stage_b():
            catalog = build_catalog(spark)
            return link_mentions(
                stage_a_ckpt[0] if stage_a_ckpt else triples_a, catalog
            )

        if _runs("link"):
            same_as = staged(
                "link", triples_a, stage_b, os.path.join(out_root, "same_as"), None
            )

        # Stage C — canonicalization
        def stage_c():
            edges = same_as.select(F.col("subj").alias("u"), F.col("obj").alias("v"))
            assignments = connected_components(edges)
            return canonical_of_triples(assignments)

        if _runs("canonicalize"):
            canonical = staged(
                "canonicalize", same_as, stage_c,
                os.path.join(out_root, "canonical"), None,
            )

        # Stage D — materialize final graph tables
        def stage_d():
            raw_src = stage_a_ckpt[0] if stage_a_ckpt else triples_a
            return raw_src.unionByName(same_as).unionByName(canonical)

        def _materialize_copy() -> bool:
            """Stage D without recomputation (parquet backend): the raw
            table was JUST written bucketed by the same
            ``(conv_id, n_buckets)`` scheme this stage would bucket by,
            and every same_as/canonical row carries a NULL conv_id — so
            for every bucket EXCEPT the NULL bucket the raw files are
            already the materialized table's exact content.  Clone them
            at the FS level (``sio.copy_buckets`` — server-side copy on
            an object store) and append same_as ∪ canonical into the
            NULL bucket; this skips the union's full-table exchange +
            parquet re-encode and the post-write count scan (counts =
            extract marker's bucket counts + the write-observed extra
            count).  Identical table content — fingerprint-verified
            against the union write in scripts/bench_r06b_matcopy.py;
            measured ~3.3 s → ~0.6 s at bench scale.  Returns False
            (caller falls back to the union write) on the catalog
            backend or when the raw layout doesn't match."""
            if sio.iceberg_available(spark) and not sio._is_path(triples_path):
                return False
            raw_meta = sio.read_bucket_meta(spark, raw_path)
            if (
                raw_meta is None
                or raw_meta["n_buckets"] != n_buckets
                or raw_meta["partition_key"] != "conv_id"
            ):
                return False
            from lexicator_spark.plans.refresh import _null_bucket

            t0 = time.monotonic()
            fsutil.delete(spark, triples_path, recursive=True)
            copied = sio.copy_buckets(spark, raw_path, triples_path)
            extra = same_as.unionByName(canonical)
            nb = _null_bucket(spark, n_buckets)
            n_extra = sio.append_into_bucket(extra, triples_path, nb)
            fsutil.write_text(
                spark,
                os.path.join(triples_path, "_schema.json"),
                sio.with_partition_hash(
                    triples_a.unionByName(extra), "conv_id", n_buckets
                ).schema.json(),
            )
            sio._write_bucket_meta(spark, triples_path, "conv_id", n_buckets)
            try:
                buckets = _read_marker(spark, out_root, "extract").get(
                    "bucket_counts"
                )
            except Exception:
                buckets = None
            if buckets is None:
                # pre-counts extract marker: one footer scan of the
                # just-built table (already includes the extras)
                buckets = _bucket_counts(spark, triples_path)
            else:
                merged = {int(b): int(c) for b, c in buckets}
                if n_extra:
                    merged[nb] = merged.get(nb, 0) + n_extra
                buckets = sorted(merged.items())
            rows_out = sum(c for _, c in buckets)
            wall_ms = int((time.monotonic() - t0) * 1000)
            row = {
                "stage": "materialize",
                "rows_in": -1,
                "rows_out": rows_out,
                "wall_ms": wall_ms,
                "n_partitions": len(copied) + 1,
            }
            lineage.append(row)
            lineage_entries.append((row, buckets))
            _mark_done(
                spark,
                out_root,
                "materialize",
                {
                    "rows_out": rows_out,
                    "wall_ms": wall_ms,
                    "bucket_counts": buckets,
                },
            )
            run.append("materialize")
            return True

        if _runs("materialize"):
            if (resume and _is_done(spark, out_root, "materialize")) or (
                not _materialize_copy()
            ):
                staged("materialize", None, stage_d, triples_path, "conv_id")

        # join BEFORE entities (reads _surface_stats) and before
        # returning: a side-job failure must fail the build, never
        # strand a root whose _frontier/_surface_stats/rejects
        # silently diverge from the stages (the refresh contract
        # depends on them)
        _join_side_jobs()
    except BaseException:
        _join_side_jobs(swallow=True)
        side_pool.shutdown()
        raise
    side_pool.shutdown()

    def stage_entities():
        """Entity dimension table (FIXTURES.md §4): one row per
        (canonical_id, member surface), carrying the Stage-B link
        score, the blocking key, and corpus mention counts — the
        flattened analog of the reference's lexeme-entity record
        (SURVEY §1.1: nested claims → triples + entities dimension).

        Mention counts come from the ``_surface_stats`` rollup the
        build just materialized (ensure_surface_stats above), NOT from
        a second corpus-wide ``mention_counts_of_triples`` aggregation
        — the rollup input is ≤ vocabulary × n_buckets rows and
        produces the identical frame by the sidecar's documented
        contract (the refresh path already relies on this equality;
        measured 1.43 s → 0.58 s at bench scale, bench_r06_probe)."""
        from lexicator_spark.plans.refresh import surface_rollup

        stats = sio.read_table(
            spark, os.path.join(out_root, "_surface_stats")
        )
        return entities_dim(canonical, same_as, surface_rollup(stats))

    if _runs("entities"):
        staged("entities", None, stage_entities, entities_path, None)

    if lineage_entries:
        _write_lineage(spark, out_root, lineage_entries)
        _mark_lineage_flushed(
            spark,
            out_root,
            flushed | {row["stage"] for row, _ in lineage_entries},
        )

    return PipelineResult(
        triples_path=triples_path,
        entities_path=entities_path,
        lineage=lineage,
        stages_run=run,
        stages_skipped=skipped,
    )


def mention_counts_of_triples(triples_a: DataFrame) -> DataFrame:
    """Per-surface corpus aggregates for the entities dimension —
    n_convs / first-last seen make it the table analytics queries
    join without going back to the fact table (extracted_at is the
    source turn ts).  Two plain aggregations instead of count +
    countDistinct + min/max in one: mixing distinct and non-distinct
    aggregates makes Catalyst Expand every input row 2x through the
    first shuffle; pre-grouping on (surface, conv) ships each row
    once and n_convs becomes an ordinary count.

    The incremental refresh path (``plans.refresh``) produces the
    identical frame by rolling up its per-bucket ``_surface_stats``
    table instead of rescanning the corpus — conversations live in
    exactly one bucket, so every one of these aggregates sums/mins
    across buckets."""
    per_conv = (
        triples_a.filter(F.col("pred") == rules.PRED_MENTIONS)
        .groupBy(F.col("obj").alias("surface_form"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_in_conv"),
            F.min("extracted_at").alias("mn"),
            F.max("extracted_at").alias("mx"),
        )
    )
    return per_conv.groupBy("surface_form").agg(
        F.sum("n_in_conv").alias("n_mentions"),
        F.count(F.lit(1)).alias("n_convs"),
        F.min("mn").alias("first_seen"),
        F.max("mx").alias("last_seen"),
    )


def entities_dim(
    canonical: DataFrame, same_as: DataFrame, mention_counts: DataFrame
) -> DataFrame:
    """The entities-dimension projection, factored out of the stage so
    the full build and the incremental refresh share one definition
    (they differ only in where ``mention_counts`` comes from)."""
    members = (
        canonical.select(
            F.col("obj").alias("canonical_id"), F.col("subj").alias("surface_form")
        )
        .union(
            canonical.select(
                F.col("obj").alias("canonical_id"), F.col("obj").alias("surface_form")
            )
        )
        .distinct()
    )
    link_scores = same_as.select(
        F.col("subj").alias("surface_form"), F.col("conf").alias("score")
    )
    from lexicator_spark.operators.link import _block_key

    return (
        members.join(link_scores, "surface_form", "left")
        .join(mention_counts, "surface_form", "left")
        .select(
            "canonical_id",
            "surface_form",
            _block_key(F.col("surface_form")).alias("block_key"),
            # canonical members carry score 1.0 by identity
            F.coalesce(
                F.col("score"),
                F.when(F.col("surface_form") == F.col("canonical_id"), 1.0),
            ).alias("score"),
            F.coalesce(F.col("n_mentions"), F.lit(0)).alias("n_mentions"),
            F.coalesce(F.col("n_convs"), F.lit(0)).alias("n_convs"),
            F.col("first_seen"),
            F.col("last_seen"),
            (F.col("surface_form") == F.col("canonical_id")).alias("is_canonical"),
        )
    )


def triples_of(spark: SparkSession, out_root: str) -> DataFrame:
    return sio.read_table(spark, os.path.join(out_root, "triples"))
