"""The two workloads.  Each is a closed loop over one engine entry
point family; ``cycle`` runs one round of its operations, ``check``
verifies every operation's output outside the timed spans.

- ``build_refresh``: ``plans.pipeline.run_pipeline`` and
  ``plans.refresh.refresh_pipeline`` on one output root.
- ``stream_dedup``: ``streaming.ingest.stateful_replies_stream_buffered``,
  then ``operators.dedup.near_dup_clusters`` →
  ``operators.curation.curate_corpus`` → ``pack_sequences``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time

import pyarrow.dataset as ds

import checks
import gen
from harness import tracing_overhead_pct
from lexicator_spark.plans.pipeline import STAGES

SPARK8 = ("wall_s", "driver_s", "exec_cpu_s", "gc_s", "shuffle_mb", "spill_mb",
          "task_skew", "rows_out")
UNITS = {
    "wall_s": "s", "driver_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "task_skew": "ratio", "rows_out": "count",
    "output_mb": "MB", "n_changed": "count", "buckets_touched": "count",
    "surfaces_added": "count", "write_amp": "ratio", "batches": "count",
    "batch_p50_s": "s", "state_rows_max": "count", "state_mb_max": "MB",
    "state_commit_s": "s", "late_rows_dropped": "count",
}
REFRESH_EXTRA = ("output_mb", "n_changed", "buckets_touched", "surfaces_added",
                 "write_amp")
STREAM_METRICS = ("batches", "batch_p50_s", "exec_cpu_s", "state_rows_max",
                  "state_mb_max", "state_commit_s", "late_rows_dropped")
DEDUP_METRICS = ("wall_s", "exec_cpu_s", "shuffle_mb", "spill_mb")


def layer_catalogue() -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit, in report order."""
    out = [(f"{s}.{m}", UNITS[m]) for s in STAGES for m in SPARK8]
    for kind in ("sparse", "bulk"):
        span = f"refresh_{kind}"
        out += [(f"{span}.{m}", UNITS[m]) for m in SPARK8 + REFRESH_EXTRA]
        out += [(f"{span}.{s}.wall_s", "s") for s in STAGES]
    out += [(f"stream.{m}", UNITS[m]) for m in STREAM_METRICS]
    for name in ("hi", "lo"):
        for layer in ("clusters", "curate", "pack"):
            out += [(f"dedup_{name}.{layer}.{m}", UNITS[m]) for m in DEDUP_METRICS]
    out.append(("tracing_overhead_pct", "%"))
    return out


def per_layer(run, wl) -> dict:
    """Median over the traced operations of every catalogue metric.  A
    span this workload never enters reports 0: no time, rows or bytes
    were spent in it."""
    flat = {}
    for span, rows in run.layers.items():
        for key, value in _median_by_key(rows).items():
            flat[f"{span}.{key}"] = value
    flat["tracing_overhead_pct"] = tracing_overhead_pct(run, wl.ab_kind)
    return {name: (float(flat.get(name, 0.0)), unit) for name, unit in layer_catalogue()}


def _median_by_key(rows: list[dict]) -> dict:
    keys = {k for r in rows for k in r}
    return {k: statistics.median(r[k] for r in rows if k in r) for k in keys}


# Spark work per cycle: the bounded end-to-end metrics, then two that
# vary with the seed (which buckets a sparse tick's conversations fall
# in) by ~12% and are printed unbounded
BOUNDED_WORK = {"jobs": ("jobs_per_cycle", "count"), "tasks": ("tasks_per_cycle", "count")}
OTHER_WORK = {"shuffle_mb": ("shuffle_mb_per_cycle", "MB"),
              "written_mb": ("written_mb_per_cycle", "MB")}


def work_metrics(cycles: list[tuple[dict, ...]], kinds: dict) -> dict:
    """Spark work per cycle (its operation records), median over the
    run's cycles."""
    return {
        name: (statistics.median(sum(o[key] for o in c) for c in cycles), unit)
        for key, (name, unit) in kinds.items()
    }


def _read_snapshot(spark, paths: list[str]):
    from lexicator_spark.streaming.ingest import TURN_SCHEMA

    return spark.read.schema(TURN_SCHEMA).parquet(*paths)


# --------------------------------------------------------------------------
# build_refresh
# --------------------------------------------------------------------------
class BuildRefresh:
    """One output root, built in set-up and then refreshed tick by tick.
    A cycle is three ticks (sparse, sparse, bulk) and one full build of the
    current snapshot into a fresh root; that build is both the timed
    build and the from-scratch reference the refreshed root must equal,
    table for table."""

    N_TURNS = 3000  # ~1,000 conversations
    N_BUCKETS = 8
    MAX_WARMUP_TICKS = 3
    ab_kind = "sparse"  # the op kind timed both untraced and traced

    def generate(self, run):
        rows = gen.corpus_turns(self.N_TURNS, run.seed)
        corpus = run.cached(f"corpus-t{self.N_TURNS}-s{run.seed}")
        if not os.path.isdir(corpus):
            gen.write_corpus(corpus, rows)
        return {
            "corpus": corpus,
            "plan": gen.TickPlan(rows, run.seed),
            "deltas": [],
            "root": run.scratch("root"),
            "n_builds": 0,
        }

    def _snapshot(self, run, st):
        return _read_snapshot(run.spark, [st["corpus"]] + st["deltas"])

    def _next_tick(self, run, st, kind):
        with run.untimed():
            tick = st["plan"].next_tick(kind)
            path = run.scratch(f"delta-{len(st['deltas']):04d}")
            gen.write_rows(path, tick.rows)
            st["deltas"].append(path)
            return tick, self._snapshot(run, st)

    def setup(self, run, st):
        from lexicator_spark.plans.pipeline import run_pipeline
        from lexicator_spark.plans.refresh import refresh_pipeline

        # the initial build, then bulk ticks until one has changed the
        # links: the first bootstraps _surface_stats, and the one that
        # adds surfaces runs the link/canonicalize refresh branch.  All
        # of it is set-up, the cold pass over every code path a cycle
        # times (a sparse tick's path is a subset of a bulk tick's)
        t0 = time.monotonic()
        run_pipeline(run.spark, self._snapshot(run, st), st["root"], resume=False,
                     n_buckets=self.N_BUCKETS)
        st["warmup_s"] = [time.monotonic() - t0]
        for _ in range(self.MAX_WARMUP_TICKS):
            tick, snap = self._next_tick(run, st, "bulk")
            t0 = time.monotonic()
            res = refresh_pipeline(run.spark, snap, st["root"])
            st["warmup_s"].append(time.monotonic() - t0)
            if res.n_changed != len(tick.changed):
                raise RuntimeError(f"warm-up tick changed {res.n_changed}, expected "
                                   f"{len(tick.changed)}")
            if res.links_changed:
                return
        raise RuntimeError(f"no warm-up bulk tick added surfaces in "
                           f"{self.MAX_WARMUP_TICKS} ticks")

    def _tick(self, run, st, kind, traced):
        from lexicator_spark.plans.refresh import refresh_pipeline

        tick, snap = self._next_tick(run, st, kind)
        lineage = os.path.join(st["root"], "_lineage")
        before = set(os.listdir(lineage))
        with run.tracer.span(f"refresh_{kind}", len(run.ops), traced) as sp, \
                run.op(kind, traced) as rec:
            res = refresh_pipeline(run.spark, snap, st["root"])
        rec["items"] = res.n_changed
        rec["ok"] = res.n_changed == len(tick.changed)
        if traced:
            m = run.tracer.spark_metrics(sp)
            m.update(
                rows_out=m["output_records"],
                n_changed=res.n_changed,
                buckets_touched=res.n_buckets_touched,
                surfaces_added=res.surfaces_added,
                write_amp=m["output_records"] / tick.n_turns_changed,
            )
            new = sorted(set(os.listdir(lineage)) - before)
            walls = _refresh_stage_walls(
                [os.path.join(lineage, f) for f in new if f.endswith(".parquet")
                 and not f.startswith((".", "_"))]
            )
            for stage in STAGES:
                m[f"{stage}.wall_s"] = walls.get(stage, 0.0)
                if stage in walls:
                    run.tracer.child(f"refresh_{kind}.{stage}", sp, walls[stage])
            run.layer(f"refresh_{kind}", m)
        return rec

    def _build(self, run, st, traced):
        from lexicator_spark.plans.pipeline import run_pipeline

        out = run.scratch(f"build-{st['n_builds']}")
        st["n_builds"] += 1
        snap = self._snapshot(run, st)
        calls = []
        with run.op("build", traced) as rec:
            if traced:
                # one resumable call per stage, each in its own span
                for stage in STAGES:
                    with run.tracer.span(stage, len(run.ops)) as sp:
                        res = run_pipeline(run.spark, snap, out, resume=True,
                                           stop_after=stage, n_buckets=self.N_BUCKETS)
                    calls.append((stage, sp, res))
            else:
                res = run_pipeline(run.spark, snap, out, resume=False,
                                   n_buckets=self.N_BUCKETS)
        rows_out = {r["stage"]: r["rows_out"] for r in res.lineage}
        for stage, sp, res in calls:
            rows_out.update((r["stage"], r["rows_out"]) for r in res.lineage)
            m = run.tracer.spark_metrics(sp)
            m["rows_out"] = rows_out[stage]
            run.layer(stage, m)
        rec["items"] = rows_out["materialize"]
        rec["root"] = out
        return rec

    def cycle(self, run, st, trace):
        """Sparse tick, sparse tick, bulk tick, build.  Traced: all but
        the first sparse tick, which is the untraced A side of the
        overhead A/B."""
        ticks = [
            self._tick(run, st, kind, trace and i > 0)
            for i, kind in enumerate(("sparse", "sparse", "bulk"))
        ]
        build = self._build(run, st, trace)
        with run.untimed():
            self._check_cycle(run, st, ticks, build)

    def _oracle_digest(self, run, st) -> str:
        """``(subj, pred, obj)`` digest of the DuckDB twin of
        ``kg_pipeline_triples`` re-pointed at the current snapshot.  It
        does not depend on the engine, so it is cached per seed, tick
        count and twin text."""
        import __spark_entry__ as entry

        files = [os.path.join(st["corpus"], "*.parquet")] + [
            os.path.join(d, "*.parquet") for d in st["deltas"]
        ]
        sql = entry.oracle_sql()["kg_pipeline_triples"]
        fixture = f"'{entry._SYNTH_FIXTURE}'"
        if fixture not in sql:
            raise RuntimeError("kg_pipeline_triples twin no longer reads the fixture")
        sql = sql.replace(fixture, "[" + ", ".join(f"'{p}'" for p in files) + "]")

        def compute():
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads=4")
            rows = con.execute(sql).fetchall()
            con.close()
            return checks.digest(rows)

        return run.memo(
            f"oracle-kg-t{self.N_TURNS}-s{run.seed}-d{len(st['deltas'])}-{_text_id(sql)}",
            compute,
        )

    def _check_cycle(self, run, st, ticks, build):
        if run.args.corrupt and st["n_builds"] == 1:
            _corrupt_table(os.path.join(build["root"], "triples"))
        build["ok"] = checks.triples_digest(build["root"]) == self._oracle_digest(run, st)
        diff = checks.stages_equal(
            checks.stage_digests(st["root"]), checks.stage_digests(build["root"])
        )
        if diff:
            print(f"refresh check: stage tables differ from a rebuild: {diff}")
            for t in ticks:
                t["ok"] = False
        if not build["ok"]:
            print("build check: triples differ from the DuckDB twin")

    def check(self, run, st):
        pass  # checked per cycle: the root moves on with every tick

    def _cycles(self, run):
        sparse = run.of("sparse")
        return list(zip(sparse[::2], sparse[1::2], run.of("bulk"), run.of("build")))

    def end_to_end(self, run):
        return work_metrics(self._cycles(run), BOUNDED_WORK)

    def _build_rate(self, run, clock):
        return statistics.median(o["items"] / o[clock] for o in run.of("build"))

    def named_metrics(self, run):
        sparse = sorted(o["s"] for o in run.of("sparse"))
        bulk = [o["s"] for o in run.of("bulk")]
        pairs = list(zip(run.of("sparse")[::2], run.of("sparse")[1::2]))
        return {
            **work_metrics(self._cycles(run), OTHER_WORK),
            "refresh_sparse_cpu_s": (statistics.median(o["cpu_s"] for o in run.of("sparse")), "s"),
            "refresh_bulk_cpu_s": (statistics.median(o["cpu_s"] for o in run.of("bulk")), "s"),
            "build_triples_per_cpu_s": (self._build_rate(run, "cpu_s"), "1/s"),
            "build_triples_per_s": (self._build_rate(run, "s"), "1/s"),
            "refresh_sparse_p50_s": (statistics.median(sparse), "s",
                                     f"max {sparse[-1]:.4g} s over n={len(sparse)}"),
            "refresh_bulk_s": (statistics.median(bulk), "s",
                               f"max {max(bulk):.4g} s over n={len(bulk)}"),
            # the two sparse ticks of a cycle, A/A: the noise floor of the
            # traced run's one-pair-per-cycle tracing overhead
            "refresh_sparse_aa_pct": (
                statistics.median(100 * abs(b["s"] - a["s"]) / a["s"] for a, b in pairs),
                "%", f"n={len(pairs)} pairs",
            ),
        }


def _refresh_stage_walls(files: list[str]) -> dict:
    """Stage wall times from the ``refresh:<stage>`` rows a refresh
    appended to ``_lineage``."""
    if not files:
        return {}
    t = ds.dataset(files, format="parquet").to_table().to_pylist()
    return {
        r["stage"].split(":", 1)[1]: r["wall_ms"] / 1000.0
        for r in t
        if r["stage"].startswith("refresh:") and r["partition_id"] == -1
    }


def _text_id(text: str) -> str:
    """Short content hash of a reference query: a cached reference result
    is reused only while the query that produced it is unchanged."""
    return hashlib.sha256(text.encode()).hexdigest()[:12]


def _corrupt_table(path: str) -> None:
    """Self-test: drop one data file of a written table."""
    for d, _, files in sorted(os.walk(path)):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                os.remove(os.path.join(d, f))
                return
    raise RuntimeError(f"no data file to corrupt under {path}")


# --------------------------------------------------------------------------
# stream
# --------------------------------------------------------------------------
class Stream:
    """Drain (availableNow) of the buffered out-of-order replies operator
    over shuffled turn files plus watermark sentinels, into a parquet
    sink with a fresh checkpoint per drain."""

    N_TURNS = 2000
    WARM_TURNS = 200  # warm-up input: same code paths, a tenth of the rows
    WATERMARK = "2 days"

    def generate(self, run):
        st = {"n_drains": 0}
        for key, n in (("input", self.N_TURNS), ("warm_input", self.WARM_TURNS)):
            rows = gen.corpus_turns(n, run.seed)
            st[key] = run.cached(f"stream-t{n}-s{run.seed}")
            if not os.path.isdir(st[key]):
                gen.write_stream_input(st[key], rows, run.seed)
            if key == "input":
                st["n_rows"] = len(rows) + 2
        return st

    def _drain(self, run, st, out, key="input"):
        from lexicator_spark.streaming import ingest

        stream = (
            run.spark.readStream.schema(ingest.TURN_SCHEMA)
            .option("maxFilesPerTrigger", 6)
            .parquet(st[key])
        )
        q = (
            ingest.stateful_replies_stream_buffered(stream, watermark_delay=self.WATERMARK)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", os.path.join(out, "data"))
            .option("checkpointLocation", os.path.join(out, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(150):
            q.stop()
            raise RuntimeError("stream did not drain in 150 s")
        return q

    def setup(self, run, st):
        t0 = time.monotonic()
        self._drain(run, st, run.scratch("stream-warmup"), key="warm_input")
        st.setdefault("warmup_s", []).append(time.monotonic() - t0)

    def cycle(self, run, st, traced):
        out = run.scratch(f"stream-{st['n_drains']}")
        st["n_drains"] += 1
        with run.tracer.span("stream", len(run.ops), traced) as sp, \
                run.op("drain", traced) as rec:
            q = self._drain(run, st, out)
        rec["items"] = st["n_rows"]
        rec["out"] = os.path.join(out, "data")
        if traced:
            m = run.tracer.spark_metrics(sp)
            run.layer("stream", {"exec_cpu_s": m["exec_cpu_s"], **_progress_metrics(q)})

    def check(self, run, st):
        from pyspark.sql import functions as F

        from lexicator_spark.operators.extract import extract_triples

        cols = ["subj", "pred", "obj", "conv_id", "turn_idx"]
        data = sorted(
            os.path.join(st["input"], f) for f in os.listdir(st["input"])
            if f.startswith("part-")
        )
        # engine output, so recomputed every run rather than cached
        expected = checks.replies_key(
            tuple(r) for r in extract_triples(_read_snapshot(run.spark, data))
            .filter(F.col("pred") == "replies_to").select(*cols).collect()
        )
        for i, o in enumerate(run.of("drain") + run.of("drain", traced=True)):
            if run.args.corrupt and i == 0:
                _corrupt_table(o["out"])
            got = checks.replies_key(checks.table_rows(o["out"], cols))
            o["ok"] = got == expected
            if not o["ok"]:
                print(f"stream check: drain {i} emitted {sum(got.values())} replies_to "
                      f"rows, expected {sum(expected.values())}")

    def named_metrics(self, run):
        rate = statistics.median(o["items"] / o["s"] for o in run.of("drain"))
        return {"stream_rows_per_s": (rate, "1/s")}


def _progress_metrics(q) -> dict:
    """Per-drain stream metrics from ``StreamingQuery.recentProgress``."""
    prog = [json.loads(p.json) for p in q.recentProgress]
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    return {
        "batches": len(prog),
        "batch_p50_s": statistics.median(p["durationMs"]["triggerExecution"] for p in prog) / 1000.0,
        "state_rows_max": max((o["numRowsTotal"] for o in ops), default=0),
        "state_mb_max": max((o["memoryUsedBytes"] for o in ops), default=0) / 1e6,
        "state_commit_s": sum(o.get("commitTimeMs", 0) for o in ops) / 1000.0,
        "late_rows_dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


# --------------------------------------------------------------------------
# dedup
# --------------------------------------------------------------------------
class Dedup:
    """MinHash-star clustering → curation → packing, alternating over a
    high (~50%) and a low (~5%) near-duplicate document set."""

    N_DOCS = 700
    WARM_DOCS = 70  # warm-up set: same plans, a tenth of the documents
    SHARES = {"hi": 0.5, "lo": 0.05}

    def generate(self, run):
        st = {"sets": {}, "n_passes": 0}
        for name, share in self.SHARES.items():
            rows = gen.make_docs(self.N_DOCS, share, run.seed)
            path = run.cached(f"docs-{name}-n{self.N_DOCS}-s{run.seed}")
            if not os.path.isdir(path):
                gen.write_docs(path, rows)
            st["sets"][name] = (path, rows)
        rows = gen.make_docs(self.WARM_DOCS, 0.5, run.seed)
        path = run.cached(f"docs-warm-n{self.WARM_DOCS}-s{run.seed}")
        if not os.path.isdir(path):
            gen.write_docs(path, rows)
        st["warm"] = (path, rows)
        return st

    def _pass(self, run, st, name, traced, op=True):
        from pyspark.sql import functions as F

        from lexicator_spark.operators import curation as CU
        from lexicator_spark.operators import dedup as D

        path, rows = st["sets"][name] if op else st["warm"]
        docs = run.spark.read.parquet(os.path.join(path, "documents.parquet"))
        out = run.scratch(f"pack-{st['n_passes']}")
        st["n_passes"] += 1
        tr = run.tracer
        span = f"dedup_{name}"

        def layer(stage):
            return tr.span(f"{span}.{stage}", len(run.ops), traced)

        def body():
            with layer("clusters") as sp:
                clusters = D.near_dup_clusters(
                    docs, method="minhash_star", threshold=checks.JACCARD_THRESHOLD
                ).localCheckpoint(eager=True)
            with layer("curate") as sp2:
                cur = CU.curate_corpus(docs, clusters)
                if traced:
                    cur = cur.localCheckpoint(eager=True)
            with layer("pack") as sp3:
                kept = docs.join(
                    cur.filter(F.col("keep")).select("doc_id", "split"), "doc_id"
                ).withColumn("p_bucket", F.pmod(F.col("doc_id"), F.lit(8)))
                CU.pack_sequences(
                    kept, budget=2048, partition_cols=("split", "p_bucket")
                ).write.parquet(out)
            return clusters, (sp, sp2, sp3)

        if not op:
            return body()
        with run.op(span, traced) as rec:
            clusters, sps = body()
        rec["items"] = len(rows)
        rec["out"] = out
        rec["clusters"] = {
            r["doc_id"]: r["cluster_id"] for r in clusters.select("doc_id", "cluster_id").collect()
        }
        if traced:
            for sp in sps:
                m = tr.spark_metrics(sp)
                run.layer(sp.name, {k: m[k] for k in DEDUP_METRICS})
        return rec

    def setup(self, run, st):
        # both sets run the same plans: one cold pass warms them
        t0 = time.monotonic()
        self._pass(run, st, "warm", False, op=False)
        st.setdefault("warmup_s", []).append(time.monotonic() - t0)

    def cycle(self, run, st, trace):
        """Traced: an extra untraced high-duplicate pass last, the A side
        of the overhead A/B (last, so the traced pass keeps the place the
        untraced run times and any residual warm-up counts against
        tracing, not for it)."""
        for name in self.SHARES:
            self._pass(run, st, name, trace)
        if trace:
            self._pass(run, st, "hi", False)

    def check(self, run, st):
        import duckdb

        import __spark_entry__ as entry

        twin_sql = entry.oracle_sql()["dedup_cluster_assign"]
        for name, (path, rows) in st["sets"].items():
            def references():
                """Digests of the DuckDB twin and of the numpy exact
                clustering on the twin's doc-id range.  Neither depends
                on the engine, so they are cached per seed and twin
                text."""
                con = duckdb.connect()
                con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                            f"read_parquet('{os.path.join(path, 'documents.parquet')}')")
                twin = con.execute(twin_sql).fetchall()
                con.close()
                cap = max(d for d, *_ in twin) + 1
                ref = checks.exact_clusters([r for r in rows if r[0] < cap])
                return {"twin": checks.digest(twin),
                        "numpy": checks.digest((d, c, d == c) for d, c in ref.items())}

            refs = run.memo(
                f"dedup-refs-{name}-n{self.N_DOCS}-s{run.seed}-{_text_id(twin_sql)}",
                references,
            )
            # the engine's exact clustering: recomputed every run
            spark_exact = checks.digest(
                tuple(r) for r in entry._dedup_cluster_assign(run.spark, path)
                .select("doc_id", "cluster_id", "keep").collect()
            )
            ref_ok = spark_exact == refs["twin"] == refs["numpy"]
            if not ref_ok:
                print(f"dedup check ({name}): exact clustering differs from its DuckDB twin")
            exact = checks.exact_clusters(rows)
            ops = run.of(f"dedup_{name}") + run.of(f"dedup_{name}", traced=True)
            for o in ops:
                clusters = o["clusters"]
                if run.args.corrupt and name == "hi" and o is ops[0]:
                    _merge_two_exact_clusters(clusters, exact)
                merged = checks.refines(clusters, exact)
                keepers = {d for d, c in clusters.items() if d == c}
                packed = {r[0] for r in checks.table_rows(o["out"], ["doc_id"])}
                o["ok"] = (ref_ok and not merged and bool(packed)
                           and packed <= keepers and len(clusters) == len(rows))
                if merged:
                    print(f"dedup check ({name}): star clustering merged "
                          f"{len(merged)} exact-apart pairs, e.g. {merged[0]}")

    def named_metrics(self, run):
        return {
            f"dedup_{name}_docs_per_s": (
                statistics.median(o["items"] / o["s"] for o in run.of(f"dedup_{name}")), "1/s"
            )
            for name in self.SHARES
        }


def _merge_two_exact_clusters(clusters: dict, exact: dict) -> None:
    """Self-test: relabel one document into a cluster the exact
    clustering keeps apart from it."""
    docs = sorted(clusters)
    a = docs[0]
    b = next(d for d in docs if exact[d] != exact[a])
    clusters[b] = clusters[a]


class StreamDedup:
    """The LLM-data path in one process: a cycle is one stream drain,
    then one dedup pass over each document set."""

    parts = (Stream(), Dedup())
    ab_kind = "dedup_hi"

    def generate(self, run):
        return {"parts": [p.generate(run) for p in self.parts]}

    def setup(self, run, st):
        for p, s in zip(self.parts, st["parts"]):
            p.setup(run, s)
        st["warmup_s"] = [w for s in st["parts"] for w in s["warmup_s"]]

    def cycle(self, run, st, traced):
        for p, s in zip(self.parts, st["parts"]):
            p.cycle(run, s, traced)

    def check(self, run, st):
        for p, s in zip(self.parts, st["parts"]):
            p.check(run, s)

    def _cycles(self, run):
        return list(zip(run.of("drain"), run.of("dedup_hi"), run.of("dedup_lo")))

    def _per_cycle(self, run, clock):
        """Median over cycles (drain, high- and low-duplicate pass) of
        their ``clock`` time and of input records (turn rows and
        documents) per second of it."""
        cycles = self._cycles(run)
        return (
            statistics.median(sum(o[clock] for o in c) for c in cycles),
            statistics.median(
                sum(o["items"] for o in c) / sum(o[clock] for o in c) for c in cycles
            ),
        )

    def end_to_end(self, run):
        return work_metrics(self._cycles(run), BOUNDED_WORK)

    def named_metrics(self, run):
        wall, rate = self._per_cycle(run, "s")
        cpu, cpu_rate = self._per_cycle(run, "cpu_s")
        return {**work_metrics(self._cycles(run), OTHER_WORK),
                "cycle_s": (wall, "s"), "items_per_s": (rate, "1/s"),
                "cycle_cpu_s": (cpu, "s"), "items_per_cpu_s": (cpu_rate, "1/s"),
                **{k: v for p in self.parts for k, v in p.named_metrics(run).items()}}


WORKLOADS = {"build_refresh": BuildRefresh(), "stream_dedup": StreamDedup()}
