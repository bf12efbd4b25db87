"""Harness shared by the workloads: session lifecycle, the op log and
the clock split between set-up, timed operations and untimed work."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import time
from contextlib import contextmanager

WORK = os.path.join(os.getcwd(), ".perfbench")
CACHE = os.path.join(WORK, "cache")  # seeded inputs and oracle results
SCRATCH = os.path.join(WORK, "run")  # per-run outputs, removed at exit

CORES = 4
HEAP = "2g"


def confine_to_workdir() -> None:
    """Point every temp/spill location of Python, Spark and the JVM at
    the work directory, before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, CACHE):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["SPARK_DRIVER_MEM"] = HEAP  # read by get_spark


def start_spark():
    from lexicator_spark.session import get_spark

    return get_spark(
        master=f"local[{CORES}]",
        app_name="perfbench",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed heap, touched in full at start: VmHWM then moves
            # with off-heap and native memory, not with how much of the
            # heap the collector happened to touch
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -Djava.io.tmpdir={WORK}/tmp "
                "-XX:-UsePerfData"
            ),
            # the tracer reads stages back from the status store; keep
            # every one of a run (same settings traced or not)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant
    (the JVM and the Python workers it forks), living or reaped.  Unlike
    wall time it does not grow when other tenants of a shared host take
    the CPUs (steal) or when more threads run than there are cores; it
    does grow when the host runs each instruction slower."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited meanwhile: its time moved to its parent
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        # utime, stime, and the cutime, cstime of reaped children
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        total += t if p == me else 0
    return total * _TICK_S


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Run:
    """State shared by a workload: the session, the tracer, the op log
    and the clock split between set-up, timed operations and untimed
    work (generation, checks)."""

    def __init__(self, args, t_process: float):
        self.args = args
        self.t_process = t_process
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.spark = None
        self.tracer = None
        self.ops: list[dict] = []
        # generation/checks before the first timed op
        self.untimed_s = self.untimed_cpu_s = 0.0
        self.setup_s = self.setup_cpu_s = None
        self.layers: dict[str, list[dict]] = {}

    @contextmanager
    def untimed(self):
        """Work that counts in no timing: excluded from ``setup_s``."""
        t0, c0 = time.monotonic(), tree_cpu_s()
        try:
            yield
        finally:
            if self.setup_s is None:
                self.untimed_s += time.monotonic() - t0
                self.untimed_cpu_s += tree_cpu_s() - c0

    def cached(self, name: str) -> str:
        return os.path.join(CACHE, name)

    def memo(self, name: str, compute):
        """A reference result (JSON-able) computed once and cached: the
        name carries everything that fixes the value (seed, sizes, the
        reference query's text).  Only results that do not depend on the
        engine are cached; engine output is recomputed every run."""
        path = self.cached(name + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    def scratch(self, name: str) -> str:
        path = os.path.join(SCRATCH, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    @contextmanager
    def op(self, kind: str, traced: bool = False):
        """One timed operation: wall ``s`` and engine CPU ``cpu_s``.  The
        first one ends set-up.  The yielded record takes ``items`` (work
        done) and ``ok`` (set by checks)."""
        rec = {"kind": kind, "traced": traced, "items": 0, "ok": None}
        c0 = tree_cpu_s()
        t0 = time.monotonic()
        if self.setup_s is None:
            self.setup_s = t0 - self.t_process - self.untimed_s
            self.setup_cpu_s = c0 - self.untimed_cpu_s
        e0 = time.time()
        yield rec
        rec["s"] = time.monotonic() - t0
        rec["cpu_s"] = tree_cpu_s() - c0
        rec["epoch"] = (e0, time.time())  # the status store's clock
        self.ops.append(rec)

    def timed_s(self) -> float:
        return sum(o["s"] for o in self.ops)

    def layer(self, span: str, metrics: dict) -> None:
        self.layers.setdefault(span, []).append(metrics)

    def of(self, kind: str, traced: bool = False) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind and o["traced"] == traced]


def tracing_overhead_pct(run: Run, kind: str) -> float:
    """Traced minus untraced time of the A/B operation pairs of a
    ``--trace 1`` run, as a percentage of the untraced time."""
    plain = sum(o["s"] for o in run.of(kind, traced=False))
    traced = sum(o["s"] for o in run.of(kind, traced=True))
    return 100.0 * (traced - plain) / plain
