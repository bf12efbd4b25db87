"""spark-kg benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload build_refresh --seed 1 --seconds 5 --trace 0

Run from the repository root.  One client in one process drives the
engine on ``local[4]`` with 4 shuffle partitions.  The run

1. generates its inputs from ``--seed`` (pure Python; untimed),
2. starts the session and warms the engine up (``setup_s``),
3. runs the workload's operations until at least ``--seconds`` of
   operation time is measured (and at least one full cycle),
4. reads the JVM's peak RSS and, from Spark's status store, the jobs,
   tasks, shuffle and output bytes of each operation, then checks every
   operation's output (untimed); an operation whose check fails counts
   in ``ops_failed``,
5. prints each metric as ``metric <name> <value> <unit>``, one ``op``
   line per operation (wall and CPU seconds, Spark work), then one JSON
   object as the last line, and exits non-zero if any check failed.

``--trace 1`` records spans around the engine calls of every cycle and
reports the per-layer metrics and the tracing overhead instead of the
end-to-end ones; one operation per cycle stays untraced, the A side of
the overhead's A/B pair.  Everything
the run writes lives under ``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt", action="store_true",
        help="self-test: corrupt the first checked output so its check must fail",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    import harness as H

    H.confine_to_workdir()
    sys.path.insert(0, REPO)
    import workloads  # imports lexicator_spark: fails outside a checkout

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    run = H.Run(args, T_PROCESS)
    with run.untimed():
        state = wl.generate(run)
    run.spark = H.start_spark()
    from spans import StatusStore, Tracer

    run.tracer = Tracer(run.spark, enabled=run.trace)
    try:
        wl.setup(run, state)
        while not run.ops or run.timed_s() < args.seconds:
            wl.cycle(run, state, run.trace)
        # at the end of the timed operations: the checks' own engine work
        # must not count
        peak_rss = H.jvm_peak_rss_mb(run.spark)
        # the Spark work of each operation, read back after the fact
        works = StatusStore(run.spark).work(
            [(o["epoch"][0] * 1000.0, o["epoch"][1] * 1000.0 + 1.0) for o in run.ops]
        )
        for o, w in zip(run.ops, works):
            o.update(w)
        t_check = time.monotonic()
        wl.check(run, state)
        t_check = time.monotonic() - t_check
    except Exception:
        traceback.print_exc()
        H.stop_spark(run.spark)
        return 1
    if run.trace:
        os.makedirs(os.path.join(H.WORK, "traces"), exist_ok=True)
        run.tracer.dump(
            os.path.join(H.WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        )
    H.stop_spark(run.spark)
    shutil.rmtree(H.SCRATCH, ignore_errors=True)

    attempted = len(run.ops)
    failed = sum(1 for o in run.ops if not o["ok"])
    if run.trace:
        metrics = workloads.per_layer(run, wl)
    else:
        metrics = {"setup_s": (run.setup_s, "s"), "peak_rss_mb": (peak_rss, "MB"),
                   **wl.end_to_end(run)}
        # then raw and wall-clock figures, unbounded
        named = {"setup_cpu_s": (run.setup_cpu_s, "s"), **wl.named_metrics(run)}
        for name, (value, unit, *note) in {**metrics, **named}.items():
            print(f"metric {name} {value:.6g} {unit}" + (f" ({note[0]})" if note else ""))
    if "warmup_s" in state:
        print("warmup_s " + " ".join(f"{w:.3f}" for w in state["warmup_s"]))
    for o in run.ops:
        print(f"op {o['kind']}{' traced' if o['traced'] else ''} wall_s {o['s']:.3f} "
              f"cpu_s {o['cpu_s']:.2f} jobs {o['jobs']} tasks {o['tasks']} "
              f"shuffle_mb {o['shuffle_mb']:.3f} written_mb {o['written_mb']:.3f}")
    print(f"final_check_s {t_check:.3f}")
    print(f"run_wall_s {time.monotonic() - T_PROCESS:.3f}")
    print(f"ops_attempted {attempted}")
    print(f"ops_failed {failed}")
    if run.trace:
        for name, (value, unit) in metrics.items():
            print(f"layer {name} {value:.6g} {unit}")
        # one A/B pair per cycle: too few to resolve a small overhead
        print(f"tracing_overhead_pairs {len(run.of(wl.ab_kind))}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u, *_) in metrics.items()
                },
            }
        )
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
