"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints, as the last stdout line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits 1 when any operation's output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SETUP_REPS = 3
# timed iterations per run at least, however long they take: job_s and
# round_s are medians over them
MIN_TIMED = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument(
        "--workload", required=True, choices=("batch_mixed", "operators")
    )
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def environment(workload) -> dict:
    import pyspark

    from perfbench.harness import CORES

    return {
        "nproc": os.cpu_count(),
        "cores": CORES,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "inputs": workload.inputs(),
    }


def run(args, dirs) -> dict:
    from perfbench import eventlog
    from perfbench.harness import (
        OUT_DIR,
        RssSampler,
        Sessions,
        Tracer,
        closed_loop,
        median,
        repeat_setup,
    )
    from perfbench.metrics import END_TO_END, PER_LAYER, report
    from perfbench.workloads import WORKLOADS

    sessions = Sessions(dirs)
    w = WORKLOADS[args.workload](args.seed, sessions, dirs)
    try:
        # only the untraced run reports setup_s, so only it repeats set-up
        setup_s = repeat_setup(1 if args.trace else SETUP_REPS, w.setup)
        w.close()
        env = environment(w) | {"setup_s": setup_s}
        print(f"[perfbench] {json.dumps(env)}", file=sys.stderr)
        iters = [w.warm()]
        with RssSampler(sessions.jvm_pid) as rss:
            timed = closed_loop(args.seconds, w.iteration, MIN_TIMED)
        iters += timed
        job_s, round_s = w.summary(timed)
        values = {"setup_s": median(setup_s), "job_s": job_s, "round_s": round_s}
        units = END_TO_END
        if args.trace:
            untraced_job_s = values["job_s"]
            values = dict.fromkeys(PER_LAYER, 0.0)
            values["rss.peak_mb"] = rss.peak / 2**20
            values["rss.python_workers_mb"] = rss.peak_workers / 2**20
            w.untraced_layers(values)
            tracer = Tracer()
            sessions.start(event_log=True)
            traced = w.traced(tracer, values)
            sessions.stop()
            iters += traced
            stages = [s for s in eventlog.load_dir(dirs.path("eventlog")) if s.label in w.stage_labels]
            values.update(eventlog.summarize(stages, per=len(traced)))
            values["trace.overhead_s"] = median([i.job_s for i in traced]) - untraced_job_s
            w.after_trace(values)
            tracer.dump(
                os.path.join(OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"),
                {
                    "env": env,
                    "metrics": values,
                    "stages": [vars(s) | {"tasks": s.tasks} for s in stages],
                },
            )
            units = PER_LAYER
    finally:
        w.close()
        sessions.close()
    attempted = sum(i.attempted for i in iters)
    failed = sum(i.failed for i in iters)
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": report(values, units),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    from perfbench.harness import RunDirs

    dirs = RunDirs()
    try:
        result = run(args, dirs)
    finally:
        dirs.close()
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
