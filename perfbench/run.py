"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload feed_sync --seed 1 --seconds 5 --trace 0

Prints a JSON line of run information (host, sample counts), then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}`` with
every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``). Exits non-zero when any op failed or
any output check did not match.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: a run that is still going after this many seconds is abandoned
DEADLINE_S = 170


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input sizes; 'tiny' is the self-test smoke scale")
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    # The engine must come from this checkout: without it there is
    # nothing to measure and the run fails here, before any output.
    import far_finer_airtable_firestore_sync_spark  # noqa: F401

    from perfbench.harness import RunDir, Tracer, host_info, start_session, stop_session
    from perfbench.workloads import WORKLOADS, Run

    spec = load_spec()
    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    run_dir = RunDir(ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(run_dir, ROOT)
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = Run(spark, run_dir, tracer, args.seed, args.seconds, args.scale)
        run.setup["session_s"] = session_s
        WORKLOADS[args.workload](run)
        values = (run.per_layer(list(units)) if args.trace else run.end_to_end())
        if args.trace:
            tracer.dump(os.path.join(
                ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            run_dir.remove()
            signal.alarm(0)
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not produced: {sorted(missing)}")
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "host": host_info(ROOT),
        "samples_s": {"write": run.write, "point_read": run.point, "scan": run.scan,
                      "write_cpu": run.write_cpu, "read_cpu": run.read_cpu},
        "failed_op_frac": run.failed / run.attempted,
        "wall": run.wall(),
        "timed_s": run.timed[1] - run.timed[0],
        **run.info,
    }
    print(json.dumps(info, sort_keys=True))
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
