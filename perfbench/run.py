"""Benchmark entry point.

    python3 perfbench/run.py --workload qf_large_ckpt --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
and cached under ``.perfbench/cache``; each run works in its own
directory under ``.perfbench/runs`` (its ``TMPDIR``, Spark local dirs,
outputs and event log) and removes it at exit.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"

E2E_UNITS = {
    "files_per_s": "1/s",
    "setup_s": "s",
    "resume_s": "s",
    "peak_rss_mb": "MB",
    "keep_f1": "ratio",
}


def _pin_environment(run_dir: str, trace: bool) -> None:
    """Everything the JVM and the Python workers inherit, set before the
    JVM starts."""
    local = os.path.join(run_dir, "local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a fresh TMPDIR: the workers' model cache on disk starts cold
    os.environ["TMPDIR"] = tmp
    # the program's driver-memory default (24g) is more than the RAM of the
    # 15 GB machine the benchmark was tuned on.  Below its cap, G1 grows the
    # heap by GC timing rather than need: the JVM peaked at 2.6-4.8 GB with
    # a 24g cap and 1.7-2.9 GB with 4g, against 1.45-1.67 GB with 2g.  The
    # heap is neither pre-sized nor pre-touched, so its growth up to the
    # cap shows in peak_rss_mb, and beyond it as GC time.
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # workers import the package from the checkout, not from an install
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {}
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [*(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()), "pyspark-shell"]
    )


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def fingerprint(args, cores: int) -> dict:
    return {
        "nproc": cores,
        "python": platform.python_version(),
        "git_commit": _git_commit(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "OMP_NUM_THREADS": os.environ.get("OMP_NUM_THREADS", "unset"),
        "driver_memory": DRIVER_MEM,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test must be importable from the checkout; in a
    # directory holding only the benchmark this fails before any result
    sys.path.insert(0, ROOT)
    import language_identification_spark  # noqa: F401

    import workloads  # after sys.path holds ROOT

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "runs", f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    _pin_environment(run_dir, bool(args.trace))
    ctx = workloads.Ctx(
        root=ROOT, run_dir=run_dir, cache=os.path.join(work, "cache"),
        seed=args.seed, seconds=args.seconds, cores=cores,
    )
    ctx.info["host"] = fingerprint(args, cores)
    try:
        if args.trace:
            values = workloads.TRACED[args.workload](ctx)
            units = workloads.PER_LAYER
        else:
            values = workloads.WORKLOADS[args.workload](ctx)
            from tracing import peak_rss_by_process

            rss = peak_rss_by_process()
            ctx.info["peak_rss_mb_by_process"] = rss
            values["peak_rss_mb"] = sum(rss.values())
            units = E2E_UNITS
    finally:
        workloads.cleanup(ctx)

    failed = len(ctx.failures)
    report = {
        "host": ctx.info.pop("host"),
        "run": ctx.info,
        # (what, wall s, steal share) of every timed interval
        "timings": ctx.timings,
        "error_rate": failed / max(ctx.attempted, 1),
        "failures": ctx.failures,
    }
    print(json.dumps(report, default=str))
    for name, unit in units.items():
        print(f"{name:28s} {values[name]:>16.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": ctx.attempted,
                "failed": failed,
                "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
