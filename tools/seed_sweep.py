"""Correctness sweep: one perfbench workload over a range of seeds.

Usage (from the repository root)::

    python3 tools/seed_sweep.py iterative 1000 1099 2>/dev/null
    python3 tools/seed_sweep.py assembly 1000 1039 2>/dev/null

For each seed it builds the benchmark's inputs (``perfbench/inputs.py``,
in a child process), makes one untraced pass with perfbench's own
``Runner.run_pass`` and checks the outputs with ``Runner``'s own checks
(``check_results`` against the DuckDB oracle digests for query
workloads; the assembly pass checks itself). All seeds share one Spark
session, started as perfbench starts it, so a seed costs a few seconds.

Standard output gets one line per seed and a summary line; Spark's
console output and perfbench's failure details go to standard error.
The exit status is 1 if any seed failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
sys.path[:0] = [BENCH, ROOT]

import run as perfbench  # noqa: E402  (perfbench/run.py)


def sweep_seed(spark, workload: str, seed: int, work: str) -> int:
    """Build, run and check one seed; returns its number of failures."""
    inputs = os.path.join(work, "inputs")
    subprocess.run([sys.executable, os.path.join(BENCH, "inputs.py"), "build", workload,
                    str(seed), inputs], check=True, stdout=sys.stderr, timeout=300)
    with open(os.path.join(inputs, "expected.json")) as fh:
        expected = json.load(fh)
    runner = perfbench.Runner(workload, inputs, expected, work)
    runner.spark = spark
    runner.run_pass(f"seed {seed}", False)
    runner.check_results()
    return runner.failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=perfbench.WORKLOADS)
    ap.add_argument("first", type=int)
    ap.add_argument("last", type=int)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"sweep-{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    session = perfbench.Session(work)
    failed_seeds = []
    t0 = time.time()
    try:
        session.start()
        for seed in range(args.first, args.last + 1):
            seed_work = os.path.join(work, f"seed-{seed}")
            try:
                failures = sweep_seed(session.spark, args.workload, seed, seed_work)
            except Exception:  # an input build or check that raises fails the seed
                traceback.print_exc()
                failures = 1
            finally:
                shutil.rmtree(seed_work, ignore_errors=True)
            if failures:
                failed_seeds.append(seed)
            print(f"{args.workload} seed {seed}: {'FAILED' if failures else 'ok'}", flush=True)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seeds": [args.first, args.last],
                      "failed": len(failed_seeds), "of": args.last - args.first + 1,
                      "failed_seeds": failed_seeds,
                      "wall_s": round(time.time() - t0, 1)}))
    return 1 if failed_seeds else 0


if __name__ == "__main__":
    sys.exit(main())
