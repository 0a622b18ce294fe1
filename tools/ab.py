"""A/B of two git revisions on one benchmark workload.

Usage (from the repository root)::

    python3 tools/ab.py BASE CHANGE WORKLOAD [--pairs 10] [--first-seed S]

Each revision is checked out with ``git worktree add --detach`` under a
temporary directory, so the current checkout is never touched, and both
worktrees are removed at the end. In each one the benchmark command of
BENCHMARK.json runs untraced, in pairs interleaved A B B A A B ...; both
runs of pair i use seed S+i. Every ``end_to_end`` metric of
BENCHMARK.json is then judged by the rule in ``judge``. A run that is
not ``correct``, or a change that fails more operations than the base,
makes the verdict ``rejected``. Last, one traced run per revision gives
the deltas of the deterministic per-layer counts (unit ``count``).

Standard output gets a per-metric table, the count deltas and one JSON
summary line. The exit status is 1 for ``rejected`` or ``regression``.

A plan dump at any revision needs no tool: ``git worktree add --detach
DIR REV`` and, in DIR, ``python -m bigdatagenomic_spark.cli query NAME
--explain --limit 0``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_TIMEOUT_S = 900
GAIN_WINS = 0.9  # share of pairs the change must win to claim a gain


def judge(base: list[float], change: list[float], better: str, bound: float) -> dict:
    """The gate's rule for one metric over paired runs (base[i] with change[i]).

    * ``regression``: the change's median is worse than the base's by
      more than ``bound`` (relative);
    * ``unresolved``: the base's IQR/median exceeds ``bound`` and not
      every change run beats every base run;
    * ``gain``: the change wins at least 90% of the pairs and the medians
      differ, in its favour, by more than the base's IQR;
    * otherwise ``within bound``.
    """
    sign = 1 if better == "lower" else -1  # sign * value: smaller is better
    mb, mc = statistics.median(base), statistics.median(change)
    q1, _, q3 = statistics.quantiles(base, n=4)
    spread = q3 - q1
    wins = sum(sign * c < sign * b for b, c in zip(base, change))
    beats_all = max(sign * c for c in change) < min(sign * b for b in base)
    if sign * (mc - mb) / mb > bound:
        status = "regression"
    elif spread / mb > bound and not beats_all:
        status = "unresolved"
    elif wins >= GAIN_WINS * len(base) and sign * (mb - mc) > spread:
        status = "gain"
    else:
        status = "within bound"
    return {"status": status, "base_median": mb, "change_median": mc,
            "delta": (mc - mb) / mb, "wins": wins, "pairs": len(base),
            "base_iqr": spread, "base": base, "change": change}


def decide(end_to_end: list[dict], base_runs: list[dict], change_runs: list[dict]) -> dict:
    """Judge every end-to-end metric over the paired result lines and
    fold them into one verdict: rejected > regression > unresolved > gain
    > within bound."""
    metrics = {}
    for spec in end_to_end:
        name = spec["name"]
        pairs = [(b["metrics"][name]["value"], c["metrics"][name]["value"])
                 for b, c in zip(base_runs, change_runs)
                 if name in b.get("metrics", {}) and name in c.get("metrics", {})]
        if len(pairs) >= 2:
            b, c = map(list, zip(*pairs))
            metrics[name] = judge(b, c, spec["better"], spec["bound"])
    statuses = {m["status"] for m in metrics.values()}
    failed = [sum(r.get("failed", 0) for r in runs) for runs in (base_runs, change_runs)]
    if (not all(r.get("correct") for r in base_runs + change_runs)
            or failed[1] > failed[0] or len(metrics) < len(end_to_end)):
        verdict = "rejected"
    else:
        verdict = next((s for s in ("regression", "unresolved", "gain") if s in statuses),
                       "within bound")
    return {"verdict": verdict, "failed": {"base": failed[0], "change": failed[1]},
            "metrics": metrics}


def git(*args: str) -> str:
    return subprocess.run(["git", "-C", ROOT, *args], check=True,
                          capture_output=True, text=True).stdout.strip()


def bench(tree: str, spec: dict, workload: str, seed: int, trace: int) -> dict:
    """One run of BENCHMARK.json's command in a worktree: its last JSON
    line, or a failed result if it printed none."""
    argv = spec["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    try:
        proc = subprocess.run(argv, cwd=tree, capture_output=True, text=True,
                              timeout=RUN_TIMEOUT_S)
        out, err = proc.stdout, proc.stderr
    except subprocess.TimeoutExpired as exc:
        out, err = "", f"timed out after {exc.timeout} s"
    for line in reversed(out.splitlines()):
        if line.startswith("{"):
            return json.loads(line)
    print(f"ab: no result line from {' '.join(argv)} in {tree}:\n"
          + "\n".join(err.splitlines()[-20:]), file=sys.stderr)
    return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    if args.pairs < 2:
        ap.error("--pairs must be at least 2")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    revs = [git("rev-parse", "--verify", f"{r}^{{commit}}") for r in (args.base, args.change)]
    with tempfile.TemporaryDirectory(prefix="ab-") as tmp:
        trees = [os.path.join(tmp, arm) for arm in ("base", "change")]
        try:
            for tree, rev in zip(trees, revs):
                git("worktree", "add", "--detach", tree, rev)
            runs: list[list[dict]] = [[], []]
            for i in range(args.pairs):
                seed = args.first_seed + i
                for arm in ((0, 1) if i % 2 == 0 else (1, 0)):
                    runs[arm].append(bench(trees[arm], spec, args.workload, seed, 0))
                    print(f"pair {i} seed {seed} {('base', 'change')[arm]}: "
                          f"correct={runs[arm][-1]['correct']}", file=sys.stderr, flush=True)
            traced = [bench(tree, spec, args.workload, args.first_seed, 1)["metrics"]
                      for tree in trees]
        finally:
            for tree in trees:
                if os.path.exists(tree):
                    git("worktree", "remove", "--force", tree)
            git("worktree", "prune")
    summary = decide(spec["end_to_end"], *runs)
    print(f"{'metric':<14}{'base':>10}{'change':>10}{'delta':>9}{'wins':>7}"
          f"{'iqr/med':>9}  status")
    for name, m in summary["metrics"].items():
        print(f"{name:<14}{m['base_median']:>10.3f}{m['change_median']:>10.3f}"
              f"{m['delta']:>+9.1%}{m['wins']:>4}/{m['pairs']:<2}"
              f"{m['base_iqr'] / m['base_median']:>9.3f}  {m['status']}")
    print(f"{'count (traced run)':<34}{'base':>12}{'change':>12}{'delta':>12}")
    counts = {}
    for name in (m["name"] for m in spec["per_layer"] if m["unit"] == "count"):
        if all(name in t for t in traced):
            counts[name] = [t[name]["value"] for t in traced]
            print(f"{name:<34}{counts[name][0]:>12g}{counts[name][1]:>12g}"
                  f"{counts[name][1] - counts[name][0]:>+12g}")
    print(json.dumps({"base": revs[0], "change": revs[1], "workload": args.workload,
                      "first_seed": args.first_seed, **summary, "counts": counts}))
    return 1 if summary["verdict"] in ("rejected", "regression") else 0


if __name__ == "__main__":
    sys.exit(main())
