"""The repository benchmark: one workload, one seed, one JSON result.

Usage (from the repository root)::

    python3 perfbench/run.py --workload iterative|assembly \\
        --seed N --seconds S --trace 0|1

A run builds its inputs from the seed (``perfbench/inputs.py``, in a
child process), starts Spark at ``local[<cpus>]`` with a pinned driver
heap, then makes one cold pass, ``WARMUP`` unmeasured passes, and
steady passes until ``--seconds`` have elapsed (and at least
``MIN_STEADY`` of them). Every operation's output
is checked after its timer stops. With ``--trace 1`` half of the steady
passes are traced: spans around each call into the program, plus one child
span per Spark stage read back from the status store, and the per-layer
metrics are computed from those spans (see README.md).

Standard output carries a ``report`` line (environment, error rate,
sample counts) and, last, the result line
``{"correct", "attempted", "failed", "metrics"}``. Spark's own console
output goes to standard error.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from spans import Tracer, union_length  # noqa: E402
from workloads import QUERY_WORKLOADS, WORKLOADS  # noqa: E402

# Fits a 15 GB host; the session default is 48g. The heap starts at its
# full size (-Xms) so that the JVM's peak RSS does not follow G1's
# adaptive heap sizing, which moved it by up to 15% between runs of one
# seed.
DRIVER_MEMORY = "1g"
WARMUP = 2  # unmeasured passes after the cold one, which JIT warm-up still slows
# Untraced steady passes per run, even past --seconds. Warm-up goes on
# slowly for many passes, so a run whose pass count depended on its
# speed would measure a different part of that curve; at the declared
# run_seconds every run makes exactly this many.
MIN_STEADY = 4
APP = "perfbench"

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.driver_gap_s": "s",
    "operators.executor_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "sources.input_bytes": "bytes",
    "plans.exchanges": "count",
    "operators.cold_extra_s": "s",
    "sources.read_graphlab_text_s": "s",
    "operators.assembly.assemble_s": "s",
    "operators.assembly.merge_s": "s",
    "sources.write_best_path_text_s": "s",
    "sources.output_bytes": "bytes",
    "operators.assembly.path_reads": "count",
    "operators.assembly.seq_len": "count",
    "trace.overhead_s": "s",
}
# stage fields summed into per-layer metrics: (metric, StageData getter, scale)
STAGE_SUMS = [
    ("operators.executor_s", "executorRunTime", 1e-3),
    ("operators.executor_cpu_s", "executorCpuTime", 1e-9),
    ("operators.gc_s", "jvmGcTime", 1e-3),
    ("operators.shuffle_read_bytes", "shuffleReadBytes", 1),
    ("operators.shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("sources.input_bytes", "inputBytes", 1),
]
ASSEMBLY_PHASES = {
    "read": "sources.read_graphlab_text_s",
    "assemble": "operators.assembly.assemble_s",
    "merge": "operators.assembly.merge_s",
    "write": "sources.write_best_path_text_s",
}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def proc_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def java_running() -> bool:
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return True
        except OSError:
            continue
    return False


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "bigdatagenomic_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_revision() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Session:
    """Starts and stops Spark, including its JVM, for one run."""

    def __init__(self, work: str):
        self.conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                "-XX:-UsePerfData",
        }
        self.spark = None

    def start(self) -> tuple[float, float]:
        """Start a fresh session; returns (get_spark seconds, setup seconds)."""
        from bigdatagenomic_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=APP, cpus=cpus(), extra_conf=self.conf)
        t1 = time.perf_counter()
        self.spark.range(1).count()
        return t1 - t0, time.perf_counter() - t0

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


class Stages:
    """Reads the finished stages of a job group from Spark's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.fences = 0

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until the store holds every event of the jobs run so far.

        The store is filled from the listener bus, one event at a time
        and in order, after the jobs have returned. Run a trivial job of
        its own group and wait for the store to show it succeeded: every
        earlier job's and stage's events are then in the store too.
        """
        self.fences += 1
        group = f"{APP}-fence-{self.fences}"
        self.sc.setJobGroup(group, "fence")
        self.spark.range(1).count()
        deadline = time.perf_counter() + timeout
        while not self._succeeded(self.tracker.getJobIdsForGroup(group)):
            if time.perf_counter() > deadline:
                raise RuntimeError("the status store did not catch up with the jobs run")
            time.sleep(0.01)

    def _succeeded(self, jobs) -> bool:
        infos = [self.tracker.getJobInfo(j) for j in jobs]
        return bool(infos) and all(i is not None and i.status == "SUCCEEDED" for i in infos)

    def of_group(self, group: str) -> tuple[int, list[dict], list[str]]:
        """(jobs, stages that ran, problems) of a group; call after settle()."""
        jobs = self.tracker.getJobIdsForGroup(group)
        problems = [] if self._succeeded(jobs) or not jobs else [f"{group}: a job did not succeed"]
        stage_ids = sorted({s for j in jobs for s in self.tracker.getJobInfo(j).stageIds})
        stages = []
        for sid in stage_ids:
            data = self.store.lastStageAttempt(sid)
            status = data.status().toString()
            if status == "SKIPPED":  # its output was reused
                continue
            sub, done = data.submissionTime(), data.completionTime()
            if status != "COMPLETE" or not (sub.isDefined() and done.isDefined()):
                problems.append(f"{group}: stage {sid} is {status}")
                continue
            row = {"stage": sid, "start": sub.get().getTime() / 1e3,
                   "end": done.get().getTime() / 1e3, "tasks": data.numCompleteTasks()}
            for metric, getter, scale in STAGE_SUMS:
                row[metric] = getattr(data, getter)() * scale
            stages.append(row)
        return len(jobs), stages, problems


class Runner:
    """One workload's passes, checks and measurements in one session."""

    def __init__(self, workload: str, inputs: str, expected: dict, work: str):
        self.workload = workload
        self.inputs = inputs
        self.expected = expected
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.tracer = Tracer()
        self.spark = None
        self.stages = None
        self.calls = []  # traced calls whose stages are read after the pass
        self.results = {}  # sha256 of a pickled query result -> its file
        self.checks = []  # (query, result sha256, rows) of every completed call

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    # --- one timed call into the program, optionally traced -------------

    def _group(self, traced: bool, name: str) -> str | None:
        if not traced:
            return None
        group = f"{APP}-{len(self.tracer.spans)}-{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        return group

    def _record(self, parent, name: str, start: float, end: float, group: str) -> None:
        """Add a call span; its stages are read once the pass is over."""
        span = self.tracer.add(name, parent, start, end, kind="call")
        self.calls.append((span, group))

    def _read_stages(self, layers: dict) -> None:
        """Add the traced calls' stage spans and accumulate their counts."""
        self.stages.settle()
        for span, group in self.calls:
            jobs, stages, problems = self.stages.of_group(group)
            for problem in problems:
                self.fail(problem)
            layers["operators.jobs"] += jobs
            layers["operators.stages"] += len(stages)
            layers["operators.tasks"] += sum(s["tasks"] for s in stages)
            for metric, _, _ in STAGE_SUMS:
                layers[metric] += sum(s[metric] for s in stages)
            layers["operators.driver_gap_s"] += span.dur - union_length(
                [(s["start"], s["end"]) for s in stages], span.start, span.end)
            for s in stages:
                self.tracer.add(f"stage {s['stage']}", span, s["start"], s["end"],
                                kind="stage", tasks=s["tasks"])
            if span.name.endswith(":build"):
                layers["queries.build_jobs"] += jobs
        self.calls = []

    # --- passes ----------------------------------------------------------

    def query_pass(self, pass_span, traced: bool, layers: dict, times: dict) -> None:
        from bigdatagenomic_spark import queries as registry
        from bigdatagenomic_spark.plans.inspect import exchange_count

        fns = registry.queries()
        for name in QUERY_WORKLOADS[self.workload]:
            self.attempted += 1
            try:
                group = self._group(traced, f"{name}:build")
                t0 = time.time()
                df = fns[name](self.spark, self.inputs)
                t1 = time.time()
                group2 = self._group(traced, f"{name}:execute")
                rows = df.collect()
                t2 = time.time()
                self.keep_result(name, df.columns, rows)
            except Exception:  # a raising query is a failed operation
                traceback.print_exc()
                self.fail(f"{name} raised")
                continue
            times[name] = t2 - t0
            if traced:
                qspan = self.tracer.add(name, pass_span, t0, t2, kind="query")
                self._record(qspan, f"{name}:build", t0, t1, group)
                self._record(qspan, f"{name}:execute", t1, t2, group2)
                layers["queries.build_s"] += t1 - t0
                layers["plans.exchanges"] += exchange_count(df)

    def keep_result(self, name: str, cols: list[str], rows: list) -> None:
        """Keep a query result for check_results(); identical ones once."""
        blob = pickle.dumps((list(cols), [tuple(r) for r in rows]))
        key = hashlib.sha256(blob).hexdigest()
        if key not in self.results:
            path = os.path.join(self.work, f"result-{len(self.results)}.pickle")
            with open(path, "wb") as fh:
                fh.write(blob)
            self.results[key] = path
        self.checks.append((name, key, len(rows)))

    def check_results(self) -> None:
        """Compare every kept result with its oracle digest.

        The normalization runs in a child process, like the oracles, so
        that DuckDB does not load into the measured process.
        """
        if not self.results:
            return
        keys = list(self.results)
        out = subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), "check",
                              *(self.results[k] for k in keys)],
                             check=True, capture_output=True, text=True, timeout=120)
        digests = dict(zip(keys, json.loads(out.stdout)))
        for name, key, n_rows in self.checks:
            want = self.expected["queries"][name]
            if digests[key] != want["digest"]:
                self.fail(f"{name}: {n_rows} rows differ from the oracle's {want['rows']}")

    def assembly_pass(self, pass_span, traced: bool, layers: dict, times: dict) -> None:
        from bigdatagenomic_spark.operators.assembly import assemble
        from bigdatagenomic_spark.plans.inspect import exchange_count
        from bigdatagenomic_spark.sources.graphlab_text import read_graphlab_text, reads_to_edges
        from bigdatagenomic_spark.sources.writers import write_best_path_text

        exp = self.expected
        out = os.path.join(self.work, "assembly-out")
        self.attempted += 1
        marks, groups = [time.time()], []
        try:
            groups.append(self._group(traced, "read"))
            reads = read_graphlab_text(self.spark, os.path.join(self.inputs, "reads.txt"))
            edges = reads_to_edges(reads)
            n_reads, n_edges = reads.count(), edges.count()
            marks.append(time.time())
            groups.append(self._group(traced, "assemble"))
            annotated, assembled = assemble(reads, edges, exp["source"], exp["destination"],
                                            n_reads_hint=n_reads)
            marks.append(time.time())
            groups.append(self._group(traced, "merge"))
            row = assembled.collect()[0]
            marks.append(time.time())
            groups.append(self._group(traced, "write"))
            write_best_path_text(annotated, out)
            with open(os.path.join(out, "assembled_sequence.txt"), "w") as fh:
                fh.write(row.content + "\n")
            marks.append(time.time())
        except Exception:
            traceback.print_exc()
            self.fail("assembly pass raised")
            return
        times["assembly"] = marks[-1] - marks[0]
        if traced:
            for i, (phase, metric) in enumerate(ASSEMBLY_PHASES.items()):
                self._record(pass_span, phase, marks[i], marks[i + 1], groups[i])
                layers[metric] += marks[i + 1] - marks[i]
            layers["plans.exchanges"] += exchange_count(annotated) + exchange_count(assembled)
        self.check_assembly(n_reads, n_edges, row, out, layers)

    def check_assembly(self, n_reads: int, n_edges: int, row, out: str, layers: dict) -> None:
        exp = self.expected
        nxt, blocks, out_bytes = {}, 0, 0
        for f in sorted(os.listdir(out)):
            path = os.path.join(out, f)
            if f.startswith("part-"):
                out_bytes += os.path.getsize(path)
                with open(path) as fh:
                    for line in fh:
                        if "\t" in line:  # a block's "id<TAB>next_id" header
                            rid, succ = line.split("\t")
                            nxt[int(rid)] = int(succ)
                            blocks += 1
        walk, v = [], exp["source"]
        while v in nxt and len(walk) <= len(nxt):  # 0 ends the path
            walk.append(v)
            v = nxt[v]
        layers["sources.output_bytes"] += out_bytes
        layers["operators.assembly.path_reads"] += len(walk)
        layers["operators.assembly.seq_len"] += row.length
        problems = []
        if (n_reads, n_edges) != (exp["reads"], exp["edges"]):
            problems.append(f"loaded {n_reads} reads/{n_edges} edges")
        if (row.offset, row.length) != (exp["offset"], exp["length"]):
            problems.append(f"sequence offset={row.offset} length={row.length}")
        if hashlib.sha256(row.content.encode()).hexdigest() != exp["content_sha256"]:
            problems.append("sequence content differs")
        if blocks != exp["reads"]:
            problems.append(f"sink wrote {blocks} blocks")
        if walk != exp["path"]:
            problems.append(f"sink path has {len(walk)} reads")
        if problems:
            self.fail("assembly: " + "; ".join(problems))

    def run_pass(self, label: str, traced: bool) -> tuple[dict, dict]:
        """One full pass; returns (per-operation seconds, per-layer sums)."""
        layers = dict.fromkeys(PER_LAYER, 0.0)
        times: dict[str, float] = {}
        body = self.assembly_pass if self.workload == "assembly" else self.query_pass
        pass_span = self.tracer.add(label, None, time.time(), time.time(), kind="pass") \
            if traced else None
        body(pass_span, traced, layers, times)
        if pass_span is not None:
            pass_span.end = time.time()
            self._read_stages(layers)
        return times, layers


def median_sum(samples: list[dict]) -> float:
    """Sum over operations of each operation's median time."""
    keys = samples[0].keys()
    return sum(statistics.median(s[k] for s in samples if k in s) for k in keys)


def run(args) -> tuple[dict, dict]:
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    session = Session(work)
    try:
        args.other_jvm = java_running()
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"), "build", args.workload,
                        str(args.seed), inputs], check=True, stdout=sys.stderr, timeout=120)
        with open(os.path.join(inputs, "expected.json")) as fh:
            expected = json.load(fh)
        # Python workers (pandas_udf) start in Spark's working directory;
        # they find the package through PYTHONPATH, which the JVM passes on.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
        runner = Runner(args.workload, inputs, expected, work)
        return measure(args, session, runner)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)


def measure(args, session: Session, runner: Runner) -> tuple[dict, dict]:
    """Set up, run the passes, and compute the report and result lines."""
    get_spark_s, setup_s = session.start()
    runner.spark = session.spark
    runner.stages = Stages(session.spark)
    t0 = time.perf_counter()
    cold, _ = runner.run_pass("cold", args.trace == 1)
    cold_s = time.perf_counter() - t0
    for i in range(WARMUP):
        runner.run_pass(f"warm-up {i}", False)
    steady, traced, layer_samples = [], [], []
    deadline = time.perf_counter() + args.seconds
    while (len(steady) < MIN_STEADY or len(traced) < len(steady) * args.trace
           or time.perf_counter() < deadline):
        # untraced, traced, traced, untraced, ...: passes still speed up
        # slowly, and this order gives both kinds the same mean position
        n = len(steady) + len(traced)
        is_traced = args.trace == 1 and n % 4 in (1, 2)
        times, layers = runner.run_pass(f"pass {n}", is_traced)
        if is_traced:
            traced.append(times)
            layer_samples.append(layers)
        else:
            steady.append(times)
    rss_kb = {"python": proc_kb("self", "VmHWM"), "jvm": proc_kb(session.jvm_pid(), "VmHWM")}
    runner.check_results()
    env = {
        "cpus": cpus(),
        "driver_memory": session.spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": int(session.spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version": session.spark.version,
        "python_version": platform.python_version(),
        "seed": args.seed,
        "inputs": {k: v for k, v in runner.expected.items()
                   if k in ("input_bytes", "tables", "lineitem_rows", "documents",
                            "graph_cc_rounds", "reads", "edges")},
        "git_revision": git_revision(),
        "source_digest": source_digest(),
        "other_jvm_at_start": args.other_jvm,
    }
    ok_ops = [t for t in steady if t]
    if not ok_ops:
        raise RuntimeError("no steady pass completed an operation")
    pass_s = median_sum(ok_ops)
    report = {
        "workload": args.workload,
        "trace": args.trace,
        "env": env,
        "error_rate": runner.failed / max(1, runner.attempted),
        "steady_passes": len(steady),
        "steady_pass_totals_s": [sum(t.values()) for t in steady],
        "traced_passes": len(traced),
        "pass_s_median": pass_s,
        "pass_s_max": max(sum(t.values()) for t in ok_ops),
        "cold_wall_s": cold_s,
        "peak_rss_kb": rss_kb,
        "ops": {k: {"cold_s": cold[k],
                    "steady_median_s": statistics.median(t[k] for t in ok_ops if k in t)}
                for k in cold if any(k in t for t in ok_ops)},
    }
    if args.trace == 0:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": sum(cold.values()),
            "pass_s": pass_s,
            "peak_rss_mb": sum(rss_kb.values()) / 1024,
        }
        units = END_TO_END
    else:
        metrics = {k: statistics.median(s[k] for s in layer_samples) for k in PER_LAYER}
        steady_med = {k: statistics.median(t[k] for t in ok_ops if k in t) for k in cold}
        metrics["operators.cold_extra_s"] = sum(cold[k] - steady_med[k] for k in steady_med)
        metrics["session.get_spark_s"] = get_spark_s
        metrics["trace.overhead_s"] = median_sum(traced) - pass_s
        units = PER_LAYER
        trace_path = os.path.join(ROOT, ".perfbench_work",
                                  f"trace-{args.workload}-seed{args.seed}.json")
        runner.tracer.write_chrome(trace_path)
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        report["spans"] = len(runner.tracer.spans)
    return report, result_line(runner.attempted, runner.failed, metrics, units)


def result_line(attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    """The contract's last output line; every declared metric must be present."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    import bigdatagenomic_spark  # noqa: F401  (fail fast outside a checkout)

    # Only the two result lines go to standard output: point fd 1 at
    # stderr for the run (the JVM inherits it) and keep the real one.
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    report, result = run(args)
    with os.fdopen(real_stdout, "w") as fh:
        fh.write(json.dumps({"report": report}) + "\n")
        fh.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
