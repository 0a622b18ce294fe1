"""Job census of the headline set: the Spark jobs, stages and tasks each
``bench.HEADLINE`` query runs per call, at each core count.

    python tools/job_census.py [--sf-dir DIR] [--cores 8,32] [--out FILE]

For every core count the tool starts a ``local[<cores>]`` session (the
shuffle partitions follow the cores, as in ``bench.py``) and runs every
headline query twice against ``--sf-dir`` (default
``$SPARK_GRAFT_SF_DIR``, else the sf0.1 test tables). The first call
collects the result (warm-up, and the sha256 of its sorted rows); the
second is forced into a noop sink, as ``bench.py`` times it, under a job
group of its own. Of that second call it records:

* ``jobs``: every job of the group;
* ``stages`` and ``tasks``: the stages that ran (a skipped stage reused
  earlier output) and their completed tasks;
* ``schema_jobs``: the jobs Spark names ``parquet at ...``, the one-task
  job ``spark.read.parquet`` runs to infer a schema that is not declared.

These counts do not depend on timing, so they repeat exactly: the
``slow`` test ``tests/test_job_census.py``
checks a fresh census against the committed ``tools/job_census.json``.
The plans they count pick their strategy by the driver row budget; at
sf0.1 every input that rule sees is under the budget of a 1g heap, so
the counts hold for any driver heap from 1g up.

Prints one JSON line; ``--out FILE`` also writes it, indented.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE, force  # noqa: E402
from bigdatagenomic_spark import queries as registry  # noqa: E402
from bigdatagenomic_spark.session import get_spark  # noqa: E402

COUNTS = ("jobs", "stages", "tasks", "schema_jobs")


def _settle(spark, tag: str, timeout: float = 60.0) -> None:
    """Wait until Spark's status store holds every job run so far.

    The store is filled from the listener bus in event order, after the
    jobs have returned, so once a trivial job of its own group shows as
    succeeded, every earlier job and stage is in the store too."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    spark.range(1).collect()
    tracker = sc.statusTracker()
    deadline = time.monotonic() + timeout
    while True:
        infos = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(tag)]
        if infos and all(i is not None and i.status == "SUCCEEDED" for i in infos):
            sc.setLocalProperty("spark.jobGroup.id", None)
            return
        if time.monotonic() > deadline:
            raise RuntimeError("the status store did not catch up with the jobs run")
        time.sleep(0.01)


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages that ran, their tasks and the schema-inference jobs
    of a finished job group."""
    _settle(spark, f"{group}-settle")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for sid in sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds}):
        data = store.lastStageAttempt(sid)
        if data.status().toString() != "SKIPPED":
            stages += 1
            tasks += data.numCompleteTasks()
    schema_jobs = sum(store.job(j).name().startswith("parquet at ") for j in jobs)
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "schema_jobs": schema_jobs}


def digest(rows) -> str:
    return hashlib.sha256(repr(sorted(map(repr, rows))).encode()).hexdigest()


def census(spark, sf_dir: str, names=HEADLINE) -> dict[str, dict]:
    """Per query: the counts of its second call, and its result digest."""
    qs = registry.queries()
    sc = spark.sparkContext
    out = {}
    for name in names:
        result = digest(qs[name](spark, sf_dir).collect())
        group = f"census-{name}"
        sc.setJobGroup(group, name)
        try:
            force(qs[name](spark, sf_dir))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[name] = {**group_counts(spark, group), "digest": result}
        print(name, out[name], file=sys.stderr, flush=True)
    return out


def totals(per_query: dict[str, dict]) -> dict[str, int]:
    return {k: sum(q[k] for q in per_query.values()) for k in COUNTS}


def main() -> int:
    args = sys.argv[1:]

    def opt(flag: str, default: str) -> str:
        return args[args.index(flag) + 1] if flag in args else default

    sf_dir = opt("--sf-dir", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    out_file = opt("--out", "")
    result = {"tables": os.path.basename(os.path.normpath(sf_dir)), "cores": {}}
    for cores in map(int, opt("--cores", "8,32").split(",")):
        spark = get_spark(app_name="job-census", cpus=cores)
        per_query = census(spark, sf_dir)
        result["cores"][str(cores)] = {"total": totals(per_query), "queries": per_query}
        spark.stop()
    print(json.dumps(result))
    if out_file:
        with open(out_file, "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
