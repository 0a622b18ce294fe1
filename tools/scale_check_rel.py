"""Relational/events scale validation (SCALING.md part 2): run the
registry's join / aggregate / window / event-sequence headliners
UNMODIFIED against the 1x/10x/100x fact tables produced by
tools/make_scale_tables.py (facts replicated with key-disjoint offsets,
dimensions fixed — the realistic growth shape) and report wall-time
growth.

Pass criterion mirrors tools/scale_check.py: wall-time ratio at or
below the data ratio within constant factors; a ratio far above it is
the signature of a shuffle explosion, a join fan-out leak, or a
single-partition window collapse.

Workloads (all are plain registry entries taking (spark, sf_dir)):
  * q08_agg_tpch_q1     — codegen'd hash aggregate over lineitem
  * q_tpch_q3_shape     — customer x orders x lineitem shuffle join + agg
  * q_tpch_q9_shape     — 6-table join tree (broadcast dims, shuffled facts)
  * q13_rank_window     — per-custkey rank window over orders
  * q_x_sessionize      — per-user session windows over events
  * q_x_interval_join   — time-bucketed range join over events
  * q_x_asof_join       — as-of backward join clicks->views over events

Usage: python tools/scale_check_rel.py [tables_dir] [--out FILE]
       [--tranche 2 | --queries q_a,q_b,...]
(default tables_dir /tmp/scale_rel; expects x1/x10/x100 under it).
``--queries`` sweeps any registry entries instead: point tables_dir at
the corpus replicas (tools/make_scale_corpus.py) for text operators. A
cell that raises is recorded as {"raised": "<exception type>"}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatagenomic_spark.session import get_spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


WORKLOADS = (
    ("tpch_q1_agg", "q08_agg_tpch_q1"),
    ("tpch_q3_join", "q_tpch_q3_shape"),
    ("tpch_q9_join", "q_tpch_q9_shape"),
    ("rank_window", "q13_rank_window"),
    ("sessionize", "q_x_sessionize"),
    ("interval_join", "q_x_interval_join"),
    ("asof_join", "q_x_asof_join"),
)

# round-8 second tranche (--tranche 2): the remaining heavy join /
# event-sequence families part 2 didn't cover — 6-way snowflake (q5),
# outer-join count distribution (q13), big-order HAVING semi (q18),
# event-transition matrix (markov)
WORKLOADS2 = (
    ("tpch_q5_snowflake", "q_tpch_q5_shape"),
    ("tpch_q13_outer_dist", "q_tpch_q13_shape"),
    ("tpch_q18_having", "q_tpch_q18_shape"),
    ("markov_transitions", "q_x_markov_transitions"),
)

REPLICAS = (1, 10, 100)


def main() -> None:
    argv = sys.argv[1:]
    opt_values = {
        argv[i + 1]
        for i, a in enumerate(argv)
        if a.startswith("--") and i + 1 < len(argv)
    }
    args = [a for a in argv if not a.startswith("--") and a not in opt_values]
    tables_dir = args[0] if args else "/tmp/scale_rel"
    out = None
    if "--out" in sys.argv:
        out = sys.argv[sys.argv.index("--out") + 1]

    workloads = WORKLOADS
    if "--tranche" in sys.argv:
        if sys.argv[sys.argv.index("--tranche") + 1] == "2":
            workloads = WORKLOADS2
    if "--queries" in sys.argv:
        names = sys.argv[sys.argv.index("--queries") + 1].split(",")
        workloads = tuple((n, n) for n in names)

    from bigdatagenomic_spark.queries import queries

    reg = queries()
    spark = get_spark(app_name="scale-check-rel")
    results: dict[str, dict] = {}
    for label, qname in workloads:
        fn = reg[qname]
        row: dict[str, float] = {}
        for r in REPLICAS:
            sf_dir = os.path.join(tables_dir, f"x{r}")
            # warm-up + min-of-2 timed runs, same protocol as scale_check.py
            try:
                force(fn(spark, sf_dir))
                times = []
                for _ in range(2):
                    t0 = time.monotonic()
                    force(fn(spark, sf_dir))
                    times.append(time.monotonic() - t0)
                row[f"x{r}"] = round(min(times), 3)
            except Exception as exc:  # e.g. a size guard refusing the scale
                row[f"x{r}"] = {"raised": type(exc).__name__}
                print(f"{label} x{r}: {str(exc)[:300]}", file=sys.stderr)
            print(f"{label} x{r}: {row[f'x{r}']}", flush=True)
        for r in REPLICAS[1:]:
            if all(isinstance(row[k], float) for k in ("x1", f"x{r}")):
                row[f"ratio_{r}"] = round(row[f"x{r}"] / row["x1"], 2)
        results[label] = row

    line = json.dumps(results)
    print(line, flush=True)
    if out:
        with open(out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
