"""Empirical scale validation (SCALING.md): wall time of the engine's
heavy paths at growing input sizes. Each mode prints one JSON line and,
with ``--out FILE``, writes it to FILE too.

    python tools/scale_check.py [corpus_dir]
        The UNBOUNDED corpus operators at 1x / 10x / 100x the sf0.1
        documents (tools/make_scale_corpus.py; default /tmp/scale_corpus,
        x1/x10/x100 under it), then the assembly path extraction at
        20k / 200k / 2M-read chains, pointer doubling and driver walk.
    python tools/scale_check.py [tables_dir] --tranche 1|2
    python tools/scale_check.py [tables_dir] --queries q_a,q_b,...
        Registry entries, UNMODIFIED, on x1/x10/x100 replicas (default
        /tmp/scale_rel from tools/make_scale_tables.py; point it at the
        corpus replicas for text operators). Tranche 1 is the join /
        aggregate / window / event headliner set of SCALING.md Part 2,
        tranche 2 the set of Part 5. A cell that raises (e.g. a size
        guard) is recorded as {"raised": "<exception type>"}.
    python tools/scale_check.py --cc
        connected_components on random graphs of 10k / 100k / 1M / 5M
        edges: the driver union-find (budget forced open) against the
        hash-min loop (budget forced shut). Needs no input.
    python tools/scale_check.py --two-phase
        two_phase_cumsum on generated frames of 100k / 1M / 5M / 20M
        rows: the plain window over one partition (budget forced open)
        against the two-phase path (budget forced shut). Needs no input.

Every timed cell forces its frame into a noop sink: one untimed run,
then the min of 2 timed runs (the --cc and --two-phase crossovers warm
each path once, on its first input). The path-extraction cells are one
timed count each.

Pass criterion: near-linear growth — a workload's time ratio should
track its data ratio (x10 ≈ 10x, x100 ≈ 100x) within constant factors;
any super-linear blow-up (shuffle explosion, all-pairs leak, join
fan-out, single-partition collapse) shows up as a ratio far above the
data ratio.

The corpus workloads deliberately run the unbounded operators (full
corpus in the candidate generator), not the registry queries — several
registry entries bound their O(n^2)-flavored verification samples by
contract, which would mask scaling.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bigdatagenomic_spark.session import get_spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_workload(build, runs: int = 2, warm_up: bool = True) -> float:
    """Min-of-``runs`` wall seconds of forcing ``build()``, after one
    untimed forced run unless ``warm_up`` is false."""
    if warm_up:
        force(build())
    ts = []
    for _ in range(runs):
        t0 = time.monotonic()
        force(build())
        ts.append(time.monotonic() - t0)
    return round(min(ts), 3)


REPLICAS = (1, 10, 100)


def replica_dir(root: str, r: int) -> str:
    return os.path.join(root, f"x{r}")


def add_ratios(row: dict) -> dict:
    """``ratio_<r>`` = x<r> / x1 for every replica both of whose cells
    are timings."""
    for r in REPLICAS[1:]:
        if all(isinstance(row.get(k), float) for k in ("x1", f"x{r}")):
            row[f"ratio_{r}"] = round(row[f"x{r}"] / row["x1"], 2)
    return row


# ---- corpus workloads: full corpus through the real operators ----------

def w_dup_spans(spark, docs):
    from bigdatagenomic_spark.operators.llm_prep import duplicated_spans

    return duplicated_spans(docs)


def w_boilerplate(spark, docs):
    from bigdatagenomic_spark.operators.llm_prep import boilerplate_scrub

    return boilerplate_scrub(docs)


def w_lsh_survivors(spark, docs):
    # the full-corpus dedup pipeline: map-only signatures -> banded
    # candidate equi-join -> exact-Jaccard verify -> CC survivorship
    from bigdatagenomic_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        minhash_band_pairs,
        near_dup_survivors,
    )

    pairs = minhash_band_pairs(docs, config=(4, 4)).where(
        F.col("jacc") >= JACCARD_THRESHOLD
    )
    return near_dup_survivors(docs.select("doc_id"), pairs)


def w_curriculum(spark, docs):
    from bigdatagenomic_spark.operators.curation import curriculum_order

    return curriculum_order(docs)


CORPUS_WORKLOADS = [
    ("dup_spans", w_dup_spans),
    ("boilerplate", w_boilerplate),
    ("lsh_survivors", w_lsh_survivors),
    ("curriculum", w_curriculum),
]

CHAIN_SIZES = (20_000, 200_000, 2_000_000)


def chain_reads(spark, n: int):
    # a single n-read chain i -> i+1 (the deepest path the reference's
    # merge loop could see), leaf sentinel 0 on the last read
    return spark.range(1, n + 1).select(
        F.col("id").alias("read_id"),
        F.when(F.col("id") < n, F.col("id") + 1)
        .otherwise(F.lit(0))
        .alias("next_id"),
    )


def corpus_sweep(spark, corpus_dir: str) -> dict:
    results: dict = {"corpus": {}, "chain": {}}
    for name, fn in CORPUS_WORKLOADS:
        per = {}
        for r in REPLICAS:
            d = spark.read.parquet(
                os.path.join(replica_dir(corpus_dir, r), "documents.parquet")
            )
            per[f"x{r}"] = time_workload(lambda: fn(spark, d))
            print(f"{name} x{r}: {per[f'x{r}']}s", flush=True)
        results["corpus"][name] = add_ratios(per)

    from bigdatagenomic_spark.operators.assembly import extract_path

    # a shut budget forces pointer doubling, an open one the driver walk
    for strategy, budget in (("doubling", 0), ("walk", 1 << 62)):
        set_budget(budget)
        per = {}
        for n in CHAIN_SIZES:
            reads = chain_reads(spark, n).localCheckpoint(eager=True)
            t0 = time.monotonic()
            got = extract_path(reads, source=1, max_rounds=40, n_rows_hint=n).count()
            sec = round(time.monotonic() - t0, 3)
            assert got == n, (strategy, n, got)
            per[f"n{n}"] = sec
            print(f"path[{strategy}] n={n}: {sec}s", flush=True)
        per["ratio_10"] = round(per[f"n{CHAIN_SIZES[1]}"] / per[f"n{CHAIN_SIZES[0]}"], 2)
        per["ratio_100"] = round(per[f"n{CHAIN_SIZES[2]}"] / per[f"n{CHAIN_SIZES[0]}"], 2)
        results["chain"][strategy] = per
    return results


# ---- registry workloads: the driver's (spark, sf_dir) callables --------

TRANCHES = {
    # SCALING.md Part 2: join / aggregate / window / event-sequence
    "1": (
        ("tpch_q1_agg", "q08_agg_tpch_q1"),
        ("tpch_q3_join", "q_tpch_q3_shape"),
        ("tpch_q9_join", "q_tpch_q9_shape"),
        ("rank_window", "q13_rank_window"),
        ("sessionize", "q_x_sessionize"),
        ("interval_join", "q_x_interval_join"),
        ("asof_join", "q_x_asof_join"),
    ),
    # SCALING.md Part 5: 6-way snowflake (q5), outer-join count
    # distribution (q13), big-order HAVING semi (q18), event-transition
    # matrix (markov)
    "2": (
        ("tpch_q5_snowflake", "q_tpch_q5_shape"),
        ("tpch_q13_outer_dist", "q_tpch_q13_shape"),
        ("tpch_q18_having", "q_tpch_q18_shape"),
        ("markov_transitions", "q_x_markov_transitions"),
    ),
}


def registry_sweep(spark, tables_dir: str, workloads) -> dict:
    from bigdatagenomic_spark.queries import queries

    reg = queries()
    results: dict = {}
    for label, qname in workloads:
        fn = reg[qname]
        row: dict = {}
        for r in REPLICAS:
            sf_dir = replica_dir(tables_dir, r)
            try:
                row[f"x{r}"] = time_workload(lambda: fn(spark, sf_dir))
            except Exception as exc:  # e.g. a size guard refusing the scale
                row[f"x{r}"] = {"raised": type(exc).__name__}
                print(f"{label} x{r}: {str(exc)[:300]}", file=sys.stderr)
            print(f"{label} x{r}: {row[f'x{r}']}", flush=True)
        results[label] = add_ratios(row)
    return results


# ---- crossovers: one plan choice forced each way, sizes generated ------

def set_budget(rows: int) -> None:
    """Force every fits-on-the-driver plan choice to a ``rows`` budget
    by patching the rule's one home, ``sources.local``."""
    from bigdatagenomic_spark.sources import local

    local.driver_walk_row_budget = lambda spark: rows


def crossover(budgets: dict, inputs: dict, call, label: str, unit: str) -> dict:
    """Seconds of ``call`` per path and input size, each path forced by
    :func:`set_budget` and warmed once, on the first input."""
    out: dict = {}
    for path, budget in budgets.items():
        set_budget(budget)
        per = {}
        for i, (n, d) in enumerate(inputs.items()):
            key = f"{unit[0]}{n}"
            per[key] = time_workload(lambda: call(d), warm_up=(i == 0))
            print(f"{label}[{path}] {unit}={n}: {per[key]}s", flush=True)
        out[path] = per
    return out


CC_EDGES = (10_000, 100_000, 1_000_000, 5_000_000)


def random_edges(spark, n: int):
    # n uniform random edges over n vertices (mean degree 2): one giant
    # component of ~80% of the vertices, short diameter, many small ones
    return spark.range(n).select(
        (F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit((1 << 62) - 1)) % n).alias("src"),
        (F.xxhash64("id", F.lit(2)).bitwiseAND(F.lit((1 << 62) - 1)) % n).alias("dst"),
    )


def cc_crossover(spark) -> dict:
    from bigdatagenomic_spark.operators import graph

    graphs = {n: random_edges(spark, n).localCheckpoint(eager=True) for n in CC_EDGES}
    return crossover({"driver": 1 << 62, "loop": -1}, graphs,
                     graph.connected_components, "cc", "edges")


TWO_PHASE_ROWS = (100_000, 1_000_000, 5_000_000, 20_000_000)


def running_sum_frame(spark, n: int):
    # n rows whose schedule order (score DESC, id) is a hash shuffle of
    # the id order, as curriculum_order's (q10k DESC, doc_id) is
    return spark.range(n).select(
        "id",
        (F.xxhash64("id", F.lit(3)).bitwiseAND(F.lit((1 << 62) - 1)) % 10_000).alias("score"),
        (F.xxhash64("id", F.lit(4)).bitwiseAND(F.lit((1 << 62) - 1)) % 100).alias("v"),
    )


def two_phase_crossover(spark) -> dict:
    from bigdatagenomic_spark.operators import scale

    frames = {
        n: running_sum_frame(spark, n).localCheckpoint(eager=True)
        for n in TWO_PHASE_ROWS
    }

    def cumsum(d):
        return scale.two_phase_cumsum(d, "v", [F.desc("score"), F.asc("id")])

    return crossover({"window": 1 << 62, "two_phase": -1}, frames,
                     cumsum, "cumsum", "rows")


# ---- command line -------------------------------------------------------

VALUED = ("--out", "--tranche", "--queries")


def parse_args(argv: list[str]) -> tuple[list[str], dict, set]:
    """(positionals, {valued option: value}, {flag}) of ``argv``."""
    args, opts, flags = [], {}, set()
    it = iter(argv)
    for a in it:
        if a in VALUED:
            opts[a] = next(it)
        elif a.startswith("--"):
            flags.add(a)
        else:
            args.append(a)
    return args, opts, flags


def emit(results: dict, out_path: str | None) -> int:
    line = json.dumps(results)
    print(line, flush=True)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    return 0


def main() -> int:
    args, opts, flags = parse_args(sys.argv[1:])
    spark = get_spark(app_name="scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    if "--cc" in flags:
        results = {"cc": cc_crossover(spark)}
    elif "--two-phase" in flags:
        results = {"two_phase": two_phase_crossover(spark)}
    elif "--queries" in opts or "--tranche" in opts:
        if "--queries" in opts:
            workloads = tuple((n, n) for n in opts["--queries"].split(","))
        else:
            workloads = TRANCHES[opts["--tranche"]]
        results = registry_sweep(spark, args[0] if args else "/tmp/scale_rel", workloads)
    else:
        results = corpus_sweep(spark, args[0] if args else "/tmp/scale_corpus")
    return emit(results, opts.get("--out"))


if __name__ == "__main__":
    sys.exit(main())
