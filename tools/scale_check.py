"""Empirical scale validation (VERDICT r6 #1): run the most expensive
headline plan families at 1x / 10x / 100x the sf0.1 documents corpus
(tools/make_scale_corpus.py) plus the assembly path extraction at
20k / 200k / 2M-read chains, and report wall-time growth. With ``--cc``
it instead times connected_components' two strategies on random graphs
of 10k / 100k / 1M / 5M edges: the driver union-find (budget forced
open) against the hash-min loop (budget forced shut). With
``--two-phase`` it times ``two_phase_cumsum`` on
generated frames of 100k / 1M / 5M / 20M rows: the plain window over one
partition (budget forced open) against the two-phase path (budget
forced shut).

Pass criterion: near-linear growth — a workload's time ratio should
track its data ratio (x10 ≈ 10x, x100 ≈ 100x) within constant factors;
any super-linear blow-up (shuffle explosion, all-pairs leak,
single-partition collapse) shows up as a ratio far above the data
ratio. Results feed SCALING.md.

The corpus workloads deliberately run the UNBOUNDED operators (full
corpus in the candidate generator), not the registry queries — several
registry entries bound their O(n^2)-flavored verification samples by
contract, which would mask scaling.

Usage: python tools/scale_check.py [corpus_dir] [--out FILE]
(default corpus_dir /tmp/scale_corpus; expects x1/x10/x100 under it);
       python tools/scale_check.py --cc [--out FILE] (needs no input);
       python tools/scale_check.py --two-phase [--out FILE] (needs no input).
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


def docs_at(spark, corpus_dir: str, r: int):
    return spark.read.parquet(
        os.path.join(corpus_dir, f"x{r}", "documents.parquet")
    )


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


CC_EDGES = (10_000, 100_000, 1_000_000, 5_000_000)


def random_edges(spark, n: int):
    # n uniform random edges over n vertices (mean degree 2): one giant
    # component of ~80% of the vertices, short diameter, many small ones
    return spark.range(n).select(
        (F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit((1 << 62) - 1)) % n).alias("src"),
        (F.xxhash64("id", F.lit(2)).bitwiseAND(F.lit((1 << 62) - 1)) % n).alias("dst"),
    )


def set_budget(rows: int) -> None:
    """Force every fits-on-the-driver plan choice to a ``rows`` budget
    by patching the rule's one home, ``sources.local``."""
    from bigdatagenomic_spark.sources import local

    local.driver_walk_row_budget = lambda spark: rows


def crossover(budgets: dict, inputs: dict, call, label: str, unit: str) -> dict:
    """min-of-2 seconds of ``call`` per path and input size, each path
    forced by :func:`set_budget`, after one untimed warm-up of each path
    on the first input."""
    out: dict = {}
    for path, budget in budgets.items():
        set_budget(budget)
        force(call(next(iter(inputs.values()))))
        per = {}
        for n, d in inputs.items():
            key = f"{unit[0]}{n}"
            per[key] = time_workload(lambda: call(d))
            print(f"{label}[{path}] {unit}={n}: {per[key]}s", flush=True)
        out[path] = per
    return out


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


def time_workload(build, runs: int = 2) -> float:
    ts = []
    for _ in range(runs):
        t0 = time.time()
        force(build())
        ts.append(time.time() - t0)
    return round(min(ts), 3)


def main() -> int:
    argv = list(sys.argv[1:])
    out_path = None
    if "--out" in argv:
        i = argv.index("--out")
        out_path = argv[i + 1]
        del argv[i : i + 2]
    spark = get_spark(app_name="scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    if "--cc" in argv:
        return emit({"cc": cc_crossover(spark)}, out_path)
    if "--two-phase" in argv:
        return emit({"two_phase": two_phase_crossover(spark)}, out_path)
    corpus_dir = argv[0] if argv else "/tmp/scale_corpus"

    results: dict = {"corpus": {}, "chain": {}}
    for name, fn in CORPUS_WORKLOADS:
        per = {}
        for r in (1, 10, 100):
            d = docs_at(spark, corpus_dir, r)
            # x1 pass warms codegen for the shape; larger sizes reuse it
            sec = time_workload(lambda: fn(spark, d))
            per[f"x{r}"] = sec
            print(f"{name} x{r}: {sec}s", flush=True)
        per["ratio_10"] = round(per["x10"] / per["x1"], 2)
        per["ratio_100"] = round(per["x100"] / per["x1"], 2)
        results["corpus"][name] = per

    from bigdatagenomic_spark.operators.assembly import extract_path

    # a shut budget forces pointer doubling, an open one the driver walk
    for strategy, budget in (("doubling", 0), ("walk", 1 << 62)):
        set_budget(budget)
        per = {}
        for n in CHAIN_SIZES:
            reads = chain_reads(spark, n).localCheckpoint(eager=True)
            t0 = time.time()
            got = extract_path(reads, source=1, max_rounds=40, n_rows_hint=n).count()
            sec = round(time.time() - t0, 3)
            assert got == n, (strategy, n, got)
            per[f"n{n}"] = sec
            print(f"path[{strategy}] n={n}: {sec}s", flush=True)
        per["ratio_10"] = round(per[f"n{CHAIN_SIZES[1]}"] / per[f"n{CHAIN_SIZES[0]}"], 2)
        per["ratio_100"] = round(per[f"n{CHAIN_SIZES[2]}"] / per[f"n{CHAIN_SIZES[0]}"], 2)
        results["chain"][strategy] = per

    return emit(results, out_path)


def emit(results: dict, out_path: str | None) -> int:
    line = json.dumps(results)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
