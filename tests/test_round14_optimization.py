"""Round-14 optimization pins: fan_out semantics + single-pass rewrites.

The optimization round changed operator INTERNALS only (results are
oracle-pinned elsewhere); these tests pin the structural claims:

1. ``fan_out`` fires exactly in the degenerate-layout case it exists
   for (fewer input splits than cluster slots) and is a NO-OP when the
   scan already carries enough parallelism — the property that makes it
   safe at production scale.
2. The single-pass window rewrites actually removed the duplicate
   subtrees the round-14 before-plans showed (one tokenize Generate in
   q_text_novelty, no join-back in q_text_dup_spans/boilerplate).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from bigdatagenomic_spark import queries as Q
from bigdatagenomic_spark.plans.inspect import formatted_plan, join_kinds
from bigdatagenomic_spark.sources.tables import fan_out, load_table

SF_DIR = "/root/testdata/sf0.001"


def test_fan_out_fires_only_below_default_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    d = load_table(spark, SF_DIR, "documents")
    assert d.rdd.getNumPartitions() < target  # single-row-group testdata
    fanned = fan_out(d)
    assert fanned.rdd.getNumPartitions() == target
    # already-wide input: identity, no exchange added
    wide = d.repartition(target + 4)
    assert fan_out(wide) is wide


def test_fan_out_keeps_pushdown_and_pruning(spark):
    d = fan_out(load_table(spark, SF_DIR, "documents"))
    q = d.where(F.col("text").isNotNull()).select("doc_id")
    plan = formatted_plan(q)
    # filter still reaches the parquet scan below the fan-out exchange
    assert "PushedFilters: [IsNotNull(text)]" in plan
    # and the scan reads only the two needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {"doc_id:bigint", "text:string"}


def test_fan_out_preserves_rows(spark):
    d = load_table(spark, SF_DIR, "documents")
    assert fan_out(d).count() == d.count()


def test_novelty_single_tokenize_pass(spark):
    """The round-14 before-plan had TWO Generate (shingle-explode)
    nodes — the corpus was tokenized once for df(h) and again for the
    probe side. The window rewrite must keep it at one."""
    df = Q.queries()["q_text_novelty"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert join_kinds(df) == []  # df(h) attaches via window, not join


def test_dup_spans_single_pass_no_joins(spark):
    """One posexplode of the span fingerprints, occurrence count via
    window, per-doc fold in the same pass — no semi-join, no join-back,
    no second tokenize."""
    df = Q.queries()["q_text_dup_spans"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert join_kinds(df) == []
    # one parquet scan total (no base-row re-tokenize branch)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_boilerplate_streaming_distinct_count_no_anti_join(spark):
    """count(DISTINCT doc_id) per fingerprint now comes from
    max(dense_rank) windows (streaming, no per-row set state): the plan
    must carry the two window functions and no anti-join; the only
    join left is the final reassembly attach on doc_id."""
    df = Q.queries()["q_text_boilerplate"](spark, SF_DIR)
    plan = formatted_plan(df)
    assert "dense_rank" in plan
    assert "LeftAnti" not in plan
    # exactly the reassembly join remains (formatted_plan prints each
    # operator twice — tree + details — so count tree nodes)
    assert len(re.findall(r"\(\d+\) \w*HashJoin", plan)) == 1, plan


def test_two_phase_lazy_checkpoint_rank_values_exact(spark, driver_budget):
    """two_phase_rank's internal checkpoint turned lazy (pinned by the
    offsets collect, one fewer job); on the two-phase path ranks must
    still be exactly the window row_number."""
    from pyspark.sql import Window as W

    from bigdatagenomic_spark.operators.scale import two_phase_rank

    c = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    driver_budget(-1)
    got = two_phase_rank(
        c,
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        group_cols=["c_mktsegment"],
        rank_col="r",
    ).select("c_custkey", "r")
    want = c.select(
        "c_custkey",
        F.row_number()
        .over(
            W.partitionBy("c_mktsegment").orderBy(
                F.col("c_acctbal").asc(), F.col("c_custkey").asc()
            )
        )
        .alias("r"),
    )
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
