"""Structural pins for the grid-checkpoint plan family.

Rounds 13–14 found and fixed a systemic defect: `repartitionByRange`
(inside the two_phase_rank/two_phase_cumsum helpers, operators/scale.py)
SAMPLES its un-materialized input to pick range bounds, so every caller
whose grid was not eagerly checkpointed re-scanned its fact/corpus
subtree 2–4× (SCALING.md Part 14 addendum; shuffle_audit-measured).
The fix — eager localCheckpoint of the |grid|-sized aggregate before
the two-phase helper, with per-group totals derived from the cumsum
output instead of a second lineage branch — was proven structurally via
SCALING artifacts ("AQE final plans root at ExistingRDD, zero parquet
scans downstream"). This test turns that artifact claim into a
regression net: for every fixed operator, the RETURNED DataFrame's
physical plan must contain ZERO parquet scans (all fact/corpus reads
happened once, inside the eager checkpoint jobs at construction time)
and must be rooted at the checkpointed grid (Scan ExistingRDD).

Unlike tests/test_plans.py (explain-only at sf0.1), building these
DataFrames EXECUTES the bounded grid-checkpoint jobs, so this module
runs at sf0.001 where each grid materializes in well under a second.
"""

from __future__ import annotations

from bigdatagenomic_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"

# every operator that eager-checkpoints its grid before a two-phase
# helper (or a broadcast pair join): the r13 double-scan cohort, the
# r13/r14 new statistics ops, and the r14 survival fix
CHECKPOINT_ROOTED = [
    "q_x_spearman_corr",
    "q_x_trimmed_mean",
    "q_x_winsorize",
    "q_x_weighted_median",
    "q_x_ks_test",
    "q_x_curriculum",
    "q_x_train_shards",
    "q_x_token_budget_mix",
    "q_text_heaps_curve",
    "q_x_gini",
    "q_x_survival",
    "q_x_kendall_tau",
    "q_x_theil_sen",
    "q_x_mann_kendall",
]


def test_grid_family_plans_root_at_checkpoint_no_fact_rescans(spark):
    qs = Q.queries()
    bad = {}
    for name in CHECKPOINT_ROOTED:
        df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_parquet = plan.count("Scan parquet")
        n_rdd = plan.count("Scan ExistingRDD")
        if n_parquet != 0 or n_rdd == 0:
            bad[name] = {"parquet_scans": n_parquet, "existing_rdd": n_rdd}
    assert not bad, (
        "grid-checkpoint regression: these operators' downstream plans "
        "re-read parquet (the repartitionByRange sampling double-scan, "
        f"SCALING.md Part 14) or lost their checkpoint root: {bad}"
    )


def test_q21_join_subtree_pinned_once(spark):
    from bigdatagenomic_spark import queries as Q

    df = Q.queries()["q_tpch_q21_shape"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_parquet = plan.count("Scan parquet")
    n_rdd = plan.count("Scan ExistingRDD")
    # only the supplier dimension still reads parquet downstream of the
    # pinned lineitem⋈orders subtree (before the pin: 2 lineitem +
    # 2 orders + 1 supplier scans)
    assert n_parquet == 1, f"expected 1 parquet scan (supplier), got {n_parquet}"
    assert n_rdd >= 2, f"expected the pinned lo subtree on both sides, got {n_rdd}"
