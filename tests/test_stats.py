"""Tests for operators/stats.py: statistical tests, correlation,
time-series and drift operators.

Spark-side pins check what the DuckDB oracle cannot see: plan shape
(broadcast tie and seasonal tables, one aggregate pass, grids rather
than per-row ranks) and ANSI edge cases (a constant series yields
NULL, not a divide-by-zero). The property tests that compare each
oracle against a Python reference are in tests/test_round*_properties.py.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from tests.helpers import SF, _q

SF_DIR = "/root/testdata/sf0.001"


def test_linreg_recovers_planted_line(spark):
    """Exact-moment OLS on a planted y = 2x + 300 line (cents) must
    recover slope/intercept exactly on the micro grid."""
    import bigdatagenomic_spark.operators.stats as ST

    rows = [(i, "G", 2 * i + 300) for i in range(-50, 51)]
    df = spark.createDataFrame(rows, "x long, grp string, y long")
    dec = "decimal(38,0)"
    s = df.groupBy("grp").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("y").cast(dec)).cast(dec).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast(dec).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast(dec).alias("sxy"),
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / den
    icept = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(
        "double"
    ) / den
    r = s.select(slope.alias("m"), icept.alias("b")).collect()[0]
    assert r.m == pytest.approx(2.0, abs=1e-12)
    assert r.b == pytest.approx(300.0, abs=1e-9)
    # and the registered query is sane on testdata: one row per priority
    out = _q("q_x_linreg")(spark, SF).collect()
    assert len(out) == 5 and all(o.n > 0 for o in out)


def test_seasonal_decompose_broadcasts_dow_side(spark):
    """The 7-row weekday seasonal table attaches by broadcast — the
    calendar-bounded daily series never shuffles for the join."""
    from bigdatagenomic_spark.operators.stats import q_x_seasonal_decompose

    plan = (
        q_x_seasonal_decompose(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_acf_constant_series_yields_null_not_crash(spark, tmp_path):
    """A constant daily order series (zero variance at every lag) must
    yield acf = NULL for all lags — same ANSI hazard as rolling corr,
    same moment-sum fix (stats.py q_x_acf)."""
    import datetime

    from bigdatagenomic_spark.operators.stats import ACF_MAX_LAG, q_x_acf

    rows = []
    for d in range(20):
        for k in range(2):  # constant 2 orders/day
            rows.append(
                (d * 2 + k, datetime.date(2024, 3, 1) + datetime.timedelta(days=d))
            )
    o = spark.createDataFrame(rows, "o_orderkey long, o_orderdate date")
    o.write.parquet(str(tmp_path / "orders.parquet"))
    out = q_x_acf(spark, str(tmp_path)).collect()
    assert [r.lag for r in out] == list(range(1, ACF_MAX_LAG + 1))
    assert all(r.acf is None for r in out)
    assert [r.n_pairs for r in out] == [20 - L for L in range(1, ACF_MAX_LAG + 1)]


# ---------------------------------------------------------------------------
# psi drift: one-day calendar (span 0) must not divide by zero
# ---------------------------------------------------------------------------

def test_psi_drift_single_day_all_current(spark, tmp_path):
    """With lo == hi every event is 'current'; the Laplace smoothing
    keeps every denominator >= 1 so no guard is needed — pin it."""
    import datetime

    import pandas as pd

    ev = pd.DataFrame(
        {
            "event_id": range(4),
            "ts": [datetime.datetime(2024, 5, 1, 12)] * 4,
            "event_type": ["a", "a", "b", "b"],
        }
    )
    spark.createDataFrame(ev).write.parquet(str(tmp_path / "events.parquet"))
    from bigdatagenomic_spark.operators.stats import q_x_psi_drift

    rows = {r.event_type: r for r in q_x_psi_drift(spark, str(tmp_path)).collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert r.n_ref == 0 and r.n_cur == 2
        assert r.psi_term_micro is not None


# ---------------------------------------------------------------------------
# statistical tests: plan pins
# ---------------------------------------------------------------------------

def test_spearman_rank_tables_broadcast(spark):
    """The two distinct-value tie tables (<=50 / <=11 rows per group) must
    attach to the fact rows as broadcast joins — a sort-merge there would
    shuffle the whole fact table twice for a dictionary-sized dim."""
    from bigdatagenomic_spark.operators.stats import q_x_spearman_corr

    plan = (
        q_x_spearman_corr(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan


def test_welch_is_one_aggregate_pass(spark):
    """Welch's moments must come from ONE conditional aggregate over the
    scan — no self-join of per-arm subqueries (two scans) and no window."""
    from bigdatagenomic_spark.operators.stats import q_x_welch_ttest

    df = q_x_welch_ttest(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("relation") <= 1, plan
    assert "Window" not in plan, plan
    row = df.collect()[0]
    assert row.n1 > 0 and row.n2 > 0
    assert row.mean1_micro > 0 and row.mean2_micro > 0


def test_ks_and_mw_grid_not_fact_rows(spark, driver_budget):
    """The KS/MW rank machinery must aggregate to the distinct-cent grid
    BEFORE any cumsum/window work: above the driver budget every window
    in the plan orders by the grid value over pre-aggregated counts (no
    window ever sees a raw event column), and the single-row result is
    sane."""
    from bigdatagenomic_spark.operators.stats import q_x_ks_test, q_x_mann_whitney

    driver_budget(-1)
    for fn in (q_x_ks_test, q_x_mann_whitney):
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            spec = m.group(1)
            assert "_pid" in spec, plan  # two-phase local window only
            assert "value" not in spec and "event_id" not in spec, plan
        (row,) = df.collect()
        assert row.n1 > 0 and row.n2 > 0


def test_decay_agg_is_exact_integer_and_bounded(spark):
    """The decayed sum must be an integer aggregate (order-proof), and
    a >62-bucket age must clamp instead of overflowing the shift."""
    import datetime

    import pandas as pd

    ev = pd.DataFrame(
        {
            "event_id": range(3),
            "ts": [
                datetime.datetime(2024, 6, 1),
                datetime.datetime(2024, 5, 1),  # 31 days: one bucket
                datetime.datetime(1900, 1, 1),  # ancient: weight 0
            ],
            "event_type": ["click"] * 3,
            "value": [2.0, 2.0, 2.0],
        }
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(ev).write.parquet(f"{tmp}/events.parquet")
        from bigdatagenomic_spark.operators.stats import q_x_decay_agg

        (row,) = q_x_decay_agg(spark, tmp).collect()
        assert row.n == 3 and row.sum_cents == 600
        # 200*1e6 + 200*500000 + 200*0
        assert row.decayed_microcents == 200 * 1000000 + 200 * 500000
