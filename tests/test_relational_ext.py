"""Tests for operators/relational_ext.py: skyline, attribution, Gini,
lift rules, item cosine, rolling correlation and sequence patterns.

Spark-side pins check brute-force agreement on testdata, plan shape
(equi joins, partitioned row numbers) and degenerate inputs (constant
series, large decimal moments). The property tests that compare each
oracle against a Python reference are in tests/test_round*_properties.py.
"""

from __future__ import annotations

import re


from tests.helpers import SF, _q

SF_DIR = "/root/testdata/sf0.001"


def test_attribution_credits_within_lookback(spark):
    from bigdatagenomic_spark.operators.relational_ext import (
        ATTR_LOOKBACK_SEC,
        ATTR_TOUCH_TYPES,
    )

    rows = _q("q_x_attribution")(spark, SF).collect()
    assert rows  # every purchase appears, attributed or not
    attributed = [r for r in rows if r.attributed]
    unattributed = [r for r in rows if not r.attributed]
    assert attributed and unattributed  # both outcomes occur on testdata
    for r in attributed:
        assert r.touch_type in ATTR_TOUCH_TYPES
        assert 0 <= r.secs_since_touch <= ATTR_LOOKBACK_SEC
    for r in unattributed:
        assert r.touch_event_id is None and r.secs_since_touch is None


# ---------------------------------------------------------------------------
# skyline == brute-force NOT-EXISTS dominance on the real table
# ---------------------------------------------------------------------------

def test_skyline_matches_brute_force_on_part(spark):
    from bigdatagenomic_spark.operators.relational_ext import q_x_skyline
    from bigdatagenomic_spark.sources.tables import load_table

    rows = [
        (r["p_partkey"], r["p_retailprice"], r["p_size"])
        for r in load_table(spark, SF_DIR, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        .collect()
    ]
    ref = sorted(
        k
        for k, price, size in rows
        if not any(
            p2 <= price and s2 >= size and (p2 < price or s2 > size)
            for _, p2, s2 in rows
        )
    )
    got = [r["p_partkey"] for r in q_x_skyline(spark, SF_DIR).collect()]
    assert got == ref
    assert 0 < len(got) < len(rows)  # non-trivial frontier


# ---------------------------------------------------------------------------
# ANSI zero-variance regression: rolling corr / ACF must emit NULL on a
# constant series, not throw DIVIDE_BY_ZERO (advisor repro, round 11)
# ---------------------------------------------------------------------------

def test_rolling_corr_constant_series_yields_null_not_crash(spark, tmp_path):
    """14 consecutive days with constant n_click (all-zero purchases is
    the plausible sparse-corpus case) must produce roll_corr = NULL —
    under Spark 4 default ANSI mode a window-position F.corr would
    throw DIVIDE_BY_ZERO before any Project guard (verified), which is
    why q_x_rolling_corr computes moment sums instead."""
    import datetime

    from bigdatagenomic_spark.operators.relational_ext import (
        q_x_rolling_corr,
    )

    rows = []
    base = datetime.datetime(2024, 1, 1)
    for d in range(16):
        for _ in range(3):  # constant 3 clicks/day
            rows.append((base + datetime.timedelta(days=d), "click"))
        for _ in range(d % 2):  # varying purchases (still NULL: var(x)=0)
            rows.append((base + datetime.timedelta(days=d), "purchase"))
    ev = spark.createDataFrame(rows, "ts timestamp_ntz, event_type string")
    ev.write.parquet(str(tmp_path / "events.parquet"))
    out = q_x_rolling_corr(spark, str(tmp_path)).collect()
    assert len(out) == 3  # days 14..16 have a full window
    assert all(r.roll_corr is None for r in out)
    assert all(r.n_click == 3 for r in out)


# ---------------------------------------------------------------------------
# gini: the two_phase_rank window must stay pid-partitioned
# ---------------------------------------------------------------------------

def test_gini_keeps_row_number_partitioned(spark, driver_budget):
    """Same pin as q_x_exact_median: above the driver budget an
    unpartitioned row_number would serialize each priority class
    through one task — the exact failure two_phase_rank exists to
    avoid."""
    from bigdatagenomic_spark.operators.relational_ext import q_x_gini

    driver_budget(-1)
    plan = (
        q_x_gini(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in m.group(1), plan


def test_gini_decimal_moments_survive_large_inputs(spark, tmp_path):
    """The Σ i·xᵢ moment overflows BIGINT near n²·max_cents ~ 2^63; the
    decimal(38,0) accumulation must stay exact. Pin with values chosen
    so a 64-bit accumulator would already be wrong if used."""
    import pandas as pd

    n = 2000
    cents = [10_000_000_000 + i for i in range(n)]  # 1e10 cents each
    orders = pd.DataFrame(
        {
            "o_orderkey": range(n),
            "o_orderpriority": ["1-URGENT"] * n,
            "o_totalprice": [c / 100.0 for c in cents],
        }
    )
    spark.createDataFrame(orders).write.parquet(str(tmp_path / "orders.parquet"))
    from bigdatagenomic_spark.operators.relational_ext import q_x_gini

    (row,) = q_x_gini(spark, str(tmp_path)).collect()
    svals = sorted(cents)
    sx = sum(svals)
    six = sum((i + 1) * x for i, x in enumerate(svals))
    assert row.n == n
    assert row.sum_cents == sx
    assert row.gini_micro == (2 * six - (n + 1) * sx) * 1000000 // (n * sx)


def test_lift_rules_joins_are_equi(spark):
    """Pair mining must stay an equi-join on the basket key plus
    support equi-joins — the only nested-loop allowed is the 1-row
    basket-count attach."""
    from bigdatagenomic_spark.operators.relational_ext import q_x_lift_rules

    plan = (
        q_x_lift_rules(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    rows = q_x_lift_rules(spark, SF_DIR).limit(5).collect()
    for r in rows:
        assert r.cnt_ab <= min(r.cnt_a, r.cnt_b)
        assert 0 < r.conf_a2b_micro <= 1000000
