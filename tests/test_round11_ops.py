"""Spark-side behavioral pins for the round-11 operators: plan shape
and ANSI edge cases the DuckDB oracle can't see."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


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


# ---------------------------------------------------------------------------
# assortativity: zero-variance (regular graph) and empty-graph edges
# ---------------------------------------------------------------------------

def test_assortativity_regular_graph_yields_null_not_crash(spark, tmp_path):
    """A triangle (all degrees equal) has zero degree variance: the
    CASE guard must emit NULL — F.corr in aggregate position would
    throw DIVIDE_BY_ZERO under ANSI (the q_x_acf lesson)."""
    import pandas as pd

    # three orders sharing pairwise parts -> triangle, every degree 2
    li = pd.DataFrame(
        {
            "l_orderkey": [1, 2, 2, 3, 3, 1],
            "l_partkey": [10, 10, 20, 20, 30, 30],
        }
    )
    spark.createDataFrame(li).write.parquet(str(tmp_path / "lineitem.parquet"))
    from bigdatagenomic_spark.operators.graph import (
        q_graph_degree_assortativity,
    )

    (row,) = q_graph_degree_assortativity(spark, str(tmp_path)).collect()
    assert row.n_edges == 3
    assert row.sum_deg == 12
    assert row.assortativity is None


def test_assortativity_empty_graph_single_null_row(spark, tmp_path):
    import pandas as pd

    li = pd.DataFrame({"l_orderkey": [5], "l_partkey": [10]})  # no co-pairs
    spark.createDataFrame(li).write.parquet(str(tmp_path / "lineitem.parquet"))
    from bigdatagenomic_spark.operators.graph import (
        q_graph_degree_assortativity,
    )

    (row,) = q_graph_degree_assortativity(spark, str(tmp_path)).collect()
    assert row.n_edges == 0
    assert row.assortativity is None


# ---------------------------------------------------------------------------
# hapax / readability: token-less and sentence-less docs drop, not crash
# ---------------------------------------------------------------------------

def test_hapax_and_readability_drop_degenerate_docs(spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["!!! ??? ...", "a a b.", "word"],
        }
    )
    spark.createDataFrame(docs).write.parquet(str(tmp_path / "documents.parquet"))
    from bigdatagenomic_spark.operators.text import (
        q_text_hapax,
        q_text_readability,
    )

    h = {r.doc_id: r for r in q_text_hapax(spark, str(tmp_path)).collect()}
    assert set(h) == {1, 2}
    assert (h[1].n_tokens, h[1].n_types, h[1].n_hapax) == (3, 2, 1)
    assert h[1].hapax_ratio_micro == 500000
    assert h[2].hapax_ratio_micro == 1000000

    r = {x.doc_id: x for x in q_text_readability(spark, str(tmp_path)).collect()}
    # doc 0 has no words; doc 2 "word" has no [.!?] but one trimmed
    # sentence under the split semantics -> kept
    assert set(r) == {1, 2}
    assert r[1].n_sentences == 1 and r[1].n_words == 3
    assert r[2].n_syllables == 1  # "word": one vowel group


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
# wave-2 statistical tests: plan pins
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


def test_trimmed_mean_is_grid_algebra_not_per_row_rank(spark, driver_budget):
    """Round-11 perf rewrite pin: the kept multiset comes from rank-
    interval overlap on the DISTINCT-CENTS grid — the plan must contain
    NO row_number at all (the per-row two_phase_rank formulation cost
    20.6 s on a 6M-row replica; the grid form is ~flat), and above the
    driver budget every window (the grid cumsum) must stay
    _pid-partitioned."""
    from bigdatagenomic_spark.operators.scale import q_x_trimmed_mean

    driver_budget(-1)
    plan = (
        q_x_trimmed_mean(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "row_number" not in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in m.group(1), plan


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


# ---------------------------------------------------------------------------
# wave-3 text/dedup/rules ops: plan pins
# ---------------------------------------------------------------------------

def test_editdist_stays_jvm_side_and_pushes_filter(spark):
    """Levenshtein must run as the built-in JVM expression (never a
    Python UDF), and the n_chars length-contract predicate must reach
    the parquet scan as a pushed filter."""
    from bigdatagenomic_spark.operators.dedup import q_dedup_editdist

    from bigdatagenomic_spark.plans import formatted_plan

    df = q_dedup_editdist(spark, SF_DIR)
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "levenshtein" in exec_plan
    assert "BatchEvalPython" not in exec_plan and "ArrowEvalPython" not in exec_plan
    formatted = formatted_plan(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
    assert any("n_chars" in p for p in pushed), formatted


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


# ---------------------------------------------------------------------------
# wave-5 ops: plan pins
# ---------------------------------------------------------------------------

def test_winsorize_is_grid_algebra_not_per_row_rank(spark, driver_budget):
    """Same grid pin as trimmed_mean: no row_number anywhere; above the
    driver budget the grid cumsum windows stay _pid-partitioned."""
    from bigdatagenomic_spark.operators.scale import q_x_winsorize

    driver_budget(-1)
    plan = (
        q_x_winsorize(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "row_number" not in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "_pid" in m.group(1), plan


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


def test_two_hop_excludes_direct_neighbors(spark, tmp_path):
    """Path graph 1-2-3: node 1 reaches 3 in exactly two hops; node 2
    reaches nothing new (both neighbors direct)."""
    import pandas as pd

    li = pd.DataFrame(
        {
            "l_orderkey": [1, 2, 2, 3],
            "l_partkey": [10, 10, 20, 20],
        }
    )
    spark.createDataFrame(li).write.parquet(str(tmp_path / "lineitem.parquet"))
    from bigdatagenomic_spark.operators.graph import q_graph_two_hop

    rows = {r.id: r for r in q_graph_two_hop(spark, str(tmp_path)).collect()}
    assert rows[1].degree == 1 and rows[1].n_2hop == 1
    assert rows[2].degree == 2 and rows[2].n_2hop == 0
    assert rows[3].degree == 1 and rows[3].n_2hop == 1
