"""Behavioral pins for the round-10 operators: Spark-side semantics the
DuckDB oracle can't see (plan shape, helper exactness vs the
single-window formulation, sketch boundedness), plus brute-force
cross-checks on sf0.001."""

from __future__ import annotations

import hashlib

from pyspark.sql import Window as W
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# two_phase_prefix_max == the single-partition window, wherever the
# range boundaries land
# ---------------------------------------------------------------------------

def test_two_phase_prefix_max_matches_single_window(spark, driver_budget, shuffle_partitions):
    from bigdatagenomic_spark.operators.scale import two_phase_prefix_max

    rows = [(i, (i * 37) % 19 - 9) for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "v"])
    driver_budget(-1)
    shuffle_partitions(7)
    for inclusive in (False, True):
        got = {
            r["k"]: r["pm"]
            for r in two_phase_prefix_max(
                df, "v", [F.col("k").asc()], out_col="pm", inclusive=inclusive
            ).collect()
        }
        end = 0 if inclusive else -1
        ref = {
            r["k"]: r["pm"]
            for r in df.withColumn(
                "pm",
                F.max("v").over(
                    W.orderBy("k").rowsBetween(W.unboundedPreceding, end)
                ),
            ).collect()
        }
        assert got == ref


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
# bloom join: plan shape (broadcast left-semi prefilters) + bounded sketch
# ---------------------------------------------------------------------------

def test_bloom_join_plan_prefilters_fact_with_broadcast_semis(spark):
    from bigdatagenomic_spark.operators.scale import BJ_M, q_x_bloom_join

    df = q_x_bloom_join(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # round-11 shape: the sketch is an InSet literal filter inside the
    # fact scan's codegen — no semi-join exchanges, no BNLJ, no fact
    # shuffle before the single exact broadcast join
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "LeftSemi" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "INSET" in plan or " IN (" in plan, plan


def test_bloom_sketch_is_bounded(spark):
    from bigdatagenomic_spark.operators.scale import (
        BJ_K,
        BJ_M,
        BJ_NATION,
        _bj_positions,
    )
    from bigdatagenomic_spark.sources.tables import load_table

    sup = (
        load_table(spark, SF_DIR, "supplier")
        .where(F.col("s_nationkey") == BJ_NATION)
        .select("s_suppkey")
    )
    n_keys = sup.count()
    bits = None
    for i in range(BJ_K):
        p = sup.select(_bj_positions(F.col("s_suppkey"))[i].alias("pos"))
        bits = p if bits is None else bits.unionByName(p)
    n_bits = bits.distinct().count()
    assert 0 < n_bits <= min(BJ_K * n_keys, BJ_M)


# ---------------------------------------------------------------------------
# join-size estimate == the actual join's output cardinality
# ---------------------------------------------------------------------------

def test_join_size_matches_actual_join(spark):
    from bigdatagenomic_spark.operators.scale import q_x_join_size
    from bigdatagenomic_spark.sources.tables import load_table

    row = q_x_join_size(spark, SF_DIR).collect()[0]
    ev = load_table(spark, SF_DIR, "events").where(
        F.col("user_id").isNotNull()
    )
    a = ev.select(F.col("user_id").alias("u"))
    actual = a.join(a.withColumnRenamed("u", "u2"), F.col("u") == F.col("u2")).count()
    assert row["est_rows"] == actual


# ---------------------------------------------------------------------------
# walks: every hop is a real edge chosen by the hash-argmin rule
# ---------------------------------------------------------------------------

def test_walks_follow_hash_argmin_edges(spark):
    from bigdatagenomic_spark.operators.graph import (
        NEIGHBOR_AGG_MAX_ORDERKEY,
        WALK_STEPS,
        q_graph_walks,
    )
    from bigdatagenomic_spark.sources.tables import load_table

    o = (
        load_table(spark, SF_DIR, "orders")
        .where(F.col("o_orderkey") < NEIGHBOR_AGG_MAX_ORDERKEY)
        .select("o_orderkey", "o_custkey")
        .collect()
    )
    by_key = {r["o_orderkey"]: r["o_custkey"] for r in o}
    edges: dict[int, set[int]] = {}
    for k, src in by_key.items():
        dst = by_key.get(k + 1)
        if dst is not None and dst != src:
            edges.setdefault(src, set()).add(dst)
    walks = q_graph_walks(spark, SF_DIR).collect()
    assert walks
    for r in walks:
        cur = r["v0"]
        for s in range(1, WALK_STEPS + 1):
            nxt = r[f"v{s}"]
            if cur is None or cur not in edges:
                assert nxt is None
                cur = None
                continue
            want = min(
                edges[cur], key=lambda d: (_md5_60(f"{s}:{cur}:{d}"), d)
            )
            assert nxt == want
            cur = nxt


# ---------------------------------------------------------------------------
# entropy: map-only plan (no shuffle before the final sort)
# ---------------------------------------------------------------------------

def test_entropy_plan_is_map_only(spark):
    from bigdatagenomic_spark.operators.text import q_text_entropy

    df = q_text_entropy(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan, plan


# ---------------------------------------------------------------------------
# wave 2: real BMP pixel decoder through the pixel_stats plan
# ---------------------------------------------------------------------------

def test_real_bmp_pixel_stats_through_plan(spark):
    """The pixel-stats codec boundary exercised end-to-end with the
    REAL BMP decoder: channel sums and the Rec.601 luma over actual
    decoded pixel bytes (incl. padded-row widths)."""
    from bigdatagenomic_spark.operators.multimodal import (
        bmp_rgb_decoder,
        encode_bmp,
        pixel_stats,
    )

    rows = []
    for doc_id, (w, h) in enumerate([(5, 3), (4, 7), (1, 1), (32, 2)]):
        rgb = bytes(
            (x * 7 + y * 13 + c * 29) % 256
            for y in range(h)
            for x in range(w)
            for c in range(3)
        )
        rows.append((doc_id, w, h, rgb, encode_bmp(w, h, rgb)))
    mm = spark.createDataFrame(
        [(doc_id, payload) for doc_id, _w, _h, _rgb, payload in rows],
        "doc_id LONG, payload BINARY",
    )
    got = {
        r.doc_id: (r.n_px, r.sum_r, r.sum_g, r.sum_b, r.mean_lum_milli)
        for r in pixel_stats(mm, decoder=bmp_rgb_decoder).collect()
    }
    for doc_id, w, h, rgb, _payload in rows:
        sr, sg, sb = sum(rgb[0::3]), sum(rgb[1::3]), sum(rgb[2::3])
        n_px = w * h
        assert got[doc_id] == (
            n_px, sr, sg, sb, (299 * sr + 587 * sg + 114 * sb) // n_px
        )


def test_pixel_stats_requires_decoder(spark):
    import pytest

    from bigdatagenomic_spark.operators.multimodal import pixel_stats

    mm = spark.createDataFrame([(0, b"x")], "doc_id LONG, payload BINARY")
    with pytest.raises(NotImplementedError):
        pixel_stats(mm)


# ---------------------------------------------------------------------------
# plan pins for the round-10 join shapes
# ---------------------------------------------------------------------------

def test_filtered_topk_broadcasts_query_side(spark):
    """The bounded query set ships as a broadcast build side; the
    candidate scan must not shuffle for the label-constrained join."""
    from bigdatagenomic_spark.operators.similarity import q_sim_filtered_topk

    plan = (
        q_sim_filtered_topk(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


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


def test_exact_median_keeps_row_number_partitioned(spark, driver_budget):
    """Above the driver budget two_phase_rank's window must stay
    partitioned on (_pid, grp) — an unpartitioned row_number would
    serialize the whole table through one task (the exact failure
    q_x_exact_median exists to avoid)."""
    from bigdatagenomic_spark.operators.scale import q_x_exact_median

    driver_budget(-1)
    plan = (
        q_x_exact_median(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    import re

    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        assert "_pid" in spec, plan


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
# entropy run-length rewrite (round 11): long docs and token-less docs
# ---------------------------------------------------------------------------

def test_entropy_long_doc_and_punct_only_doc(spark, tmp_path):
    """The O(T log T) run-length fold (round 11) must reproduce the
    direct count-based entropy on a 2k-token document, and a
    punctuation-only document (0 tokens) must be dropped, not crash
    the ANSI 0.0/0.0 division the CASE guard exists to prevent."""
    import math

    import pandas as pd

    long_toks = [f"w{i % 37}" for i in range(2000)] + ["rare"] * 3
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [" ".join(long_toks), "!!! ??? ...", "a a b"],
        }
    )
    spark.createDataFrame(docs).write.parquet(str(tmp_path / "documents.parquet"))
    from bigdatagenomic_spark.operators.text import q_text_entropy

    out = {r.doc_id: r for r in q_text_entropy(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 2}  # punctuation-only doc dropped, no crash

    def ref(toks):
        n = len(toks)
        counts = [toks.count(t) for t in sorted(set(toks))]
        ent = math.log(n) - sum(c * math.log(c) for c in counts) / n
        return len(toks), len(counts), math.floor(ent * 10000 + 0.5) / 10000

    for did, toks in ((0, long_toks), (2, ["a", "a", "b"])):
        n_tok, n_typ, ent = ref(toks)
        assert out[did].n_tokens == n_tok
        assert out[did].n_types == n_typ
        assert abs(out[did].ent - ent) < 1.5e-4
