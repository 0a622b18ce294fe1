"""Scale-utility tests: bucketed co-located joins, salted aggregation,
approx-distinct tolerance (SURVEY.md Q10's declared check), the
two-phase rank / running sum / prefix max helpers, the bloom join and
join-size sketch, and the plan pins of the grid-algebra median, trimmed
mean and winsorize (their oracle-vs-Python properties are in
tests/test_round*_properties.py).

The salted-agg value parity runs in test_relational_oracle.py via
q_x_salted_agg's plain GROUP BY oracle; here we pin its plan shape.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatagenomic_spark.operators.scale import (
    salted_agg,
    write_bucketed,
)
from bigdatagenomic_spark.plans import exchange_count, formatted_plan, join_kinds
from bigdatagenomic_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Both sides bucketed on the join key -> the join plans with zero
    shuffle exchanges (the co-location payoff)."""
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    bo = write_bucketed(orders, str(tmp_path / "bo"), "t_bucketed_orders", "o_orderkey")
    bl = write_bucketed(li, str(tmp_path / "bl"), "t_bucketed_lineitem", "l_orderkey")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        assert exchange_count(joined) == 0
        assert "SortMergeJoin" in join_kinds(joined)
        # and it still computes the right thing
        plain = orders.join(li, orders.o_orderkey == li.l_orderkey)
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_bucketed_orders")
        spark.sql("DROP TABLE IF EXISTS t_bucketed_lineitem")


def test_lsh_band_index_zero_exchange_on_index_side_and_parity(spark, tmp_path):
    """VERDICT r5 #5: the stored LSH band index (bucketed on bkey) must
    join the nightly delta with NO Exchange on the index side — only
    the delta shuffles into the index's bucketing — and the indexed
    formulation must emit exactly the pairs the in-memory
    q_dedup_lsh_incremental emits."""
    from pyspark.sql import functions as F

    from bigdatagenomic_spark.operators.dedup import (
        LSH_INCR_SPLIT,
        PAIR_SAMPLE_DOCS,
        lsh_band_table,
        lsh_incremental_pairs_indexed,
        materialize_lsh_band_index,
        q_dedup_lsh_incremental,
    )

    sf = "/root/testdata/sf0.01"
    d = load_table(spark, sf, "documents").where(
        F.col("doc_id") < PAIR_SAMPLE_DOCS
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # the index AFTER the delta insert (incremental maintenance
        # appends the batch's bands before pairing, dedup.py:573)
        idx = materialize_lsh_band_index(
            d, str(tmp_path / "lshidx"), "t_lsh_band_index"
        )
        # plan pin on the candidate join fragment: exactly ONE exchange
        # (the delta side); the bucketed index scan feeds the join bare
        delta_bands = lsh_band_table(d.where(F.col("doc_id") >= LSH_INCR_SPLIT))
        frag = idx.select(
            F.col("doc_id").alias("a_id"), F.col("band").alias("a_band"), "bkey"
        ).join(
            delta_bands.select(F.col("doc_id").alias("b_id"), "band", "bkey"),
            "bkey",
        ).where(F.col("a_band") == F.col("band"))
        assert exchange_count(frag) == 1, formatted_plan(frag)
        assert "SortMergeJoin" in join_kinds(frag)
        # value parity with the in-memory formulation
        got = sorted(
            (r.a_id, r.b_id, r.jacc)
            for r in lsh_incremental_pairs_indexed(idx, d, LSH_INCR_SPLIT).collect()
        )
        want = sorted(
            (r.a_id, r.b_id, r.jacc)
            for r in q_dedup_lsh_incremental(spark, sf).collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS t_lsh_band_index")


def test_two_phase_cumsum_matches_window_sum(spark, driver_budget, shuffle_partitions):
    """two_phase_cumsum must reproduce the single-window inclusive
    running sum exactly — global and per-group — on the two-phase path
    at a partition count that forces multi-partition seams."""
    import random

    from pyspark.sql import Window as W

    from bigdatagenomic_spark.operators.scale import two_phase_cumsum

    rng = random.Random(11)
    rows = [
        (i, rng.choice(["a", "b", "c"]), rng.randint(0, 50))
        for i in range(500)
    ]
    d = spark.createDataFrame(rows, "id LONG, g STRING, v LONG")
    from pyspark.sql import functions as F

    driver_budget(-1)
    shuffle_partitions(7)

    win = (
        W.partitionBy("g").orderBy("id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    want = {
        (r.g, r.id): r.c
        for r in d.withColumn("c", F.sum("v").over(win)).collect()
    }
    got = {
        (r.g, r.id): r.cum
        for r in two_phase_cumsum(
            d, "v", [F.asc("id")], group_cols=["g"], out_col="cum"
        ).collect()
    }
    assert got == want
    # global (no groups)
    gwin = W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)
    want_g = {r.id: r.c for r in d.withColumn("c", F.sum("v").over(gwin)).collect()}
    got_g = {
        r.id: r.cum
        for r in two_phase_cumsum(d, "v", [F.asc("id")], out_col="cum").collect()
    }
    assert got_g == want_g


def test_pin_counted_pins_a_frame_once(spark, driver_budget):
    """A frame that pin_counted returned comes back from it as the same
    frame, with no new checkpoint, and is judged by its recorded row
    count under the budget in force: a grid a query pins for two
    consumers is not pinned again by the two-phase helper it feeds."""
    from bigdatagenomic_spark.sources.local import pin_counted

    pinned, fits = pin_counted(spark.range(10))
    again, fits_again = pin_counted(pinned)
    assert again is pinned and fits and fits_again
    driver_budget(9)
    again, fits_again = pin_counted(pinned)
    assert again is pinned and not fits_again


@pytest.mark.parametrize("partitions", [1, 7])
@pytest.mark.parametrize(
    "op, grouped",
    [("rank", False), ("rank", True), ("cumsum", False), ("cumsum", True),
     ("prefix_max", False)],
    ids=["rank-global", "rank-grouped", "cumsum-global", "cumsum-grouped",
         "prefix_max-global"],
)
def test_two_phase_paths_match_plain_window(
    spark, driver_budget, shuffle_partitions, op, grouped, partitions
):
    """An input within the driver budget takes the one-partition plain
    window and a larger one the two-phase path over ``partitions`` range
    slices; both must equal the plain window, schema and values. The
    values hold nulls (the first ~60 rows in id order, so a whole range
    partition can be null) and one group key is null; the empty input
    too. The prefix max runs both its inclusive and exclusive frame."""
    import random

    from pyspark.sql import Window as W

    from bigdatagenomic_spark.operators.scale import (
        two_phase_cumsum,
        two_phase_prefix_max,
        two_phase_rank,
    )

    rng = random.Random(5)
    rows = [
        (i, rng.choice(["a", "b", None]), None if i < 60 or rng.random() < 0.2 else rng.randint(0, 50))
        for i in range(300)
    ]
    groups = ["g"] if grouped else []
    if op == "rank":
        cases = [(F.row_number(), W.currentRow, lambda d: two_phase_rank(
            d, [F.asc("id")], group_cols=groups, rank_col="out"
        ))]
    elif op == "cumsum":
        cases = [(F.sum("v"), W.currentRow, lambda d: two_phase_cumsum(
            d, "v", [F.asc("id")], group_cols=groups, out_col="out"
        ))]
    else:
        cases = [
            (F.max("v"), end, lambda d, inclusive=inclusive: two_phase_prefix_max(
                d, "v", [F.asc("id")], out_col="out", inclusive=inclusive
            ))
            for inclusive, end in ((True, W.currentRow), (False, -1))
        ]
    shuffle_partitions(partitions)
    for fn, end, run in cases:
        win = W.partitionBy(*groups).orderBy("id").rowsBetween(W.unboundedPreceding, end)
        for data in (rows, []):
            d = spark.createDataFrame(data, "id LONG, g STRING, v LONG")
            want = d.withColumn("out", fn.over(win).cast("long"))
            small = run(d)
            driver_budget(-1)
            large = run(d)
            driver_budget(None)
            expect = sorted(want.collect())
            assert len(expect) == len(data)
            for got in (small, large):
                assert got.schema == want.schema
                assert sorted(got.collect()) == expect


def test_salted_agg_is_two_phase(spark):
    ev = load_table(spark, SF_DIR, "events")
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={"n": ("count", "event_id"), "s": ("sum", "value")},
        salt_on="event_id",
        n_salt=8,
    )
    plan = formatted_plan(out)
    # two aggregation rounds (salted partial + combine), each with its own
    # partial/final pair
    assert plan.count("HashAggregate") >= 4
    # rejects non-re-aggregatable functions loudly
    with pytest.raises(ValueError, match="re-aggregatable"):
        salted_agg(ev, ["event_type"], {"a": ("avg", "value")}, salt_on="event_id")


def test_q10_approx_count_distinct_within_tolerance(spark):
    """Q10's declared check: approximate vs exact within rsd headroom."""
    from bigdatagenomic_spark import queries as Q

    approx = Q.queries()["q10_approx_count_distinct"](spark, SF_DIR).collect()[0][0]
    exact = (
        load_table(spark, SF_DIR, "orders")
        .agg(F.countDistinct("o_custkey"))
        .collect()[0][0]
    )
    assert abs(approx - exact) / exact <= 0.10  # default rsd 0.05, 2x headroom


def test_approx_percentile_within_tolerance(spark):
    """approx_percentile (t-digest family) vs the exact interpolated
    percentile — the same tolerance contract as Q10's approx distinct."""
    li = load_table(spark, SF_DIR, "lineitem")
    row = li.agg(
        F.percentile_approx("l_extendedprice", 0.5).alias("approx"),
        F.percentile("l_extendedprice", 0.5).alias("exact"),
    ).collect()[0]
    assert abs(row.approx - row.exact) / row.exact <= 0.05


def test_write_sorted_by_range_produces_disjoint_files(spark, tmp_path):
    """The sorted-range layout invariant: every output file covers a
    disjoint key range (this is what lets parquet min/max stats skip
    whole files for range predicates at scale)."""
    import glob

    from bigdatagenomic_spark.operators.scale import write_sorted_by_range
    from bigdatagenomic_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    path = str(tmp_path / "li_sorted")
    write_sorted_by_range(li, path, ["l_orderkey"], n_files=4)
    ranges = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        part = spark.read.parquet(f)
        row = part.selectExpr(
            "min(l_orderkey) AS lo", "max(l_orderkey) AS hi", "count(*) AS n"
        ).collect()[0]
        if row.n:
            ranges.append((row.lo, row.hi))
    ranges.sort()
    assert len(ranges) >= 2
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"overlapping file ranges: {ranges}"


def test_salt_fanout_follows_observed_skew(spark):
    """suggest_salt_fanout sizes the salt from the hottest key's share of
    the rows: a 90%-dominant key on an 8-partition shuffle needs ~8
    sub-keys; a uniform key needs none (fan-out 1, the second shuffle is
    not paid)."""
    from bigdatagenomic_spark.operators.scale import (
        salted_join,
        suggest_salt_fanout,
    )

    skewed = spark.range(1000).select(
        F.when(F.col("id") < 900, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), F.col("id") % 10)
        ).alias("k"),
        F.col("id").alias("v"),
    )
    uniform = spark.range(1000).select(
        F.concat(F.lit("k"), F.col("id") % 10).alias("k"),
        F.col("id").alias("v"),
    )
    assert suggest_salt_fanout(skewed, "k", shuffle_partitions=8) == 8
    assert suggest_salt_fanout(uniform, "k", shuffle_partitions=8) == 1
    # and the cap applies when one key IS the table
    single = spark.range(100).select(F.lit("only").alias("k"), F.col("id").alias("v"))
    assert suggest_salt_fanout(single, "k", shuffle_partitions=64, max_fanout=16) == 16

    # auto-sized salted_agg stays value-identical to the plain GROUP BY
    plain = {
        (r.k, r.n, r.s)
        for r in skewed.groupBy("k")
        .agg(F.count("v").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r.k, r.n, r.s)
        for r in salted_agg(
            skewed, ["k"], {"n": ("count", "v"), "s": ("sum", "v")},
            salt_on="v", n_salt=None,
        ).collect()
    }
    assert plain == salted

    # auto-sized salted_join matches the plain join rowset
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"D{i}") for i in range(10)], ["k", "label"]
    )
    plain_j = {(r.k, r.v, r.label) for r in skewed.join(dim, "k").collect()}
    salted_j = {
        (r.k, r.v, r.label)
        for r in salted_join(skewed, dim, key="k", salt_on="v", n_salt=None).collect()
    }
    assert plain_j == salted_j


def test_hll_rollup_tolerance_and_mergeability(spark):
    """Per-day HLL estimates within 5% of exact distinct counts, and the
    union-of-sketches estimate matches (a) the overall exact count within
    5% and (b) a sketch built directly over all rows (mergeability)."""
    from bigdatagenomic_spark.operators.stats import hll_daily_rollup

    ev = load_table(spark, SF_DIR, "events")
    got = {r.day: (r.approx_users, r.n_events)
           for r in hll_daily_rollup(ev).collect()}
    exact_days = {
        r.day: r.n
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for day, n in exact_days.items():
        approx = got[day][0]
        assert abs(approx - n) <= max(2, 0.05 * n), (day, approx, n)
    exact_total = ev.select(F.count_distinct("user_id")).collect()[0][0]
    union_est = got[None][0]
    assert abs(union_est - exact_total) <= max(2, 0.05 * exact_total)
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
    ).collect()[0][0]
    assert union_est == direct  # union of day sketches == one big sketch


def test_write_zordered_clusters_both_columns(spark, tmp_path):
    """Z-order layout invariant: per-file z-value ranges are disjoint,
    and BOTH underlying columns are clustered — the summed per-file
    min/max extent of each column is well under n_files × full-range
    (a random layout would put the full range in every file)."""
    import glob

    from bigdatagenomic_spark.operators.scale import write_zordered
    from bigdatagenomic_spark.sources.tables import load_table

    o = load_table(spark, SF_DIR, "orders").withColumn(
        "price_bucket", (F.col("o_totalprice") / 1000).cast("long")
    )
    path = str(tmp_path / "orders_z")
    write_zordered(o, path, "o_custkey", "price_bucket", n_files=8)

    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) >= 4
    extents = {"o_custkey": [], "price_bucket": []}
    full = {
        c: o.selectExpr(f"max({c}) - min({c}) AS r").collect()[0].r
        for c in extents
    }
    for f in files:
        part = spark.read.parquet(f)
        for c in extents:
            row = part.selectExpr(
                f"min({c}) AS lo", f"max({c}) AS hi", "count(*) AS n"
            ).collect()[0]
            if row.n:
                extents[c].append(row.hi - row.lo)
    for c, exts in extents.items():
        # random layout: every file spans ~the full range (sum = n*full);
        # z-order: each dimension's extents shrink by ~sqrt(n_files)
        assert sum(exts) < 0.75 * len(exts) * full[c], (c, exts, full[c])


def test_two_phase_rank_matches_window_row_number(spark, driver_budget, shuffle_partitions):
    """two_phase_rank's two-phase path must reproduce row_number()
    exactly — global and per-group — for any range-boundary placement
    (more partitions than groups forces empty/tiny partitions, the
    degenerate layouts)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from bigdatagenomic_spark.operators.scale import two_phase_rank
    from bigdatagenomic_spark.sources.tables import load_table

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "source", "n_chars"
    )
    order = [F.desc("n_chars"), F.asc("doc_id")]
    driver_budget(-1)

    shuffle_partitions(7)
    got_global = {
        r.doc_id: r.rk
        for r in two_phase_rank(d, order, rank_col="rk").collect()
    }
    want_global = {
        r.doc_id: r.rk
        for r in d.withColumn(
            "rk", F.row_number().over(W.orderBy(*order))
        ).collect()
    }
    assert got_global == want_global

    shuffle_partitions(5)
    got_grouped = {
        (r.source, r.doc_id): r.rk
        for r in two_phase_rank(d, order, group_cols=["source"], rank_col="rk").collect()
    }
    want_grouped = {
        (r.source, r.doc_id): r.rk
        for r in d.withColumn(
            "rk", F.row_number().over(W.partitionBy("source").orderBy(*order))
        ).collect()
    }
    assert got_grouped == want_grouped


def test_aqe_splits_skewed_join(spark):
    """Evidence that the AQE skew-join safety net fires: a fact table
    with one hot key (explode fan-out) sort-merge-joined to a dim must
    show skew-split partitions in the final adaptive plan when the
    skew thresholds are scaled down to test size. This is the runtime
    complement to the explicit salting operators in operators/scale.py
    — moderate skew is AQE's job, salting is for the pathological
    tail."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 1 hot key with 400k rows + 1k uniform keys with 10 rows each
        hot = spark.range(1).select(
            F.explode(F.sequence(F.lit(1), F.lit(400_000))).alias("payload")
        ).select(F.lit(0).alias("k"), "payload")
        uniform = spark.range(1_000).select(
            (F.col("id") + 1).alias("k"),
            F.explode(F.sequence(F.lit(1), F.lit(10))).alias("payload"),
        )
        fact = hot.unionByName(uniform)
        dim = spark.range(1_001).select(
            F.col("id").alias("k"), F.lit("d").alias("attr")
        )
        joined = fact.join(dim, "k").select(F.sum("payload").alias("s"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        final = plan.split("Initial Plan")[0]
        assert "SortMergeJoin(skew=true)" in final, final
        assert "skewed" in final, final  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


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
# exact median vs python statistics
# ---------------------------------------------------------------------------


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


# ---------------------------------------------------------------------------
# winsorize: plan pins
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


# ---------------------------------------------------------------------------
# weighted exact median
# ---------------------------------------------------------------------------


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
