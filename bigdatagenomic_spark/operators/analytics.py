"""Multi-join analytical query shapes (SURVEY.md §2.B composition of
Q03/Q04/Q08/Q15 into full TPC-H-style plans).

The reference has no relational layer at all (SURVEY.md §4.1,
/root/reference/assembly_final.cpp has a single hand-sequenced pipeline
at :711-737); these queries exercise the engine capabilities the
single-op Q-checks cover in isolation, composed the way a real warehouse
workload composes them: multi-way joins + selective filters + hash
aggregation + top-k.

Scale notes (100 TB): these shapes are exactly where Catalyst earns its
keep — filter pushdown into the parquet scans shrinks the fact table
before any join; `region`/`nation`/`customer`-sized dims get broadcast
(AQE picks this from runtime stats, and we hint the always-tiny ones
explicitly); the surviving fact-fact join is a shuffle on the join key
that AQE coalesces/skew-splits. The top-k is TakeOrderedAndProject —
per-partition heaps, no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatagenomic_spark.sources.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
# revenue per order, top-10. Filters on both fact scans cut the join
# inputs before the shuffle; the date literals sit inside the scanned
# range (orders 1995-2001, TESTDATA.md driver data).
#
# Shuffled-facts-regime shape (audited at x100 in SCALING_r8.json,
# -26% wire bytes): (a) lineitem revenue is PRE-AGGREGATED by
# l_orderkey before the orders join — o_orderdate is functionally
# determined by the order key, so grouping early is semantics-
# preserving, the groupBy's map-side combine collapses multi-line
# orders before the wire, and the join reuses the agg's hash
# partitioning (no second lineitem-side exchange); (b) orders is
# reduced by the 1/5-selective BUILDING-customer join BEFORE its
# orderkey shuffle — Catalyst doesn't reorder shuffle joins without
# CBO stats, so the order is written explicitly.
def q_tpch_q3_shape(spark, sf_dir):
    cutoff = F.to_timestamp(F.lit("1998-01-01"))
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o2 = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "o_orderdate"
    )
    li_agg = (
        li.select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("rev").alias("rev_sum"))
    )
    return (
        li_agg.join(o2, li_agg["l_orderkey"] == o2["o_orderkey"])
        .select(
            "l_orderkey", "o_orderdate", F.round("rev_sum", 2).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q_TPCH_Q3_SQL = """
SELECT l.l_orderkey, o.o_orderdate,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


# TPC-H Q5 shape: 6-way join (region→nation→customer→orders→lineitem
# ⋈ supplier with the co-nation constraint), revenue by nation.
#
# Shuffled-facts plan (round 8, SCALING.md Part 5): the naive join
# order (li⋈o⋈c⋈s) shuffles the enriched lineitem rows THREE times
# (orderkey, custkey, suppkey) and only applies the region filter at
# the end. Instead:
#   1. `asia` = nation⋈region (broadcast, ~5 rows) pre-filters
#      customer AND supplier map-side — the region predicate reaches
#      both dimension scans, cutting them (and everything joined
#      through them) ~5× before any exchange.
#   2. orders⋈customer runs BEFORE lineitem: only the two narrow
#      orders columns shuffle on custkey, and ~4/5 of orders are
#      dropped before the expensive orderkey exchange.
#   3. revenue is computed as ONE double before the orderkey exchange
#      (computed expressions don't get pushed below an Exchange by
#      column pruning — same gotcha as q9, see SCALING.md Part 4).
#   4. the final groupBy is on the int nationkey; the n_name STRING
#      never rides a fact shuffle and is re-attached to the ~5-row
#      post-agg result by a broadcast join.
# Net effect at ×100 (forced-shuffle audit, SCALING_r8.json): the
# fact rows cross two exchanges instead of three, each ~5× smaller.
def q_tpch_q5_shape(spark, sf_dir):
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    asia = n.join(r, n["n_regionkey"] == r["r_regionkey"]).select(
        "n_nationkey", "n_name"
    )
    c = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(asia.select("n_nationkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(asia.select("n_nationkey")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey")
    )
    o_asia = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "c_nationkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    by_nation = (
        li.join(o_asia, li["l_orderkey"] == o_asia["o_orderkey"])
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("s_nationkey")
        .agg(F.round(F.sum("rev"), 2).alias("revenue"))
    )
    return (
        by_nation.join(
            F.broadcast(asia), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .select("n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


Q_TPCH_Q5_SQL = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
"""


# TPC-H Q2 shape: min-cost supplier per part. The testdata has no
# partsupp table, so the part↔supplier catalog is derived as the
# DISTINCT (l_partkey, l_suppkey, l_extendedprice) triples of lineitem;
# the correlated "price = (SELECT min(price) ...)" subquery becomes a
# per-part min aggregate + equi-join — exactly the decorrelated plan
# Catalyst (and DuckDB) produce for the SQL form. At 100 TB: the
# distinct + min + join all shuffle on l_partkey, so AQE reuses one
# exchange; supplier/nation are broadcast.
def q_tpch_q2_shape(spark, sf_dir):
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_type") == "PROMO") & (F.col("p_size") < 10)
    ).select("p_partkey", "p_name")
    catalog = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .distinct()
    )
    # self-join (catalog vs its own per-part min) needs explicit aliases
    min_price = catalog.groupBy("l_partkey").agg(
        F.min("l_extendedprice").alias("min_price")
    ).select(F.col("l_partkey").alias("mp_partkey"), "min_price")
    best = catalog.join(
        min_price,
        (F.col("l_partkey") == F.col("mp_partkey"))
        & (F.col("l_extendedprice") == F.col("min_price")),
    ).select("l_partkey", "l_suppkey", "min_price")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        best.join(p, best["l_partkey"] == p["p_partkey"])
        .join(s, best["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.col("s_acctbal"),
            F.round("min_price", 2).alias("min_price"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q_TPCH_Q2_SQL = """
WITH catalog AS (
  SELECT DISTINCT l_partkey, l_suppkey, l_extendedprice FROM lineitem
)
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, s.s_acctbal,
       round(c.l_extendedprice, 2) AS min_price
FROM part p
JOIN catalog c ON c.l_partkey = p.p_partkey
JOIN supplier s ON c.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_type = 'PROMO' AND p.p_size < 10
  AND c.l_extendedprice = (SELECT min(c2.l_extendedprice)
                           FROM catalog c2
                           WHERE c2.l_partkey = p.p_partkey)
ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
LIMIT 100
"""


# TPC-H Q4 shape: decorrelated EXISTS. The testdata lineitem has no
# commit/receipt dates, so the exists predicate is "some line shipped
# after the order date". Spark plans the EXISTS as a left-semi hash
# join on l_orderkey with the date comparison as a join residual — one
# shuffle, no row duplication, which is why semi-join beats the naive
# inner-join+distinct formulation at scale.
def q_tpch_q4_shape(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q_TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# TPC-H Q7 shape: bilateral shipping volume between two nations by
# year. Two independent broadcast joins give each lineitem its
# supplier nation and (via orders→customer) its customer nation; the
# OR-of-two-directions predicate is a post-join filter. The only big
# shuffles are lineitem⋈orders and orders⋈customer on their keys.
def q_tpch_q7_shape(spark, sf_dir):
    n1 = "NATION_1"
    n2 = "NATION_2"
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") <= F.to_timestamp(F.lit("1997-12-31")))
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q_TPCH_Q7_SQL = """
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
WHERE l.l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# TPC-H Q10 shape, outer-join-agg variant: revenue lost to returned
# items per customer in one quarter — customers with NO returns are
# kept (LEFT join, revenue 0), which is the shape warehouse "report
# every account" queries need. The aggregate runs BEFORE the outer
# join (group orders⋈lineitem by custkey first), so the big fact join
# never carries customer attributes and the outer join is
# customer-cardinality, not lineitem-cardinality.
def q_tpch_q10_shape(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-04-01")))
    ).select("o_orderkey", "o_custkey")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(rev, c["c_custkey"] == rev["o_custkey"], "left")
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            F.coalesce(F.col("revenue"), F.lit(0.0)).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q_TPCH_Q10_SQL = """
WITH rev AS (
  SELECT o.o_custkey,
         round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name, n.n_name,
       round(c.c_acctbal, 2) AS c_acctbal,
       coalesce(rev.revenue, 0.0) AS revenue
FROM customer c
LEFT JOIN rev ON c.c_custkey = rev.o_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


# CUBE with grouping markers: all 4 grouping-set combinations in one
# pass (partial aggregation happens once; the expand operator fans each
# input row to its grouping sets before the single shuffle).
def q_x_cube(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


Q_X_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# RANGE window frame: value-based frame (all orders within 500 of the
# current price), vs the ROWS frames used by Q14. Peers (equal
# o_totalprice) get identical frame results, so the output is
# deterministic even with ties.
def q_x_range_frame(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-500, W.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.count("*").over(w).alias("peers_within_500"),
            F.round(F.sum("o_totalprice").over(w), 2).alias("sum_within_500"),
        )
        .orderBy("o_custkey", "o_totalprice", "o_orderkey")
    )


Q_X_RANGE_FRAME_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       count(*) OVER w AS peers_within_500,
       round(sum(o_totalprice) OVER w, 2) AS sum_within_500
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 500 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_totalprice, o_orderkey
"""


# Explicit GROUPING SETS (non-hierarchical — neither rollup nor cube):
# per-status and per-priority marginals in one pass over orders.
def q_x_grouping_sets(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
               round(sum(o_totalprice), 2) AS sum_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


Q_X_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# TPC-H Q14 shape: promoted-revenue share for one ship month. The only
# join is lineitem⋈part on partkey (AQE broadcasts part at small SF and
# shuffles it at warehouse scale); the conditional numerator and the
# denominator come out of ONE aggregate pass — no second scan.
def q_tpch_q14_shape(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-10-01")))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


Q_TPCH_Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0.0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4)
         AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
  AND l.l_shipdate < TIMESTAMP '1997-10-01'
"""


# TPC-H Q18 shape: large-volume orders. The HAVING aggregate runs
# first and is tiny relative to lineitem, so the subsequent joins to
# orders/customer carry only qualifying orderkeys; at 100 TB the
# groupBy is the one big shuffle and AQE broadcasts the survivor set.
Q18_MIN_QTY = 150


def q_tpch_q18_shape(spark, sf_dir):
    """Round-9 rewrite (SCALING.md Part 6): top-100 BELOW the customer
    join. The sort key (rounded o_totalprice, o_orderkey) uses no
    customer column, and orders⋈customer is a 1:1 FK lookup (every
    o_custkey resolves — verified on all three testdata SFs), so the
    TakeOrdered(100) commutes below the join. That makes the customer
    join's build side a CONSTANT 100 rows at any scale factor — the
    legacy shape fed it the whole (big⋈orders) stream, which grows
    linearly with SF (the HAVING selectivity is scale-invariant), so
    at 100 TB it was millions of rows through the custkey exchange for
    a 100-row answer. The explicit broadcast hint keeps the 100-row
    side off the wire even where AQE's estimator is off."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > Q18_MIN_QTY)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )
    top = (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .select(
            "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "sum_qty"
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        F.broadcast(top)
        .join(c, top["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )


def q18_limit_above_customer_join(spark, sf_dir):
    """The pre-round-9 q18 shape (limit after the customer join) — kept
    ONLY as the 'before' arm of the Part-6 shuffle audit: at ×100 with
    all joins shuffled it moved 885.7 MB / 74.35M rows against the
    registered shape's 807.7 MB / 71.41M (SCALING.md Part 6; the audit
    script is `git show 511d62e:tools/audit_q18.py`); not registered."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .where(F.col("sum_qty") > Q18_MIN_QTY)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


Q_TPCH_Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING round(sum(l_quantity), 2) > {Q18_MIN_QTY}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice, big.sum_qty
FROM big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o_totalprice DESC, o.o_orderkey
LIMIT 100
"""


# TPC-H Q16 shape: supplier diversity per part attribute group with a
# NOT-IN anti-subquery. The testdata has no partsupp, so the DISTINCT
# (l_partkey, l_suppkey) pairs of lineitem play the catalog; excluded
# suppliers (name ending in '7' — the "complaints" stand-in) are
# removed with a left-anti join BEFORE the count-distinct shuffle, so
# the excluded rows never enter the aggregation.
def q_tpch_q16_shape(spark, sf_dir):
    catalog = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    excluded = _t(spark, sf_dir, "supplier").where(
        F.col("s_name").like("%7")
    ).select(F.col("s_suppkey").alias("x_suppkey"))
    kept = catalog.join(
        excluded, catalog["l_suppkey"] == excluded["x_suppkey"], "left_anti"
    )
    p = _t(spark, sf_dir, "part").where(F.col("p_size").isin(1, 4, 7, 10)).select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    return (
        kept.join(p, kept["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q_TPCH_Q16_SQL = """
WITH catalog AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT c.l_suppkey) AS supplier_cnt
FROM catalog c
JOIN part p ON c.l_partkey = p.p_partkey
WHERE p.p_size IN (1, 4, 7, 10)
  AND c.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_name LIKE '%7')
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


# TPC-H Q19 shape: disjunctive multi-attribute join predicate (the
# OR-of-ANDs shape that stresses predicate normalization). Catalyst
# extracts the common l_partkey = p_partkey conjunct as the join key
# and leaves the disjunction as a post-join filter; the per-side
# conjuncts it can hoist (p_size ranges, quantity bounds) are pushed
# into the scans.
def q_tpch_q19_shape(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


Q_TPCH_Q19_SQL = """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""


# TPC-H Q6 shape: the pure single-table predicate aggregate (forecast
# revenue change). No join at all — the whole query is filter pushdown
# + one map-side-combined aggregate; at 100 TB its cost is the scan,
# which the pushed predicates and column pruning minimize.
def q_tpch_q6_shape(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


Q_TPCH_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# TPC-H Q15 shape: top supplier(s) by period revenue — an aggregate
# consumed twice (per-supplier revenue, and its max as the filter).
# Catalyst plans the reused aggregate subtree once (ReusedExchange);
# the max is a 1-row broadcast, so the "scalar subquery" costs one
# extra tiny stage, never a second scan of lineitem.
def q_tpch_q15_shape(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01")))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q_TPCH_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, rev.total_revenue
FROM rev
JOIN supplier s ON rev.l_suppkey = s.s_suppkey
WHERE rev.total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s.s_suppkey
"""


# TPC-H Q8 shape: national market share — the share of one supplier
# nation's revenue within one region's market, by order year. An
# 7-way join whose small sides (part, nation x2, region, customer,
# supplier) all broadcast; the single big shuffle is lineitem ⋈ orders.
# The share is a conditional-sum / sum ratio computed in ONE aggregate
# pass — no second scan, no self-join.
def q_tpch_q8_shape(spark, sf_dir):
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD").select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == n1["n_nationkey"])
        .join(F.broadcast(r), n1["n_regionkey"] == r["r_regionkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("sn_key"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q_TPCH_Q8_SQL = """
SELECT year(o.o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                      THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS mkt_share
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
JOIN region r ON n1.n_regionkey = r.r_regionkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
WHERE p.p_type = 'STANDARD' AND r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_year
ORDER BY o_year
"""


# TPC-H Q9 shape: product-type profit by supplier nation and year.
# The testdata has no partsupp, so supply cost is modeled as
# 0.5 * p_retailprice per unit (a fixed-margin adaptation, same join
# and aggregation shape). part is filtered on a substring predicate
# BEFORE the join (pushed to the scan).
#
# Wire-width shape (audited at x100 facts in the forced shuffled-facts
# regime, SCALING_r8.json): the lineitem->orders equi-join is the one
# shuffle that survives at 100 TB, so the lineitem side is narrowed
# BEFORE that exchange — amount_cents is computed right after the
# broadcast part/supplier joins (Catalyst prunes columns but does not
# push computed expressions below an exchange on its own), and the
# nation STRING never rides the fact shuffle: rows cross the wire as
# (l_orderkey, s_nationkey, amount_cents), the rollup groups by the
# int nationkey, and n_name is re-attached by a broadcast join on the
# ~|nation|x|years| row aggregate. Measured: 334.7 -> 241.6 MB wire
# (-28%), 15.7 -> 11.3 B/shuffled row, identical results.
def q_tpch_q9_shape(spark, sf_dir):
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%rod%")).select(
        "p_partkey", "p_retailprice"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    # per-row amounts are rounded to cents and summed as integers: the
    # profit expression mixes signs, so a float sum's value depends on
    # accumulation order (non-deterministic across partitionings and
    # engines); fixed-point summation is exact and order-independent
    amount_cents = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
        )
        * 100
    ).cast("long")
    li_amt = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .select("l_orderkey", "s_nationkey", amount_cents.alias("amount_cents"))
    )
    agg = (
        li_amt.join(o, li_amt["l_orderkey"] == o["o_orderkey"])
        .groupBy("s_nationkey", "o_year")
        .agg(F.sum("amount_cents").alias("cents"))
    )
    return (
        agg.join(F.broadcast(n), agg["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            "o_year",
            (F.col("cents") / 100.0).alias("sum_profit"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


Q_TPCH_Q9_SQL = """
SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
       sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)
                       - 0.5 * p.p_retailprice * l.l_quantity) * 100) AS BIGINT))
         / 100.0 AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%rod%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


# TPC-H Q11 shape: "important stock" — per-part value from one
# nation's suppliers, kept only if above a fraction of the total.
# partsupp-less adaptation: value = shipped l_extendedprice. The
# "fraction of total" scalar needs the per-part aggregate TWICE (once
# summed to one row, once filtered). The naive scalar-subquery plans
# two lineitem scans (AQE replans each consumer stage independently,
# so exchange reuse fails to canonicalize here); the earlier empty-
# frame-window form scanned once but funneled the whole ≤|part|-row
# aggregate through a single-partition exchange — ~3 GB into one task
# at 100 TB part cardinality. The scale-safe shape is a LAZY
# localCheckpoint on the aggregate: one lineitem scan materializes it
# distributed, the 1-row total is broadcast back over it, and the
# filter stays map-side (BNLJ allowlisted as a 1-row scalar,
# tests/test_plans.py).
def q_tpch_q11_shape(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    filtered = li.join(s, li["l_suppkey"] == s["s_suppkey"]).join(
        F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]
    )
    per_part = (
        filtered.groupBy("l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("value"))
        .localCheckpoint(eager=False)
    )
    total = per_part.agg(F.sum("value").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("_total") * F.lit(0.001))
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), "l_partkey")
    )


Q_TPCH_Q11_SQL = """
WITH per_part AS (
  SELECT l.l_partkey, round(sum(l.l_extendedprice), 2) AS value
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
)
SELECT l_partkey, value
FROM per_part
QUALIFY value > sum(value) OVER () * 0.001
ORDER BY value DESC, l_partkey
"""


# TPC-H Q12 shape: shipping-priority classification. The testdata has
# no l_shipmode/commitdate/receiptdate, so "late" is adapted to
# l_shipdate > o_orderdate + 90 days and the grouping key is
# l_returnflag. One join + one conditional-count aggregate — both
# counts come out of a single pass (no per-branch scans).
def q_tpch_q12_shape(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .where(late)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q_TPCH_Q12_SQL = """
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


# TPC-H Q13 shape: customer order-count distribution — LEFT OUTER join
# (customers with zero orders must appear) followed by two stacked
# aggregations: orders-per-customer, then customers-per-count. The
# second groupBy is over an already-tiny result; only the first one
# shuffles real data, keyed on c_custkey.
def q_tpch_q13_shape(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q_TPCH_Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                    AND o.o_orderpriority <> '5-LOW'
  GROUP BY c.c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# TPC-H Q17 shape: small-quantity-order revenue — lineitems of one
# brand whose quantity is below 20% of that part's average quantity.
# The correlated scalar subquery decorrelates to a per-part aggregate
# joined back on l_partkey; the brand filter shrinks the part side to
# broadcast size and the per-part averages are computed only over the
# brand's lineitems (filter-before-aggregate, the plan Catalyst and
# DuckDB both produce for the SQL form).
def q_tpch_q17_shape(spark, sf_dir):
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    brand_li = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    avg_q = brand_li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_cut")
    )
    return (
        brand_li.join(F.broadcast(avg_q), F.col("l_partkey") == F.col("ap_key"))
        .where(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


Q_TPCH_Q17_SQL = """
WITH brand_li AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#23'
), avg_q AS (
  SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_cut
  FROM brand_li GROUP BY l_partkey
)
SELECT round(sum(b.l_extendedprice) / 7.0, 2) AS avg_yearly,
       count(*) AS n_lines
FROM brand_li b JOIN avg_q a ON b.l_partkey = a.l_partkey
WHERE b.l_quantity < a.qty_cut
"""


# TPC-H Q20 shape: suppliers who shipped a significant volume of a
# part family in a window — a chain of SEMI joins (partsupp-less
# adaptation: "availqty" becomes shipped quantity > 50). Each IN(...)
# of the SQL form is a left-semi join here; nothing from the inner
# sides is carried past its join, which is what keeps the chain
# narrow at scale.
def q_tpch_q20_shape(spark, sf_dir):
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%")).select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    shipped = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 40)
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2")
    return (
        s.join(shipped, s["s_suppkey"] == shipped["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"], "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


Q_TPCH_Q20_SQL = """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT l_suppkey FROM (
    SELECT l.l_partkey, l.l_suppkey, sum(l.l_quantity) AS qty
    FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_partkey, l.l_suppkey
  ) WHERE qty > 40
)
AND s.s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_2')
ORDER BY s.s_suppkey
"""


# TPC-H Q21 shape: suppliers who were the SOLE late shipper in a
# multi-supplier finished order. The classic EXISTS / NOT EXISTS pair
# decorrelates to per-order supplier counts (total distinct suppliers,
# distinct LATE suppliers) — one groupBy over lineitem⋈orders, then a
# filter n_supp >= 2 AND n_late_supp = 1 and a join back to the late
# rows. Same result set as the correlated form (the oracle keeps the
# EXISTS shape to pin the equivalence), one shuffle instead of three
# correlated scans.
def q_tpch_q21_shape(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    # pin the lineitem⋈orders subtree once (round 15, VERDICT r14 #5,
    # guide §5): `lo` feeds BOTH the per-order countDistinct aggregate
    # and the sole_late probe side, and un-pinned each consumer re-ran
    # the join (the sf0.1 plan had 5 `Scan parquet` nodes unpinned, 2
    # lineitem + 2 orders + supplier, and 1 pinned, supplier, beside 2
    # `Scan ExistingRDD` reads of the pin; check at any revision with
    # `git worktree add --detach DIR REV` and, in DIR,
    # `python -m bigdatagenomic_spark.cli query q_tpch_q21_shape
    # --explain --limit 0`). Lazy: the
    # query's single action materializes it once and both consumers
    # read the cached blocks — the q_dedup_minhash_pairs pattern; the
    # production analog is persisting the joined fact slice.
    lo = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .withColumn(
            "late",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .localCheckpoint(eager=False)
    )
    per_order = lo.groupBy(F.col("l_orderkey").alias("po_key")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    sole_late = (
        lo.where(F.col("late"))
        .join(
            per_order.where(
                (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
            ),
            F.col("l_orderkey") == F.col("po_key"),
            "left_semi",
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sole_late.join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


Q_TPCH_Q21_SQL = """
WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
  FROM lo GROUP BY l_orderkey
), sole_late AS (
  SELECT DISTINCT lo.l_orderkey, lo.l_suppkey
  FROM lo JOIN per_order p ON lo.l_orderkey = p.l_orderkey
  WHERE lo.late AND p.n_supp >= 2 AND p.n_late_supp = 1
)
SELECT s.s_suppkey, s.s_name, count(*) AS numwait
FROM sole_late sl JOIN supplier s ON sl.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s.s_suppkey
LIMIT 20
"""


# TPC-H Q22 shape: "global sales opportunity" — well-funded customers
# (acctbal above the positive-balance average, a 1-row broadcast
# scalar) with no RECENT orders (anti join; every testdata customer
# has some order, so the dormancy window makes the predicate
# non-trivial), counted per nation. The anti join is the plan's only
# wide edge and it's keyed on c_custkey; the date filter is pushed to
# the orders scan so the anti join's build side is already shrunk.
def q_tpch_q22_shape(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = c.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("cut")
    )
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("cut"))
        .join(o, F.col("c_custkey") == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


Q_TPCH_Q22_SQL = """
SELECT c.c_nationkey, count(*) AS numcust, round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
"""
